package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Engine, TableSpec}

/** `INSERT INTO <sink> SELECT ...` as a STATEMENT launching a continuous
  * job — the reference's entry point 1 (README.md:342-345: every
  * `INSERT INTO` in flink-ddl.sql:179-259 starts an unbounded Flink job
  * writing one ES index). Here the statement registers a [[ViewDef]] on a
  * [[CdcPipeline]]; the pipeline's single micro-batched topology then
  * maintains every registered statement per batch.
  *
  * Maintenance strategy: generic PRE/POST RECOMPUTE-AND-DIFF. The SELECT
  * runs against the post-batch materialized state (upserts = its rows,
  * keyed by the sink's primary key) and against the pre-batch state
  * (rows whose key vanished become sink deletes) — retraction semantics
  * for ARBITRARY SQL (joins, aggregates, nesting) with zero per-statement
  * code. Batches that touch none of the statement's source tables are
  * skipped outright, decided from the pipeline's per-batch stats pass
  * ([[BatchCtx.changedTables]]) without a probe of the changelogs.
  *
  * Per batch, a statement that runs does this:
  *  - evaluates its SELECT over the post-batch state once, persisted, so
  *    the sink's upsert pass and the delete diff read one result;
  *  - takes the pre-batch result from the previous batch instead of
  *    evaluating the SELECT again: the post-batch result of the last
  *    batch whose sink writes ALL returned is carried, keyed by the
  *    pipeline's state stores and the versions it was computed over, and
  *    it is the pre-batch result exactly when this batch's pre-batch pins
  *    are those versions. The carry advances only after every sink write
  *    of the batch has returned ([[BatchCtx.onCommit]]), and a replayed
  *    batch ([[BatchCtx.replay]]), a new pipeline or any other pin
  *    recomputes the pre-batch result. One result per statement stays
  *    in the session's cache until the next batch replaces it;
  *  - runs beside the pipeline's other statements
  *    ([[CdcPipeline]] runs sink indexes concurrently, a shared index's
  *    statements in declared order). The temp-view bind and the analysis
  *    of the SELECT are serialized across statements: the bound names
  *    are session-global, and `spark.sql` analyzes eagerly, so a plan is
  *    resolved before another statement re-points the names.
  *
  * Scale note, stated honestly: per-batch cost is O(query-over-state),
  * not O(batch) — this is the semantic fallback that makes any statement
  * runnable, not the scale path. The carried result removes the
  * pre-batch half of that cost, not its order. The O(batch) forms in
  * this library are written per view on [[IncrementalAgg]]'s ± fold
  * and membership swap (the streaming `Streaming*` views); the
  * reference's own statements run here until a statement is lowered
  * to those forms, trading per-batch cost for generality exactly like
  * periodically-refreshed materialized views in a warehouse.
  */
object SqlInsert {

  private val Stmt =
    """(?is)^\s*INSERT\s+INTO\s+`?([\w.]+)`?\s+(SELECT\b[\s\S]*?)\s*;?\s*$""".r

  /** `INSERT INTO t <select>` → (t, select); None for any other statement. */
  def parse(stmt: String): Option[(String, String)] = stmt match {
    case Stmt(target, select) => Some((target, select))
    case _                    => None
  }

  /** Serializes the temp-view bind and analysis of concurrently
    * maintained statements. */
  private val bindLock = new Object

  private def emptyIds(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", StringType))))

  /** The source tables a SELECT references (unresolved relation names ∩
    * the pipeline's sources) — parsed once at registration, used to skip
    * batches that cannot change the view. */
  private def referencedTables(spark: SparkSession, select: String,
      sourceNames: Set[String]): Set[String] =
    spark.sessionState.sqlParser.parsePlan(select).collect {
      case r: UnresolvedRelation => r.multipartIdentifier.last
    }.toSet.intersect(sourceNames)

  /** Build the recompute-and-diff [[ViewDef]] for one statement. `idCols`
    * (the sink's primary key, reference flink-ddl.sql:96-109) key the
    * upserted documents; multi-column keys join with `|` like the
    * incremental views. Binds each referenced source name as a temp view
    * (the statement's FROM clause reads the materialized dynamic table
    * verbatim), so the session's view namespace for those names belongs
    * to the pipeline.
    *
    * `sinkCols` (the target table's declared column names, in order)
    * enables Flink's POSITIONAL insert mapping: `INSERT INTO t SELECT a,
    * b FROM ...` writes a into t's first column regardless of a's name
    * (the reference relies on this — flink-ddl.sql:125 inserts
    * `order_id` into the sink's `id`). When the select's arity matches,
    * columns are renamed positionally before keying; on arity mismatch
    * the names are left as-is (Flink would reject the statement — here
    * the primary-key resolution fails loudly instead). `index` overrides
    * the sink index the documents land in (the DDL's 'index' option —
    * several reference tables share one index, flink-ddl.sql:121,165). */
  def viewDef(spark: SparkSession, name: String, select: String,
      sourceNames: Seq[String], idCols: Seq[String] = Seq("id"),
      sinkCols: Seq[String] = Nil, index: String = null): ViewDef = {
    val referenced = referencedTables(spark, select, sourceNames.toSet).toSeq
    // the post-batch result of the last committed batch, with the pins
    // (store, version) of the state it was computed over
    val carried = new AtomicReference[Option[(Seq[(ParquetKeyedTable, Option[Int])], DataFrame)]](None)

    ViewDef(name, (pre, post, batch, ctx) => {
      if (referenced.nonEmpty && !referenced.exists(ctx.changedTables))
        (emptyIds(spark), emptyIds(spark))
      else {
        def run(state: StateAccess): DataFrame = {
          // "key" is pipeline bookkeeping, not a table column
          val bound = referenced.map(t => t -> state(t).drop("key"))
          val res = bindLock.synchronized {
            bound.foreach { case (t, df) => df.createOrReplaceTempView(t) }
            spark.sql(select)
          }
          val named =
            if (sinkCols.nonEmpty && res.columns.length == sinkCols.length)
              res.toDF(sinkCols: _*)
            else res
          named.withColumn("id",
            concat_ws("|", idCols.map(c => col(c).cast("string")): _*))
        }
        val result = run(post).persist()
        val preResult = carried.get match {
          case Some((pins, r)) if !ctx.replay && pins == referenced.map(pre.pin) => r
          case _ => run(pre)
        }
        // the sink gets a projection of the cached result, so a caller
        // unpersisting the frame it was handed cannot drop the carry
        val upserts = result.select("*")
        val deletes = preResult.select("id")
          .join(result.select("id"), Seq("id"), "left_anti")
        val postPins = referenced.map(post.pin)
        ctx.onCommit {
          carried.getAndSet(Some((postPins, result))).foreach(_._2.unpersist())
        }
        ctx.defer { if (!carried.get.exists(_._2 eq result)) result.unpersist() }
        (upserts, deletes)
      }
    }, index)
  }
}

/** One streaming SQL session: CDC source specs + the continuous
  * statements issued against them — the analog of a Flink sql-client
  * session submitting INSERT INTO jobs (reference README.md:342-346).
  * Statements accumulate as [[ViewDef]]s; [[pipeline]] builds the
  * micro-batch topology maintaining all of them. */
final class CdcSqlSession(
    spark: SparkSession,
    sources: => Seq[TableSpec],
    sinkKeys: Map[String, Seq[String]] = Map.empty) {
  // `sources` is by-name so the session can attach BEFORE a DDL script
  // runs: the reference's flink-ddl.sql interleaves INSERT INTO with
  // later CREATE TABLE statements, and each registration/pipeline build
  // must see the catalog as of ITS statement, not construction time.

  private val defs = mutable.Buffer.empty[ViewDef]

  private def register(target: String, select: String, pk: Seq[String],
      sinkCols: Seq[String] = Nil, index: String = null): Unit =
    defs += SqlInsert.viewDef(spark, target, select,
      sources.map(_.name), pk, sinkCols, index)

  /** Issue one `INSERT INTO sink SELECT ...` statement. */
  def insertInto(stmt: String): Unit = {
    val (target, select) = SqlInsert.parse(stmt).getOrElse(
      throw new IllegalArgumentException(s"not an INSERT INTO: $stmt"))
    register(target, select, sinkKeys.getOrElse(target, Seq("id")))
  }

  /** Wire this session behind an [[Engine]]'s SQL front door: INSERT
    * INTO statements whose target is not a parquet table register here,
    * keyed by the target's catalog primary key (the reference's ES sink
    * DDL PRIMARY KEY, flink-ddl.sql:96-109), mapped positionally to the
    * target's declared columns, and routed to the target's declared
    * 'index' option (shared-index merge, flink-ddl.sql:121,165). */
  def attachTo(engine: Engine): this.type = {
    engine.onContinuousInsert { (target, select) =>
      val spec = engine.catalog.get(target)
      val pk = spec.map(_.primaryKey)
        .filter(_.nonEmpty)
        .orElse(sinkKeys.get(target))
        .getOrElse(Seq("id"))
      register(target, select, pk,
        spec.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
        spec.flatMap(_.options.get("index")).orNull)
    }
    this
  }

  def views: Seq[ViewDef] = defs.toSeq

  /** Build the pipeline maintaining every issued statement. */
  def pipeline(stateDir: String, sink: UpsertSink): CdcPipeline =
    new CdcPipeline(spark, sources, stateDir, sink, views)
}
