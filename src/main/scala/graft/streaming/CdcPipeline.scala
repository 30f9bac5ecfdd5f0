package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.{Concurrently, TableSpec}
import graft.cdc.{Debezium, Materializer}

/** Read access to the pipeline's materialized state, pinned to one
  * version per table (pre- or post-merge). `apply` keeps the plain
  * `pre("orders")` full-snapshot form; `rows` is the bucket-pruned
  * touched-keys lookup incremental views use so per-batch reads track
  * the batch, not the state size. `pin` names what a read sees — the
  * table's store and version — so a result computed over one pinned
  * state can be recognised when a later batch pins the same state. */
final class StateAccess(
    states: Map[String, ParquetKeyedTable],
    schema: String => StructType,
    versions: Map[String, Option[Int]]) {
  def apply(table: String): DataFrame =
    states(table).snapshotAt(versions(table), schema(table))
  def rows(table: String, keys: DataFrame): DataFrame =
    states(table).rowsForKeysAt(versions(table), schema(table), keys)
  def pin(table: String): (ParquetKeyedTable, Option[Int]) =
    (states(table), versions(table))
}

/** Batch-scoped context a view's maintenance runs under.
  *
  *  - `batchId`: the foreachBatch id, when the batch came from a stream —
  *    [[IncrementalAgg]]'s shapes thread it into every view-owned
  *    store's merge so a REDELIVERED batch (crash between per-store
  *    commits) replays idempotently ([[ParquetKeyedTable.merge]]).
  *  - `pin`: the per-batch replay pin — a store's pre-batch version,
  *    `store.versionBefore(batchId)` ([[ParquetKeyedTable.versionBefore]])
  *    recorded the first time the store is pinned in this batch. Every
  *    shape pins before it merges, so a pinned read made after the
  *    store's own merge still sees the pre-batch rows, with or without a
  *    batchId, and a redelivered batch reads the same pre-state and
  *    recomputes the same deltas.
  *  - `touched`: a source table's distinct touched keys in this batch,
  *    cached once on first use and shared by every view that asks.
  *  - `changedTables`: the source tables this batch carries changes for,
  *    from the pipeline's one stats pass — a view skips a batch that
  *    touches none of its tables without probing the changelogs.
  *  - `replay`: some source store already committed `batchId`, so this
  *    is a redelivery; views recompute rather than reuse results carried
  *    from earlier batches.
  *  - `defer`: registers cleanup (typically `unpersist()` of a frame the
  *    returned upserts/deletes still reference) to run AFTER the sink has
  *    consumed the view's output — releasing batch-scoped caches without
  *    forcing the sink to recompute their lineage. Runs whether or not
  *    the batch succeeded.
  *  - `cache`: the batch-scoped cache — persists a frame at
  *    MEMORY_AND_DISK (lineage kept: a lost executor recomputes) and
  *    `defer`s its unpersist, so a view's intermediate frames live
  *    exactly until the sink has consumed the batch.
  *  - `onCommit`: registers an action to run once EVERY sink write of the
  *    batch has returned, before the deferred cleanups; skipped when the
  *    batch fails. Views run concurrently, so every member may be
  *    called from several threads. */
final class BatchCtx(
    val batchId: Option[Long],
    val changedTables: Set[String],
    val replay: Boolean,
    changelogs: Map[String, DataFrame]) {
  private val commits = scala.collection.mutable.Buffer.empty[() => Unit]
  private val cleanups = scala.collection.mutable.Buffer.empty[() => Unit]
  private val touchedKeys = scala.collection.mutable.Map.empty[String, DataFrame]
  private val pins = scala.collection.mutable.Map.empty[ParquetKeyedTable, Option[Int]]
  def defer(f: => Unit): Unit = synchronized { cleanups += (() => f) }
  def cache(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    defer(df.unpersist())
    df
  }
  def touched(table: String): DataFrame = synchronized {
    touchedKeys.getOrElseUpdate(table,
      cache(changelogs(table).select("key").distinct()))
  }
  private[streaming] def pin(store: ParquetKeyedTable): Option[Int] =
    synchronized(pins.getOrElseUpdate(store, store.versionBefore(batchId)))
  def onCommit(f: => Unit): Unit = synchronized { commits += (() => f) }
  private[streaming] def commit(): Unit = synchronized(commits.toSeq).foreach(_())
  private[streaming] def close(): Unit = synchronized(cleanups.toSeq).foreach(_())
}

/** A continuously-maintained view: given the pre-batch state, post-batch
  * state, this batch's normalized changelog per table and the batch
  * context, emit the documents to upsert and the doc ids to delete. This
  * is the engine-side analog of one `INSERT INTO sink SELECT ...`
  * continuous job in the reference (README.md:342-345).
  *
  * `index` is the sink index the documents land in — several views may
  * share one index and have their fields partial-merged per doc id, the
  * reference's shared `user_view` index (flink-ddl.sql:143,165). Defaults
  * to the view name. */
final case class ViewDef(
    name: String,
    maintain: (StateAccess, StateAccess,
      Map[String, DataFrame], BatchCtx) => (DataFrame, DataFrame),
    index: String = null) {
  def sinkIndex: String = Option(index).getOrElse(name)
}

object ViewDef {

  /** A stateless per-row view: `report` maps the post-batch rows of
    * `table`'s touched keys (with their `key` column) to documents keyed
    * by `id`, and a touched key that yields no document (deleted, or
    * dropped by `report`) is retracted. O(|batch|) narrow work plus one
    * bucket-pruned state read; replay-idempotent, since the report is
    * deterministic in post-state and the sink upsert is keyed. */
  def perRow(name: String, table: String)(
      report: DataFrame => DataFrame): ViewDef =
    ViewDef(name, (_, post, _, ctx) => {
      val affected = ctx.touched(table)
      val upserts = report(post.rows(table, affected))
      val deletes = affected.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
}

/** The continuous-ETL runner — Spark-first re-expression of the
  * reference's Flink streaming topology (SURVEY §3 entry points 1-2):
  * one micro-batched stream of Debezium envelopes (multiple "topics"
  * distinguished by a `table` column, like a multi-topic Kafka subscribe)
  * drives, per batch:
  *
  *   1. decode (`from_json`) + normalize to (key, op, before, after,
  *      ts_ms, seq) per source table, from the input batch persisted
  *      once;
  *   2. one stats pass over the decoded changelogs: which tables the
  *      batch touches and which state buckets
  *      ([[ParquetKeyedTable.bucketOf]]) their keys land in — the only
  *      per-table facts the merges and the views' skip checks need, so
  *      neither probes the changelogs again;
  *   3. compact within the batch and MERGE into each touched table's
  *      materialized state ([[ParquetKeyedTable]]) — the *dynamic table*
  *      — the tables' merges running concurrently;
  *   4. re-derive each registered view for the AFFECTED KEYS ONLY and
  *      upsert/delete into the keyed sink.
  *
  * Step 4 runs like the reference's INSERT INTO jobs, each its own Flink
  * job beside the others (README.md:342-345): the views run concurrently,
  * grouped by sink index. Within one index the views keep their declared
  * order — each view's maintenance, upserts and deletes finish before
  * the next view of that index starts — so every document sees the same
  * sequence of operations as a sequential run (a delete by one view
  * followed by an upsert of the same id by the next lands the same way).
  * Worker threads carry the stream's Spark local properties (job group,
  * batch id) through `SQLExecution.withThreadLocalCaptured`, and every
  * task is awaited before [[processBatch]] returns or rethrows the first
  * failure.
  *
  * Affected-key recomputation is the semantically-safe mapping of Flink's
  * retraction streams onto micro-batches (SURVEY §7.2 step 4): an update
  * or delete on either join side, or a row leaving an aggregation group,
  * retracts exactly because the affected output keys are recomputed from
  * materialized state (and deleted when they produce no rows).
  *
  * Input stream schema: `table` STRING, `value` STRING (raw envelope
  * JSON), `seq` LONG (total order; Kafka offset in production).
  */
final class CdcPipeline(
    spark: SparkSession,
    sources: Seq[TableSpec],
    stateDir: String,
    sink: UpsertSink,
    views: Seq[ViewDef]) {

  private val byName = sources.map(s => s.name -> s).toMap
  private val states: Map[String, ParquetKeyedTable] =
    sources.map(s => s.name ->
      new ParquetKeyedTable(spark, s"$stateDir/${s.name}")).toMap

  /** Materialized-state schema: leading key + the row columns. */
  private def stateSchema(table: String): StructType =
    StructType(StructField("key", StringType) +:
      byName(table).schema.fields)

  /** Snapshot of a source's materialized dynamic table. */
  def state(table: String): DataFrame =
    states(table).snapshot(stateSchema(table))

  /** Bucket-pruned keyed lookup into a source's materialized state —
    * the read path external consumers (e.g. [[StreamingAnn.search]])
    * should use instead of filtering [[state]]: cost tracks the key set,
    * not the state size. */
  def stateRows(table: String, keys: DataFrame): DataFrame =
    states(table).rowsForKeys(stateSchema(table), keys)

  /** Process one micro-batch (also callable directly for deterministic
    * tests — foreachBatch calls exactly this, with its batchId).
    *
    * Exactly-once across the pipeline's stores WITHOUT a cross-store
    * atomic commit: every store commit records `batchId`
    * ([[ParquetKeyedTable.merge]]); pre-batch reads pin
    * `versionBefore(batchId)` so a REPLAYED batch — redelivered after a
    * crash that committed some stores but not others — recomputes the
    * exact same deltas against the exact same pre-state, already-committed
    * stores skip (idempotent-by-id) and missed stores converge. Sink
    * writes are deterministic functions of those pinned reads, so
    * re-upserting them is value-idempotent. */
  def processBatch(batch: DataFrame, batchId: Option[Long] = None): Unit = {
    // 1. decode + normalize per table (format from the spec options:
    //    MySQL struct envelopes by default, Mongo JSON-string envelopes
    //    for 'debezium-mongo' sources); cached with lineage KEPT
    //    (persist, not localCheckpoint): each frame is read for the state
    //    merge AND by every view, and on a cluster a lost executor must
    //    recompute the decode from the batch, not fail the query. The
    //    input is cached too, so the per-table filters scan it once.
    val input = batch.persist(StorageLevel.MEMORY_AND_DISK)
    val changelogs: Map[String, DataFrame] = sources.map { spec =>
      // a spec declared with a catalog-qualified Flink name keeps the
      // original as `qualified-name` metadata (Engine.createTable);
      // envelopes may label the table either way — Debezium topics are
      // typically db-qualified — so route on both
      val labels = spec.name +: spec.options.get("qualified-name").toSeq
      val raw = input.filter(col("table").isin(labels: _*))
      val normalized =
        if (spec.options.get("format").contains("debezium-mongo"))
          Debezium.normalizeMongo(raw.withColumn("env",
            Debezium.decode(col("value"), Debezium.mongoEnvelope,
              tolerant = false)))
        else
          Debezium.normalize(raw.withColumn("env",
            Debezium.decode(col("value"),
              Debezium.mysqlEnvelope(spec.schema))), spec.primaryKey)
      spec.name -> normalized.persist(StorageLevel.MEMORY_AND_DISK)
    }.toMap

    try {
      // 2. one pass over every changelog (it also fills their caches):
      //    the touched tables and each one's state buckets; a table
      //    absent here is untouched
      val touched: Map[String, Set[Int]] = changelogs.toSeq
        .map { case (table, changelog) =>
          changelog.select(lit(table), states(table).bucketOf(col("key")))
        }
        .reduceOption(_ union _).toSeq
        .flatMap(_.distinct().collect().toSeq)
        .groupMap(_.getString(0))(_.getInt(1))
        .map { case (table, buckets) => table -> buckets.toSet }

      // pre-merge snapshots stay valid (immutable version dirs) while the
      // merge commits the next version — pinned by VERSION, so pruned
      // lookups made after the merge still read pre-merge state; on a
      // batch REPLAY, versionBefore un-pins any table that already
      // committed this batch back to its pre-batch version
      val pre = new StateAccess(states, stateSchema,
        sources.map(s => s.name -> states(s.name).versionBefore(batchId)).toMap)
      val replay = batchId.exists(id => states.values.exists(_.lastBatchId.contains(id)))

      // 3. merge only touched tables, concurrently: a merge is a state
      //    rewrite (write amplification), and the stores commit
      //    independently (each idempotent by batchId)
      Concurrently(spark, touched.toSeq.map { case (table, buckets) => () =>
        val compacted = Materializer.compact(changelogs(table))
        val upserts = compacted.filter(col("op") =!= "d")
          .select(col("key") +: byName(table).schema.fieldNames.map(f =>
            col(s"after.$f").as(f)): _*)
        val deletes = compacted.filter(col("op") === "d").select("key")
        states(table).merge(upserts, deletes, batchId, Some(buckets))
      })

      val post = new StateAccess(states, stateSchema,
        sources.map(s => s.name -> states(s.name).version).toMap)

      // 4. maintain each view over affected keys: indexes concurrently,
      //    the views of one index in declared order
      val ctx = new BatchCtx(batchId, touched.keySet, replay, changelogs)
      try {
        val indexes = views.map(_.sinkIndex).distinct
        Concurrently(spark, indexes.map { index => () =>
          views.filter(_.sinkIndex == index).foreach { view =>
            val (upserts, deletes) = view.maintain(pre, post, changelogs, ctx)
            sink.upsert(index, upserts)
            sink.delete(index, deletes)
          }
        })
        ctx.commit()
      } finally ctx.close() // batch-scoped caches, once every sink write consumed them
    } finally {
      changelogs.values.foreach(_.unpersist())
      input.unpersist()
    }
  }

  /** Attach to a streaming DataFrame (kafka / MemoryStream / file) with
    * columns (table, value, seq) and run continuously. */
  def start(stream: DataFrame, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, Some(id)))
      .start()
}
