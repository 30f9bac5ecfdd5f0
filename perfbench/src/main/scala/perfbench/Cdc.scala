package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, FlinkDialect}
import graft.cdc.Debezium
import graft.sources.KafkaCdc
import graft.streaming.{CdcPipeline, CdcSqlSession, EsBulkUpsertSink, SqlInsert, UpsertSink, ViewDef}

/** The reference shop behind the SQL front door: source and sink DDL,
  * then the seven `INSERT INTO` statements, registered on a
  * `CdcSqlSession` attached to an `Engine`. */
final class Shop(val spark: SparkSession) {
  val engine: Engine = Engine(spark)
  val session: CdcSqlSession =
    new CdcSqlSession(spark, engine.cdcSources).attachTo(engine)
  (RefSql.sources ++ RefSql.sinks).foreach(engine.sql)
  // the reference declares users without a PRIMARY KEY and lets Flink
  // key it by the Debezium message key — declare that key here
  engine.catalog.register(
    engine.catalog.get("users").get.copy(primaryKey = Seq("id")))
  RefSql.inserts.foreach { case (_, stmt) => engine.sql(stmt) }
}

/** Per-run measurement state of the CDC workloads. */
final class CdcProbe(val spark: SparkSession, val tracer: Tracer) {
  val rowsOut = new AtomicLong
  val deletesOut = new AtomicLong
  val planNs = new AtomicLong
  val execNs = new AtomicLong

  /** Planning phases of every action the pipeline runs — traced runs
    * only, like every other layer counter. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
      val plan = qe.tracker.phases.view
        .filterKeys(Set("analysis", "optimization", "planning"))
        .values.map(_.durationMs).sum * 1000000L
      planNs.addAndGet(plan)
      execNs.addAndGet(math.max(0L, ns - plan))
    }
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = ()
  }

  /** A statement's maintenance as one span, its outputs materialized
    * inside it so their compute is billed to the statement. */
  def wrap(v: ViewDef): ViewDef =
    ViewDef(v.name, (pre, post, batch, ctx) => {
      ctx.batchId.foreach(b => tracer.unit = s"batch-$b")
      tracer.span(spark, s"view.${v.name}") {
        val (u, d) = v.maintain(pre, post, batch, ctx)
        val (up, dp) = (u.persist(), d.persist())
        rowsOut.addAndGet(up.count())
        deletesOut.addAndGet(dp.count())
        ctx.defer { up.unpersist(); dp.unpersist() }
        (up, dp)
      }
    }, v.index)

  def timedSink(inner: UpsertSink): UpsertSink = new UpsertSink {
    override def upsert(index: String, df: DataFrame): Unit =
      tracer.span(spark, "sink.upsert")(inner.upsert(index, df))
    override def delete(index: String, df: DataFrame): Unit =
      tracer.span(spark, "sink.delete")(inner.delete(index, df))
  }
}

object Cdc {
  val tables: Seq[String] = Seq("users", "products", "orders", "order_items")

  /** Starts the user-facing pipeline: `graft-replay` source through
    * `KafkaCdc.toCdcInput` into `CdcPipeline.start`, writing through
    * `EsBulkUpsertSink` to a fresh stand-in index set. */
  def start(shop: Shop, probe: CdcProbe, dumpDir: Path, work: Path)
      : (StreamingQuery, String, Path) = {
    val spark = shop.spark
    val key = work.toString
    EsStandIn.drop(key)
    val es = new EsBulkUpsertSink(new EsStandIn(key))
    val stateDir = work.resolve("state")
    val pipeline =
      if (probe.tracer.on)
        new CdcPipeline(spark, shop.engine.cdcSources, stateDir.toString,
          probe.timedSink(es), shop.session.views.map(probe.wrap))
      else shop.session.pipeline(stateDir.toString, es)
    val stream = KafkaCdc.toCdcInput(spark.readStream.format("graft-replay")
      .option("path", dumpDir.toString).load())
    (pipeline.start(stream, work.resolve("checkpoint").toString), key, stateDir)
  }

  /** Batches that carried data, in order. */
  def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p =>
      p.durationMs.containsKey("addBatch") && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.get("triggerExecution").longValue
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.head.endOffset.trim.toLong
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim).filter(_ != "null")
      .map(_.toLong).getOrElse(0L)
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)

  // ---- correctness ----

  private def rows(m: CdcData.Model, table: String): Seq[Row] = {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def dec(v: Long) = new java.math.BigDecimal(v)
    table match {
      case "users" => m.users.values.map(u =>
        Row(u.id, u.name, u.age, ts(u.ctime), ts(u.utime))).toSeq
      case "products" => m.products.values.map(p =>
        Row(p.id, p.name, dec(p.price), ts(p.ctime), ts(p.utime))).toSeq
      case "orders" => m.orders.values.map(o =>
        Row(o.id, o.userId, dec(o.amount), o.status, o.channel, ts(o.ctime),
          ts(o.utime))).toSeq
      case "order_items" => m.items.values.map(i =>
        Row(i.id, i.orderId, i.productId, i.quantity, dec(i.price),
          dec(i.amount), ts(i.ctime), ts(i.utime))).toSeq
    }
  }

  type Index = Map[String, Map[String, Map[String, com.fasterxml.jackson.databind.JsonNode]]]

  /** Batch recompute of every statement over the model's final rows,
    * rendered the way the sink renders documents and merged per index
    * and id the way the shared ES indexes merge them. */
  def expected(shop: Shop, m: CdcData.Model): Index = {
    val spark = shop.spark
    tables.foreach { t =>
      val schema = shop.engine.catalog.get(t).get.schema
      spark.createDataFrame(spark.sparkContext.parallelize(rows(m, t), 4),
        schema).createOrReplaceTempView(t)
    }
    val out = mutable.Map.empty[String,
      mutable.Map[String, Map[String, com.fasterxml.jackson.databind.JsonNode]]]
    RefSql.inserts.foreach { case (target, stmt) =>
      val select = SqlInsert.parse(FlinkDialect.normalize(stmt)).get._2
      val spec = shop.engine.catalog.get(target).get
      val res = spark.sql(select).toDF(spec.schema.fieldNames.toIndexedSeq: _*)
      val keyed = res.withColumn("id",
        concat_ws("|", spec.primaryKey.map(c => col(c).cast("string")): _*))
      val docCols = keyed.columns.filter(_ != "id")
      val idx = out.getOrElseUpdate(spec.options("index"), mutable.Map.empty)
      keyed.select(col("id"),
        to_json(struct(docCols.map(c => col(s"`$c`")).toIndexedSeq: _*)))
        .collect().foreach { r =>
          val doc = Json.parse(r.getString(1)).fields().asScala
            .map(e => e.getKey -> e.getValue).toMap
          idx(r.getString(0)) = idx.getOrElse(r.getString(0), Map.empty) ++ doc
        }
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  def actual(key: String): Index =
    EsStandIn.state(key).docs.map { case (k, v) => k -> v.toMap }.toMap

  private def norm(field: String, v: com.fasterxml.jackson.databind.JsonNode)
      : String =
    if (RefSql.unorderedFields(field))
      v.asText().split(",").sorted.mkString(",")
    else v.toString

  /** (documents compared, documents that differ). */
  def compare(exp: Index, act: Index): (Long, Long, Seq[String]) = {
    var n = 0L; var bad = 0L
    val examples = mutable.ArrayBuffer.empty[String]
    (exp.keySet ++ act.keySet).toSeq.sorted.foreach { index =>
      val e = exp.getOrElse(index, Map.empty)
      val a = act.getOrElse(index, Map.empty)
      (e.keySet ++ a.keySet).foreach { id =>
        n += 1
        val same = (e.get(id), a.get(id)) match {
          case (Some(x), Some(y)) =>
            x.keySet == y.keySet && x.forall { case (f, v) => norm(f, v) == norm(f, y(f)) }
          case _ => false
        }
        if (!same) {
          bad += 1
          if (examples.size < 5)
            examples += s"$index/$id expected=${e.get(id)} actual=${a.get(id)}"
        }
      }
    }
    (n, bad, examples.toSeq)
  }

  /** Envelopes the decode drops over the whole dump (records minus
    * normalized rows), through the same `Debezium` calls the pipeline
    * makes. */
  def dropped(shop: Shop, dumpDir: Path): Long = {
    val spark = shop.spark
    val input = KafkaCdc.toCdcInput(
      spark.read.format("graft-replay").load(dumpDir.toString))
    val total = input.count()
    val kept = tables.map { t =>
      val spec = shop.engine.catalog.get(t).get
      Debezium.normalize(input.filter(col("table") === t)
        .withColumn("env", Debezium.decode(col("value"),
          Debezium.mysqlEnvelope(spec.schema))), spec.primaryKey).count()
    }.sum
    total - kept
  }

  /** Recursive (bytes, files) of a directory, hard links counted once. */
  def footprint(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val seen = mutable.HashSet.empty[Any]
    var bytes = 0L; var files = 0L
    val it = Files.walk(dir)
    try it.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val ino = Files.getAttribute(p, "unix:ino")
      if (seen.add(ino)) { bytes += Files.size(p); files += 1 }
    } finally it.close()
    (bytes, files)
  }
}
