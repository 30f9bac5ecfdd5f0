package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{SparkSuite, TableSpec}
import graft.streaming.{CdcPipeline, InMemoryUpsertSink, ReferenceSql}

/** The DSv2 replay source end to end (r11 VERDICT #1): offset-exact
  * batch planning over the reference's captured console dumps, admission
  * control, checkpoint restart — and the flagship `order_view` pipeline
  * driven through a REAL `spark.readStream.format(...)` with a mid-stream
  * kill, asserting the restarted query converges to the uninterrupted
  * run's sink state. */
class ReplaySourceSpec extends SparkSuite {

  private def write(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  // ——— golden console dumps, read from the reference at test time ———

  test("batch read replays the captured golden dumps with exact offsets") {
    val dir = tmpDir("replay-golden")
    // stage the two reference captures under production topic names
    // (<server>.<db>.<table>, README.md:133-150)
    write(dir, "shard1.ec.orders.json",
      graft.cdc.Fixtures.read("cdc.orders.change-log-mysql.json"))
    write(dir, "shard2.crawler.comments.json",
      graft.cdc.Fixtures.read("cdc.crawler.change-log-mongodb.json"))

    val df = spark.read.format("graft-replay").option("path", dir).load()
    assert(df.schema == ReplaySource.schema)

    val rows = df.orderBy("offset").collect()
    val nOrders =
      graft.cdc.Fixtures.envelopes("cdc.orders.change-log-mysql.json").size
    val nComments =
      graft.cdc.Fixtures.envelopes("cdc.crawler.change-log-mongodb.json").size
    assert(rows.length == nOrders + nComments)
    // offsets: one gapless global sequence in file-name order
    assert(rows.map(_.getAs[Long]("offset")).toSeq ==
      (0L until (nOrders + nComments)).toSeq)
    assert(rows.map(_.getAs[String]("topic")).toSeq ==
      Seq.fill(nOrders)("shard1.ec.orders") ++
        Seq.fill(nComments)("shard2.crawler.comments"))
    // every value is an envelope; console-dump key docs pair onto them
    assert(rows.forall(_.getAs[String]("value").contains("\"op\"")))
    assert(rows.exists(r => Option(r.getAs[String]("key"))
      .exists(_.contains("\"payload\""))),
      "mysql dump alternates key/value docs; keys must be paired")
    // the golden mysql envelope decodes through the same path S8 pins
    val decoded = graft.cdc.Debezium.decode(
      lit(rows.head.getAs[String]("value")),
      graft.cdc.Debezium.mysqlEnvelope(StructType(Seq(
        StructField("id", StringType), StructField("amount", DoubleType)))))
    val env = spark.range(1).select(decoded.as("env")).select("env.op").head()
    assert(env.getString(0) == "u")
  }

  test("admission control splits the replay into rate-limited batches") {
    val dir = tmpDir("replay-rate")
    write(dir, "t.events.jsonl",
      (1 to 7).map(i => s"""{"op":"c","n":$i}""").mkString("\n"))

    val batches = scala.collection.mutable.Buffer.empty[Seq[Long]]
    val q = spark.readStream.format("graft-replay")
      .option("path", dir).option("maxRecordsPerBatch", "3")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("replay-rate-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += b.select("offset").collect().map(_.getLong(0)).toSeq
        }; ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val sizes = batches.synchronized(batches.filter(_.nonEmpty).map(_.size))
    assert(sizes.toSeq == Seq(3, 3, 1),
      s"7 records at maxRecordsPerBatch=3 must plan 3+3+1, got $sizes")
    assert(batches.synchronized(batches.flatten.sorted.toSeq) ==
      (0L until 7L).toSeq)
  }

  test("restart resumes at the committed offset when the dump grows") {
    val dir = tmpDir("replay-grow")
    val ckpt = tmpDir("replay-grow-ckpt")
    write(dir, "seg.a.jsonl",
      (1 to 4).map(i => s"""{"op":"c","n":$i}""").mkString("\n"))

    val seen = scala.collection.mutable.Buffer.empty[(Long, Long)] // (offset, n)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-replay").option("path", dir)
        .load()
        .selectExpr("offset", "get_json_object(value, '$.n') AS n")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.collect().map(r => (r.getLong(0), r.getString(1).toLong))
          }; ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    drain()
    assert(seen.synchronized(seen.map(_._2).sorted.toSeq) == Seq(1L, 2, 3, 4))
    // a new file appended BETWEEN runs (name sorts after — the source's
    // append-only contract): the restarted query must emit ONLY it
    write(dir, "seg.b.jsonl",
      (5 to 6).map(i => s"""{"op":"c","n":$i}""").mkString("\n"))
    drain()
    val all = seen.synchronized(seen.toList)
    assert(all.map(_._2).sorted == (1L to 6L).toList,
      "restart must not re-emit records before the committed offset")
    assert(all.map(_._1).sorted == (0L until 6L).toList)
  }

  // ——— the flagship pipeline through the real source seam ———

  private val ordersSchema = StructType(Seq(
    StructField("id", StringType), StructField("user_id", StringType),
    StructField("amount", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType), StructField("status", StringType),
    StructField("channel", StringType)))
  private val usersSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("age", IntegerType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))
  private val sources = Seq(
    TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
    TableSpec("users", usersSchema, primaryKey = Seq("id")))

  private def orderEnv(op: String, id: String, user: String, amount: Double,
      status: String, day: String, before: String = null): String = {
    val img = (st: String) =>
      s"""{"id":"$id","user_id":"$user","amount":$amount,""" +
        s""""ctime":"${day}T00:00:00Z","utime":"${day}T00:00:00Z",""" +
        s""""status":"$st","channel":"wechat"}"""
    val b = if (op == "c") "null" else img(Option(before).getOrElse(status))
    val a = if (op == "d") "null" else img(status)
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":1612150000000}"""
  }
  private def userEnv(op: String, id: String, name: String, age: Int): String = {
    val img = s"""{"id":"$id","name":"$name","age":$age,""" +
      s""""ctime":"2021-01-01T00:00:00Z","utime":"2021-01-01T00:00:00Z"}"""
    val b = if (op == "c") "null" else img
    val a = if (op == "d") "null" else img
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":1612150000000}"""
  }

  /** A scripted day of CDC traffic: creates, a payment, a cancellation
    * (the retraction case), a rename, a delete. */
  private def stageDump(dir: String): Int = {
    write(dir, "shard1.crm.users.jsonl", Seq(
      userEnv("c", "u1", "Alice", 30),
      userEnv("c", "u2", "Bob", 41),
      userEnv("u", "u2", "Robert", 41)).mkString("\n"))
    write(dir, "shard1.ec.orders.jsonl", Seq(
      orderEnv("c", "o1", "u1", 100.0, "created", "2021-01-30"),
      orderEnv("c", "o2", "u1", 50.0, "created", "2021-01-31"),
      orderEnv("c", "o3", "u2", 70.0, "created", "2021-01-31"),
      orderEnv("u", "o1", "u1", 100.0, "payed", "2021-01-30",
        before = "created"),
      orderEnv("u", "o3", "u2", 70.0, "closed", "2021-01-31",
        before = "created"),
      orderEnv("d", "o2", "u1", 50.0, "created", "2021-01-31")).mkString("\n"))
    9
  }

  private def replayStream(dir: String, maxPerBatch: Long) =
    KafkaCdc.toCdcInput(spark.readStream.format("graft-replay")
      .option("path", dir)
      .option("maxRecordsPerBatch", maxPerBatch.toString)
      .load())

  private def sinkState(sink: InMemoryUpsertSink): Map[String, Map[String, Map[String, Any]]] =
    Map("order_view" -> sink.docs("order_view"),
      "user_order_stats_view" -> sink.docs("user_order_stats_view"))

  test("order_view via readStream: kill mid-stream, restart from checkpoint") {
    val dir = tmpDir("replay-flagship")
    val total = stageDump(dir)

    // — run A: uninterrupted, one batch, fresh everything —
    val sinkA = new InMemoryUpsertSink
    val pipeA = new CdcPipeline(spark, sources, tmpDir("replay-stateA"),
      sinkA, ReferenceSql.views(spark, "order_view", "user_order_stats_view"))
    val qA = pipeA.start(replayStream(dir, Long.MaxValue),
      tmpDir("replay-ckptA"))
    qA.processAllAvailable()
    qA.stop()
    val expected = sinkState(sinkA)
    assert(expected("order_view").keySet == Set("o1", "o3"),
      "o2 deleted; o1 payed and o3 closed remain in the unfiltered join view")
    assert(expected("user_order_stats_view").keySet == Set("u1|2021-01-30"),
      "o2 deleted and o3 closed leave the aggregates; only o1's day remains")

    // — run B: 2 records per micro-batch, killed mid-stream —
    val ckptB = tmpDir("replay-ckptB")
    val stateB = tmpDir("replay-stateB")
    val sinkB = new InMemoryUpsertSink
    val pipeB = new CdcPipeline(spark, sources, stateB, sinkB,
      ReferenceSql.views(spark, "order_view", "user_order_stats_view"))

    val q1 = pipeB.start(replayStream(dir, 2), ckptB)
    // let at least one micro-batch commit, then kill before the drain
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.recentProgress.length < 1 && System.nanoTime() < deadline)
      Thread.sleep(50)
    q1.stop()

    def offsetLogMax(ckpt: String): Long = {
      val d = Paths.get(ckpt, "offsets")
      if (!Files.isDirectory(d)) return -1L
      val ids = Files.list(d).iterator()
      var m = -1L
      ids.forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.forall(_.isDigit)) m = math.max(m, n.toLong)
      }
      m
    }
    val stoppedAtBatch = offsetLogMax(ckptB)
    assert(stoppedAtBatch >= 0, "at least one batch must have been planned")
    assert(stoppedAtBatch < (total + 1) / 2,
      s"kill must land mid-stream (batch $stoppedAtBatch of ${(total + 1) / 2})")

    // — restart: same checkpoint, same state dirs, same sink —
    val q2 = pipeB.start(replayStream(dir, 2), ckptB)
    q2.processAllAvailable()
    q2.stop()
    assert(offsetLogMax(ckptB) > stoppedAtBatch,
      "restart must CONTINUE the offset log, not restart it")
    assert(sinkState(sinkB) == expected,
      "restarted run must converge to the uninterrupted run's sink state")
  }
}
