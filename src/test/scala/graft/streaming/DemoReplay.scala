package graft.streaming

import org.apache.spark.sql.types._

import graft.TableSpec
import graft.cdc.Fixtures

/** Runnable demo (Test/runMain graft.streaming.DemoReplay): stages the
  * reference's captured golden envelope (an order status flip closed→payed,
  * sample/cdc.orders.change-log-mysql.json:115-150) plus a scripted user
  * as a console-dump directory, replays it through the REAL source seam
  * (`readStream.format("graft-replay")` → [[graft.sources.KafkaCdc
  * .toCdcInput]] → the full continuous pipeline) and prints the sink
  * state. */
object DemoReplay {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("graft-demo")
    spark.sparkContext.setLogLevel("WARN")

    val ordersSchema = StructType(Seq(
      StructField("id", StringType), StructField("user_id", StringType),
      StructField("amount", DoubleType), StructField("ctime", TimestampType),
      StructField("utime", TimestampType), StructField("status", StringType),
      StructField("channel", StringType)))
    val usersSchema = StructType(Seq(
      StructField("id", StringType), StructField("name", StringType),
      StructField("age", IntegerType), StructField("ctime", TimestampType),
      StructField("utime", TimestampType)))

    val sink = new InMemoryUpsertSink
    val stateDir = java.nio.file.Files.createTempDirectory("demo-state").toString
    val pipeline = new CdcPipeline(spark,
      Seq(TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
        TableSpec("users", usersSchema, primaryKey = Seq("id"))),
      stateDir, sink,
      ReferenceSql.views(spark, "order_view", "user_order_stats_view"))

    val user =
      """{"before":null,"after":{"id":"1","name":"Walter","age":44,
        |"ctime":"2021-01-30T13:00:00Z","utime":"2021-01-30T13:00:00Z"},
        |"op":"c","ts_ms":1612153900000}""".stripMargin.replace("\n", "")
    // stage a console-dump directory: topic = file name minus extension
    // (users sorts before orders, so the dim loads first)
    val dump = java.nio.file.Files.createTempDirectory("demo-dump")
    java.nio.file.Files.write(dump.resolve("shard1.crm.users.jsonl"),
      (user + "\n").getBytes("UTF-8"))
    // the GOLDEN sample capture, verbatim (key/value doc pairing and
    // the envelope parse both exercised on the real bytes)
    java.nio.file.Files.write(dump.resolve("shard1.ec.orders.json"),
      Fixtures.read("cdc.orders.change-log-mysql.json").getBytes("UTF-8"))

    val query = pipeline.start(
      graft.sources.KafkaCdc.toCdcInput(
        spark.readStream.format("graft-replay")
          .option("path", dump.toString).load()),
      java.nio.file.Files.createTempDirectory("demo-ckpt").toString)
    query.processAllAvailable()

    println("== order_view ==")
    sink.docs("order_view").foreach { case (id, doc) => println(s"$id -> $doc") }
    println("== user_order_stats_view ==")
    sink.docs("user_order_stats_view").foreach { case (id, doc) => println(s"$id -> $doc") }
    query.stop()
    spark.stop()
  }
}
