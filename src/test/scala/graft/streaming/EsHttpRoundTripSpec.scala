package graft.streaming

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach

import graft.{SparkSuite, TableSpec}

/** LIVE round-trips of [[EsBulkUpsertSink]] + [[HttpEsTransport]]
  * against an in-JVM HTTP server speaking the ES-7 bulk protocol
  * ([[EsHttpFixture]]) — the last seam of the sink stack that had only
  * ever seen a recording fake: a real TCP connection per bulk, posted
  * FROM EXECUTOR TASKS, response parsing, HTTP-level failure + bounded
  * retry, and `"errors":true` item-failure propagation. The stored
  * documents are asserted against [[InMemoryUpsertSink]] on identical
  * input — the HTTP path must implement the same partial-merge
  * contract the in-memory reference pins. */
class EsHttpRoundTripSpec extends SparkSuite with BeforeAndAfterEach {
  import spark.implicits._

  private var es: EsHttpFixture = _
  private var base: String = _

  override def beforeEach(): Unit = {
    es = new EsHttpFixture
    base = es.start()
  }
  override def afterEach(): Unit = es.stop()

  private def sink(maxBulkBytes: Int = 5 * 1024 * 1024) =
    new EsBulkUpsertSink(new HttpEsTransport(Seq(base)),
      maxBulkBytes = maxBulkBytes)

  test("upserts, shared-index partial merge and deletes over real HTTP " +
      "equal the in-memory reference sink") {
    val s = sink()
    val ref = new InMemoryUpsertSink
    // two "views" writing DIFFERENT column sets of the same documents —
    // the reference's shared user_view index (flink-ddl.sql:143,165)
    val viewA = Seq(("u1", "Alice", 30), ("u2", "Bo", 41))
      .toDF("id", "name", "age")
    val viewB = Seq(("u1", 100.0), ("u2", 50.0)).toDF("id", "total")
    for (snk <- Seq[UpsertSink](s, ref)) {
      snk.upsert("user_view", viewA)
      snk.upsert("user_view", viewB)
      snk.delete("user_view", Seq("u2").toDF("id"))
    }
    val httpDocs = es.docs("user_view")
      .map { case (id, d) => id -> d.filter(_._2 != null) }
    val refDocs = ref.docs("user_view").map { case (id, d) =>
      id -> d.map { case (k, v) => k -> (v match {
        case i: Int => i: Any // jackson parses small JSON ints as Int
        case other => other
      }) }.filter(_._2 != null)
    }
    assert(httpDocs.keySet == Set("u1"))
    assert(httpDocs == refDocs,
      "HTTP bulk path must merge exactly like the in-memory reference")
    assert(httpDocs("u1")("name") == "Alice" && httpDocs("u1")("total") == 100.0,
      "fields from both views must coexist in the shared index")
  }

  test("size-bounded bulks arrive as several HTTP posts; nothing drops") {
    val s = sink(maxBulkBytes = 256)
    val docs = (0 until 200).map(i => (s"d$i", s"content-$i"))
      .toDF("id", "body")
    s.upsert("docs", docs)
    assert(es.requests.get() > 1, "256-byte bound must split the bulk")
    assert(es.docs("docs").size == 200)
    assert(es.docs("docs")("d137")("body") == "content-137")
  }

  test("HTTP 503 is retried with backoff and converges") {
    es.failNextRequests(2) // first two posts fail at the HTTP layer
    val s = sink()
    s.upsert("idx", Seq(("a", 1)).toDF("id", "v"))
    assert(es.docs("idx").contains("a"),
      "bounded retry must survive transient unavailability")
    assert(es.requests.get() >= 3, "the failed posts must have been retried")
  }

  test("a response with item errors fails the write") {
    es.failItemsOfIndex(Some("bad"))
    val s = sink()
    intercept[Exception] {
      s.upsert("bad", Seq(("a", 1)).toDF("id", "v"))
    }
  }

  test("the CDC pipeline's order_view materializes into the HTTP store " +
      "and retracts through it") {
    val ordersSchema = StructType(Seq(
      StructField("id", StringType), StructField("user_id", StringType),
      StructField("amount", DoubleType), StructField("ctime", TimestampType),
      StructField("utime", TimestampType), StructField("status", StringType),
      StructField("channel", StringType)))
    val usersSchema = StructType(Seq(
      StructField("id", StringType), StructField("name", StringType),
      StructField("age", IntegerType), StructField("ctime", TimestampType),
      StructField("utime", TimestampType)))
    val pipeline = new CdcPipeline(spark,
      Seq(TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
        TableSpec("users", usersSchema, primaryKey = Seq("id"))),
      tmpDir("es-http-state"), sink(),
      ReferenceSql.views(spark, "order_view"))

    def ts(s: String) = s""""${s}T00:00:00Z""""
    pipeline.processBatch(Seq(
      ("users", s"""{"before":null,"after":{"id":"u1","name":"Alice","age":30,"ctime":${ts("2021-01-01")},"utime":${ts("2021-01-01")}},"op":"c","ts_ms":1}""", 1L),
      ("orders", s"""{"before":null,"after":{"id":"o1","user_id":"u1","amount":100.0,"ctime":${ts("2021-01-30")},"utime":${ts("2021-01-30")},"status":"created","channel":"wechat"},"op":"c","ts_ms":2}""", 2L))
      .toDF("table", "value", "seq"), Some(0L))
    assert(es.docs("order_view").contains("o1"))
    assert(es.docs("order_view")("o1")("user.name") == "Alice")
    assert(es.docs("order_view")("o1")("order.amount") == 100.0)

    // delete retracts through the REAL delete action
    pipeline.processBatch(Seq(
      ("orders", s"""{"before":{"id":"o1","user_id":"u1","amount":100.0,"ctime":${ts("2021-01-30")},"utime":${ts("2021-01-30")},"status":"created","channel":"wechat"},"after":null,"op":"d","ts_ms":3}""", 3L))
      .toDF("table", "value", "seq"), Some(1L))
    assert(!es.docs("order_view").contains("o1"),
      "deleted order must leave the HTTP-materialized view")
  }
}
