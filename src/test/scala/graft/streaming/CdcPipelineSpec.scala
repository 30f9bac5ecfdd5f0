package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.types._

import graft.{SparkSuite, TableSpec}

/** End-to-end continuous queries over replayed Debezium envelopes —
  * SURVEY §7.3's minimum slice (Q4 `order_view`, the reference's flagship,
  * flink-ddl.sql:179-190) plus the retractive aggregation
  * `user_order_stats_view` (flink-ddl.sql:197-213): envelope decode →
  * changelog normalize → materialized state merge → affected-key view
  * maintenance → keyed upsert sink, including the retraction cases
  * (status→closed leaves the aggregates; deletes leave the join view).
  */
class CdcPipelineSpec extends SparkSuite {
  import spark.implicits._

  // reference table shapes: README.md:34-42 (ec.orders), :64-70 (crm.users)
  private val ordersSchema = StructType(Seq(
    StructField("id", StringType), StructField("user_id", StringType),
    StructField("amount", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType), StructField("status", StringType),
    StructField("channel", StringType)))
  private val usersSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("age", IntegerType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))

  // reference: flink-ddl.sql:21-31 (order_items)
  private val itemsSchema = StructType(Seq(
    StructField("id", StringType), StructField("order_id", StringType),
    StructField("product_id", StringType), StructField("quantity", LongType),
    StructField("price", DoubleType), StructField("amount", DoubleType),
    StructField("ctime", TimestampType), StructField("utime", TimestampType)))
  // reference: flink-mongodb.sql:1-15 (comments via debezium-mongo)
  private val commentsSchema = StructType(Seq(
    StructField("id", StringType), StructField("content", StringType)))
  // reference: flink-ddl.sql:42-58 (products)
  private val productsSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("price", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))

  private val sources = Seq(
    TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
    TableSpec("users", usersSchema, primaryKey = Seq("id")),
    TableSpec("order_items", itemsSchema, primaryKey = Seq("id")),
    TableSpec("products", productsSchema, primaryKey = Seq("id")),
    TableSpec("comments", commentsSchema, primaryKey = Seq("id"),
      options = Map("format" -> "debezium-mongo")))

  private var seqNo = 0L
  private def rec(table: String, env: String): (String, String, Long) = {
    seqNo += 1; (table, env, seqNo)
  }

  private def orderEnv(op: String, id: String, user: String, amount: Double,
      status: String, ctime: String, before: Option[String] = None): String = {
    val img = (st: String) =>
      s"""{"id":"$id","user_id":"$user","amount":$amount,
         |"ctime":"${ctime}T00:00:00Z","utime":"${ctime}T00:00:00Z",
         |"status":"$st","channel":"wechat"}""".stripMargin.replace("\n", "")
    val b = if (op == "c") "null" else img(before.getOrElse(status))
    val a = if (op == "d") "null" else img(status)
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
  }

  private def userEnv(op: String, id: String, name: String, age: Int): String = {
    val img = s"""{"id":"$id","name":"$name","age":$age,
                 |"ctime":"2021-01-01T00:00:00Z","utime":"2021-01-01T00:00:00Z"}"""
      .stripMargin.replace("\n", "")
    val b = if (op == "c") "null" else img
    val a = if (op == "d") "null" else img
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
  }

  test("order_view join + user_order_stats retraction, end to end") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state"), sink,
      ReferenceSql.views(spark, "order_view", "user_order_stats_view"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt"))

    def feed(recs: (String, String, Long)*): Unit = {
      stream.addData(recs)
      query.processAllAvailable()
    }

    // batch 1: a user and two orders on different days
    feed(
      rec("users", userEnv("c", "u1", "Alice", 30)),
      rec("orders", orderEnv("c", "o1", "u1", 100.0, "created", "2021-01-30")),
      rec("orders", orderEnv("c", "o2", "u1", 50.0, "created", "2021-01-31")))

    val docs1 = sink.docs("order_view")
    assert(docs1.keySet == Set("o1", "o2"))
    assert(docs1("o1")("user.name") == "Alice")
    assert(docs1("o1")("order.amount") == 100.0)
    assert(docs1("o1")("order.status") == "created")

    val stats1 = sink.docs("user_order_stats_view")
    assert(stats1.keySet == Set("u1|2021-01-30", "u1|2021-01-31"))
    assert(stats1("u1|2021-01-30")("order.amount.day") == 100.0)
    assert(stats1("u1|2021-01-30")("order.count.day") == 1L)

    // batch 2: o1 pays — join view updates in place
    feed(rec("orders",
      orderEnv("u", "o1", "u1", 100.0, "payed", "2021-01-30",
        before = Some("created"))))
    assert(sink.docs("order_view")("o1")("order.status") == "payed")
    assert(sink.docs("user_order_stats_view")
      .apply("u1|2021-01-30")("order.amount.day") == 100.0)

    // batch 3: o1 CANCELLED (status → closed) — the reference's retraction
    // case (flink-ddl.sql:208,213): the order must LEAVE the per-user/day
    // aggregates; its group has no other order, so the doc disappears
    feed(rec("orders",
      orderEnv("u", "o1", "u1", 100.0, "closed", "2021-01-30",
        before = Some("payed"))))
    assert(sink.docs("order_view")("o1")("order.status") == "closed",
      "order_view has no status filter; doc remains with closed status")
    assert(sink.docs("user_order_stats_view").keySet == Set("u1|2021-01-31"),
      "cancelled order must leave the aggregates")

    // batch 4: user rename — joined rows re-emit with the new name
    feed(rec("users", userEnv("u", "u1", "Alicia", 30)))
    assert(sink.docs("order_view")("o2")("user.name") == "Alicia")

    // batch 5: delete o2 — retracted from join view AND aggregates
    feed(rec("orders",
      orderEnv("d", "o2", "u1", 50.0, "created", "2021-01-31")))
    assert(!sink.docs("order_view").contains("o2"))
    assert(sink.docs("user_order_stats_view").isEmpty)

    // batch 6: delete the user — remaining joined rows retract (inner join)
    feed(rec("users", userEnv("d", "u1", "Alicia", 30)))
    assert(sink.docs("order_view").isEmpty)

    query.stop()
  }

  test("product_stats: fact-to-fact join agg retracts when the order closes") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state3"), sink,
      ReferenceSql.views(spark, "product_stats_view"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt3"))

    def itemEnv(op: String, id: String, order: String, product: String,
        qty: Long, amount: Double): String = {
      val img =
        s"""{"id":"$id","order_id":"$order","product_id":"$product",
           |"quantity":$qty,"price":1.0,"amount":$amount,
           |"ctime":"2021-02-01T00:00:00Z","utime":"2021-02-01T00:00:00Z"}"""
          .stripMargin.replace("\n", "")
      val b = if (op == "c") "null" else img
      val a = if (op == "d") "null" else img
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
    }

    def feed(recs: (String, String, Long)*): Unit = {
      stream.addData(recs); query.processAllAvailable()
    }

    // two orders, product p1 in both, p2 in one
    feed(
      rec("orders", orderEnv("c", "A", "u1", 10.0, "created", "2021-02-01")),
      rec("orders", orderEnv("c", "B", "u1", 20.0, "created", "2021-02-01")),
      rec("order_items", itemEnv("c", "i1", "A", "p1", 1, 5.0)),
      rec("order_items", itemEnv("c", "i2", "B", "p1", 2, 7.0)),
      rec("order_items", itemEnv("c", "i3", "B", "p2", 1, 3.0)))
    assert(sink.docs("product_stats_view")("p1")("amount") == 12.0)
    assert(sink.docs("product_stats_view")("p1")("quantity") == 2L)
    assert(sink.docs("product_stats_view")("p2")("amount") == 3.0)

    // order B closes → its items leave the cumulative stats (retraction
    // through the JOIN side, not the items themselves)
    feed(rec("orders", orderEnv("u", "B", "u1", 20.0, "closed", "2021-02-01",
      before = Some("created"))))
    assert(sink.docs("product_stats_view")("p1")("amount") == 5.0)
    assert(sink.docs("product_stats_view")("p1")("quantity") == 1L)
    assert(!sink.docs("product_stats_view").contains("p2"),
      "group with no surviving rows disappears")

    query.stop()
  }

  test("mongo-format source: JSON-string documents materialize by $oid") {
    val sink = new InMemoryUpsertSink
    val passthrough = ViewDef("comment_view", (pre, post, batch, ctx) => {
      val touched = batch("comments").select("key").distinct()
      val rows = post("comments")
        .join(touched, Seq("key"), "left_semi")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("content"))
      val deletes = touched
        .select(org.apache.spark.sql.functions.col("key").as("id"))
        .except(rows.select("id"))
      (rows, deletes)
    })
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state4"), sink,
      Seq(passthrough))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt4"))

    // the golden Mongo capture, verbatim (op c, content "c6")
    stream.addData(Seq(rec("comments", graft.cdc.Fixtures.mongoCommentsEnvelope)))
    query.processAllAvailable()

    val docs = sink.docs("comment_view")
    assert(docs.keySet == Set("6017849910fc61562a2f7854"))
    assert(docs("6017849910fc61562a2f7854")("content").toString.contains("\"c6\""))
    query.stop()
  }

  test("shared index: passthrough and totals views merge into one document") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state5"), sink,
      ReferenceSql.views(spark, "user_view", "user_totals"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt5"))

    stream.addData(Seq(
      rec("users", userEnv("c", "u7", "Carol", 28)),
      rec("orders", orderEnv("c", "oa", "u7", 30.0, "created", "2021-04-01")),
      rec("orders", orderEnv("c", "ob", "u7", 12.5, "created", "2021-04-02"))))
    query.processAllAvailable()

    // one document, fields from BOTH continuous queries (reference:
    // flink-ddl.sql:143,165 — two tables share the user_view index)
    val doc = sink.docs("user_view")("u7")
    assert(doc("name") == "Carol")
    assert(doc("order.amount.total") == 42.5)
    assert(doc("order.count.total") == 2L)

    query.stop()
  }

  test("parquet upsert sink: distributed keyed MERGE end to end") {
    val sink = new ParquetUpsertSink(spark, tmpDir("psink"))
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state6"), sink,
      ReferenceSql.views(spark, "order_view"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt6"))

    stream.addData(Seq(
      rec("users", userEnv("c", "u8", "Dave", 50)),
      rec("orders", orderEnv("c", "oc", "u8", 9.0, "created", "2021-05-01"))))
    query.processAllAvailable()
    stream.addData(Seq(
      rec("orders", orderEnv("u", "oc", "u8", 9.0, "payed", "2021-05-01",
        before = Some("created")))))
    query.processAllAvailable()

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    val docs = sink.docs("order_view", schema).collect()
    assert(docs.length == 1)
    val row = docs.head
    assert(row.getAs[String]("order.status") == "payed")

    // delete retracts from the parquet-backed index too
    stream.addData(Seq(
      rec("orders", orderEnv("d", "oc", "u8", 9.0, "payed", "2021-05-01"))))
    query.processAllAvailable()
    assert(sink.docs("order_view", schema).count() == 0)
    query.stop()
  }

  test("parquet sink: shared-index partial-document field merge") {
    import spark.implicits._
    val sink = new ParquetUpsertSink(spark, tmpDir("psink-shared"))
    // view 1 writes identity fields, view 2 writes totals — different
    // column sets into ONE index (the reference's shared user_view)
    sink.upsert("user_view", Seq(("u1", "Alice", 30)).toDF("id", "name", "age"))
    sink.upsert("user_view",
      Seq(("u1", 99.5, 3L), ("u2", 1.0, 1L)).toDF("id", "total", "cnt"))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    val docs = sink.docs("user_view", schema).collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    assert(docs.size == 2)
    // u1: fields from BOTH views merged into one document
    assert(docs("u1").getAs[String]("name") == "Alice")
    assert(docs("u1").getAs[Int]("age") == 30)
    assert(docs("u1").getAs[Double]("total") == 99.5)
    // u2: only view-2 fields; view-1 columns null
    assert(docs("u2").getAs[Double]("total") == 1.0)
    assert(docs("u2").isNullAt(docs("u2").fieldIndex("name")))

    // re-upsert from view 1 must NOT clobber view 2's fields
    sink.upsert("user_view", Seq(("u1", "Alicia", 31)).toDF("id", "name", "age"))
    val after = sink.docs("user_view", schema).collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    assert(after("u1").getAs[String]("name") == "Alicia")
    assert(after("u1").getAs[Double]("total") == 99.5)
  }

  test("order_view_items: COLLECT/LISTAGG docs merge into the shared order index") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state8"), sink,
      ReferenceSql.views(spark, "order_view", "order_view_items"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt8"))

    def itemEnv(op: String, id: String, order: String, product: String,
        qty: Long, amount: Double): String = {
      val img =
        s"""{"id":"$id","order_id":"$order","product_id":"$product",
           |"quantity":$qty,"price":2.5,"amount":$amount,
           |"ctime":"2021-02-01T00:00:00Z","utime":"2021-02-01T00:00:00Z"}"""
          .stripMargin.replace("\n", "")
      val b = if (op == "c") "null" else img
      val a = if (op == "d") "null" else img
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
    }

    stream.addData(Seq(
      rec("users", userEnv("c", "u6", "Faye", 27)),
      rec("orders", orderEnv("c", "oX", "u6", 99.0, "created", "2021-08-01")),
      rec("order_items", itemEnv("c", "j1", "oX", "p9", 1, 2.5)),
      rec("order_items", itemEnv("c", "j2", "oX", "p3", 4, 10.0))))
    query.processAllAvailable()

    // ONE document in the shared order_view index: join fields from
    // orderView + nested items from orderItemsView
    val doc = sink.docs("order_view")("oX")
    assert(doc("user.name") == "Faye")
    assert(doc("order.item_csv") == "p3,p9")
    val items = doc("order.items").asInstanceOf[scala.collection.Seq[_]]
    assert(items.length == 2)

    // deleting one item shrinks the nested doc; deleting all removes keys
    stream.addData(Seq(
      rec("order_items", itemEnv("d", "j2", "oX", "p3", 4, 10.0))))
    query.processAllAvailable()
    assert(sink.docs("order_view")("oX")("order.item_csv") == "p9")

    query.stop()
  }

  test("order_stats (day-keyed) and product_view complete the sink list") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state9"), sink,
      ReferenceSql.views(spark, "order_stats_view", "product_view"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt9"))

    def productEnv(op: String, id: String, name: String, price: Double): String = {
      val img = s"""{"id":"$id","name":"$name","price":$price,
                   |"ctime":"2021-09-01T00:00:00Z","utime":"2021-09-01T00:00:00Z"}"""
        .stripMargin.replace("\n", "")
      val b = if (op == "c") "null" else img
      val a = if (op == "d") "null" else img
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
    }

    stream.addData(Seq(
      rec("products", productEnv("c", "p1", "widget", 4.5)),
      rec("orders", orderEnv("c", "dA", "u1", 10.0, "created", "2021-09-01")),
      rec("orders", orderEnv("c", "dB", "u2", 20.0, "created", "2021-09-01")),
      rec("orders", orderEnv("c", "dC", "u1", 5.0, "created", "2021-09-02"))))
    query.processAllAvailable()

    assert(sink.docs("product_view")("p1")("name") == "widget")
    assert(sink.docs("order_stats_view")("2021-09-01")("amount") == 30.0)
    assert(sink.docs("order_stats_view")("2021-09-01")("cnt") == 2L)
    assert(sink.docs("order_stats_view")("2021-09-02")("amount") == 5.0)

    // cancel dB: the day's aggregates shrink (retraction)
    stream.addData(Seq(
      rec("orders", orderEnv("u", "dB", "u2", 20.0, "closed", "2021-09-01",
        before = Some("created")))))
    query.processAllAvailable()
    assert(sink.docs("order_stats_view")("2021-09-01")("amount") == 10.0)
    assert(sink.docs("order_stats_view")("2021-09-01")("cnt") == 1L)

    query.stop()
  }

  test("batch reprocessing is idempotent (micro-batch redelivery after failure)") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state7"), sink,
      ReferenceSql.views(spark, "order_view", "user_order_stats_view"))
    val batch = Seq(
      rec("users", userEnv("c", "u5", "Erin", 33)),
      rec("orders", orderEnv("c", "oz", "u5", 77.0, "created", "2021-07-01")))
      .toDF("table", "value", "seq")

    pipeline.processBatch(batch)
    val docs1 = sink.docs("order_view")
    val stats1 = sink.docs("user_order_stats_view")
    val state1 = pipeline.state("orders").collect().toSet

    // foreachBatch may redeliver a batch after a failure — replaying the
    // same records must not change state or sink contents
    pipeline.processBatch(batch)
    assert(sink.docs("order_view") == docs1)
    assert(sink.docs("user_order_stats_view") == stats1)
    assert(pipeline.state("orders").collect().toSet == state1)
  }

  test("crash between per-store commits: redelivery converges to once-applied") {
    // The silent-loss scenario of r3 VERDICT #2: source state commits a
    // batch, SOME views commit their ± agg stores, then the process dies
    // before the rest — foreachBatch redelivers the batch. Without
    // batchId-pinned pre-state the replay would see pre==post, compute
    // zero deltas, and the crashed views' running sums would be
    // permanently short. Here: view A (order_stats) commits batch 1, an
    // injected crash stops view B (user_order_stats) from ever seeing it,
    // and the replay must leave BOTH views exactly once-applied.
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("cdc-crash")
    val live = col("status") =!= "closed"
    val day = date_format(col("ctime"), "yyyy-MM-dd")
    val viewA = IncrementalAgg.view(spark, stateDir, "order_stats_view",
      "orders", IncrementalAgg.GroupSpec(Seq("g_day" -> day), live,
        col("amount")),
      toDoc = m => m.select(col("key").as("id"), col("amt").as("amount"),
        col("cnt")))
    val viewB = IncrementalAgg.view(spark, stateDir,
      "user_order_stats_view", "orders", IncrementalAgg.GroupSpec(
        Seq("g_user" -> col("user_id").cast("string"), "g_day" -> day),
        live, col("amount")),
      toDoc = m => m.select(col("key").as("id"),
        col("amt").as("order.amount.day"), col("cnt").as("order.count.day")))
    @volatile var crash = false
    // the pipeline runs sink indexes concurrently and the views of one
    // index in declared order: the tripwire shares view B's index, so a
    // crash there stops view B while view A's index completes
    val tripwire = ViewDef("tripwire", (pre, post, batch, ctx) => {
      if (crash) throw new RuntimeException("injected crash")
      (spark.emptyDataFrame.withColumn("id",
        org.apache.spark.sql.functions.lit("")).limit(0),
        spark.emptyDataFrame.withColumn("id",
          org.apache.spark.sql.functions.lit("")).limit(0))
    }, index = viewB.sinkIndex)
    val pipeline = new CdcPipeline(spark, sources, stateDir, sink,
      Seq(viewA, tripwire, viewB))

    // batch 0: clean — both agg stores seeded
    pipeline.processBatch(Seq(
      rec("orders", orderEnv("c", "cA", "u1", 10.0, "created", "2021-10-01")),
      rec("orders", orderEnv("c", "cB", "u2", 20.0, "created", "2021-10-01")))
      .toDF("table", "value", "seq"), batchId = Some(0L))
    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 30.0)
    assert(sink.docs("user_order_stats_view")("u1|2021-10-01")("order.amount.day") == 10.0)

    // batch 1: cB closes (retraction) + a new order — view A commits,
    // then the injected crash kills the batch before view B runs
    val batch1 = Seq(
      rec("orders", orderEnv("u", "cB", "u2", 20.0, "closed", "2021-10-01",
        before = Some("created"))),
      rec("orders", orderEnv("c", "cC", "u1", 5.0, "created", "2021-10-02")))
      .toDF("table", "value", "seq")
    crash = true
    intercept[RuntimeException] {
      pipeline.processBatch(batch1, batchId = Some(1L))
    }
    // view A applied batch 1, view B did not — the half-committed state
    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 10.0)
    assert(sink.docs("user_order_stats_view")
      .contains("u2|2021-10-01"), "view B never saw the retraction")

    // redelivery (same batchId): A's agg store skips (no double-apply),
    // B's applies — both converge to exactly once-applied
    crash = false
    pipeline.processBatch(batch1, batchId = Some(1L))

    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 10.0)
    assert(sink.docs("order_stats_view")("2021-10-01")("cnt") == 1L)
    assert(sink.docs("order_stats_view")("2021-10-02")("amount") == 5.0)
    assert(!sink.docs("user_order_stats_view").contains("u2|2021-10-01"),
      "view B's retraction lands on replay")
    assert(sink.docs("user_order_stats_view")("u1|2021-10-02")("order.amount.day") == 5.0)
    assert(sink.docs("user_order_stats_view")("u1|2021-10-01")("order.amount.day") == 10.0)

    // a SECOND redelivery (double replay) is still a fixpoint
    pipeline.processBatch(batch1, batchId = Some(1L))
    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 10.0)
    assert(sink.docs("user_order_stats_view")("u1|2021-10-02")("order.amount.day") == 5.0)
  }

  test("same-batch create+update collapses to the latest image (compaction)") {
    val sink = new InMemoryUpsertSink
    val pipeline = new CdcPipeline(spark, sources, tmpDir("cdc-state2"), sink,
      ReferenceSql.views(spark, "order_view"))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, String, Long)]
    val query = pipeline.start(
      stream.toDS().toDF("table", "value", "seq"), tmpDir("cdc-ckpt2"))

    stream.addData(Seq(
      rec("users", userEnv("c", "u9", "Bob", 41)),
      rec("orders", orderEnv("c", "o9", "u9", 10.0, "created", "2021-02-01")),
      rec("orders", orderEnv("u", "o9", "u9", 10.0, "payed", "2021-02-01",
        before = Some("created")))))
    query.processAllAvailable()

    assert(sink.docs("order_view")("o9")("order.status") == "payed")
    assert(pipeline.state("orders").count() == 1)
    query.stop()
  }
}
