package graft.streaming

import org.apache.spark.sql.types._

import graft.{Engine, SparkSuite, TableSpec}

/** The reference DML ports as STATEMENTS: `INSERT INTO sink SELECT ...`
  * through `Engine.sql` either registers a continuous view on the
  * attached [[CdcSqlSession]] (dynamic sources — the reference's entry
  * point 1, README.md:342-345) or appends into a parquet table (static
  * targets). The flagship order_view statement is the reference's own
  * text (flink-ddl.sql:179-190) near-verbatim. */
class SqlInsertSpec extends SparkSuite {
  import spark.implicits._

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

  private var seqNo = 0L
  private def rec(table: String, env: String): (String, String, Long) = {
    seqNo += 1; (table, env, seqNo)
  }
  private def orderEnv(op: String, id: String, user: String, amount: Double,
      status: String, day: String, before: Option[String] = None): String = {
    val img = (st: String) =>
      s"""{"id":"$id","user_id":"$user","amount":$amount,
         |"ctime":"${day}T00:00:00Z","utime":"${day}T00:00:00Z",
         |"status":"$st","channel":"wechat"}""".stripMargin.replace("\n", "")
    val b = if (op == "c") "null" else img(before.getOrElse(status))
    val a = if (op == "d") "null" else img(status)
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$seqNo}"""
  }
  private def userEnv(op: String, id: String, name: String, age: Int): String = {
    val img = s"""{"id":"$id","name":"$name","age":$age,
                 |"ctime":"2021-01-01T00:00:00Z","utime":"2021-01-01T00:00:00Z"}"""
      .stripMargin.replace("\n", "")
    s"""{"before":${if (op == "c") "null" else img},
       |"after":${if (op == "d") "null" else img},
       |"op":"$op","ts_ms":$seqNo}""".stripMargin.replace("\n", "")
  }

  // reference flink-ddl.sql:179-190, near-verbatim (JOIN + backtick
  // dotted aliases); only the trailing semicolon differs
  private val orderViewStmt =
    """INSERT INTO order_view
      |SELECT orders.id id,
      |       orders.amount `order.amount`,
      |       orders.status `order.status`,
      |       orders.channel `order.channel`,
      |       users.name `user.name`,
      |       users.age `user.age`,
      |       orders.ctime ctime,
      |       orders.utime utime
      |FROM orders
      |JOIN users
      |ON orders.user_id = users.id;""".stripMargin

  test("reference order_view INSERT INTO ports as a continuous statement") {
    val engine = new Engine(spark)
    // the ES sink DDL analog: a catalog spec carrying the doc-id key
    engine.catalog.register(TableSpec("order_view",
      StructType(Seq(StructField("id", StringType))),
      primaryKey = Seq("id"),
      options = Map("connector" -> "elasticsearch-7", "index" -> "order_view")))

    val session = new CdcSqlSession(spark, sources).attachTo(engine)
    engine.sql(orderViewStmt)
    engine.sql(
      "INSERT INTO user_view SELECT id, name, age, ctime, utime FROM users;")
    assert(session.views.map(_.name) == Seq("order_view", "user_view"))

    val sink = new InMemoryUpsertSink
    val pipeline = session.pipeline(tmpDir("sqlins"), sink)

    pipeline.processBatch(Seq(
      rec("users", userEnv("c", "u1", "Alice", 30)),
      rec("orders", orderEnv("c", "o1", "u1", 100.0, "created", "2021-01-30")),
      rec("orders", orderEnv("c", "o2", "u1", 50.0, "created", "2021-01-31")))
      .toDF("table", "value", "seq"))

    val docs = sink.docs("order_view")
    assert(docs.keySet == Set("o1", "o2"))
    assert(docs("o1")("order.amount") == 100.0)
    assert(docs("o1")("user.name") == "Alice")
    assert(docs("o1")("user.age") == 30)
    assert(sink.docs("user_view")("u1")("name") == "Alice")

    // update flows through the join
    pipeline.processBatch(Seq(rec("orders",
      orderEnv("u", "o1", "u1", 100.0, "payed", "2021-01-30",
        before = Some("created")))).toDF("table", "value", "seq"))
    assert(sink.docs("order_view")("o1")("order.status") == "payed")

    // delete retracts the joined row
    pipeline.processBatch(Seq(rec("orders",
      orderEnv("d", "o2", "u1", 50.0, "created", "2021-01-31")))
      .toDF("table", "value", "seq"))
    assert(sink.docs("order_view").keySet == Set("o1"))

    // deleting the USER retracts every joined order (inner join) but
    // leaves the user_view delete too — generic SQL retraction, no
    // per-view code
    pipeline.processBatch(Seq(rec("users", userEnv("d", "u1", "Alice", 30)))
      .toDF("table", "value", "seq"))
    assert(sink.docs("order_view").isEmpty)
    assert(sink.docs("user_view").isEmpty)
  }

  test("a user-only batch re-emits every joined order with the new user.name") {
    val session = new CdcSqlSession(spark, sources)
    session.insertInto(orderViewStmt)
    val sink = new InMemoryUpsertSink
    val pipeline = session.pipeline(tmpDir("sqlins-rename"), sink)
    pipeline.processBatch(Seq(
      rec("users", userEnv("c", "u1", "Alice", 30)),
      rec("users", userEnv("c", "u2", "Bob", 40)),
      rec("orders", orderEnv("c", "o1", "u1", 100.0, "created", "2021-01-30")),
      rec("orders", orderEnv("c", "o2", "u1", 50.0, "created", "2021-01-31")),
      rec("orders", orderEnv("c", "o3", "u2", 70.0, "created", "2021-01-31")))
      .toDF("table", "value", "seq"))
    // the batch carries no order change, only the rename
    pipeline.processBatch(Seq(rec("users", userEnv("u", "u1", "Alicia", 30)))
      .toDF("table", "value", "seq"))
    assert(sink.docs("order_view").map { case (id, d) => id -> d("user.name") } ==
      Map("o1" -> "Alicia", "o2" -> "Alicia", "o3" -> "Bob"))
  }

  test("aggregate statement retracts groups that empty out") {
    val session = new CdcSqlSession(spark, sources,
      sinkKeys = Map("order_stats_view" -> Seq("cday")))
    session.insertInto(
      """INSERT INTO order_stats_view
        |SELECT date_format(ctime, 'yyyy-MM-dd') cday,
        |       SUM(amount) amount, COUNT(*) cnt
        |FROM orders WHERE status <> 'closed'
        |GROUP BY date_format(ctime, 'yyyy-MM-dd')""".stripMargin)

    val sink = new InMemoryUpsertSink
    val pipeline = session.pipeline(tmpDir("sqlagg"), sink)

    pipeline.processBatch(Seq(
      rec("orders", orderEnv("c", "a1", "u1", 10.0, "created", "2021-10-01")),
      rec("orders", orderEnv("c", "a2", "u2", 20.0, "created", "2021-10-01")))
      .toDF("table", "value", "seq"))
    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 30.0)

    pipeline.processBatch(Seq(rec("orders",
      orderEnv("u", "a1", "u1", 10.0, "closed", "2021-10-01",
        before = Some("created")))).toDF("table", "value", "seq"))
    assert(sink.docs("order_stats_view")("2021-10-01")("amount") == 20.0)

    // last live order closes -> the group's doc is DELETED
    pipeline.processBatch(Seq(rec("orders",
      orderEnv("u", "a2", "u2", 20.0, "closed", "2021-10-01",
        before = Some("created")))).toDF("table", "value", "seq"))
    assert(!sink.docs("order_stats_view").contains("2021-10-01"))
  }

  test("INSERT INTO a parquet-registered table appends (static path)") {
    val engine = new Engine(spark)
    engine.registerParquet("nation", "/root/testdata/sf0.001")
    val copyDir = tmpDir("nation-copy")
    engine.registerLike("nation_copy", "nation",
      Map("connector" -> "parquet", "path" -> copyDir))

    engine.sql("INSERT INTO nation_copy SELECT * FROM nation")
    val n = spark.sql("SELECT count(*) FROM nation").head().getLong(0)
    assert(spark.sql("SELECT count(*) FROM nation_copy").head().getLong(0) == n)

    // append semantics, like a second continuous batch landing
    engine.sql("INSERT INTO nation_copy SELECT * FROM nation")
    assert(spark.sql("SELECT count(*) FROM nation_copy").head().getLong(0) == 2 * n)
  }

  test("statements sharing an index apply in declared order within a batch") {
    val engine = new Engine(spark)
    def sinkTable(name: String, col: StructField, index: String): Unit =
      engine.catalog.register(TableSpec(name,
        StructType(Seq(StructField("id", StringType), col)),
        primaryKey = Seq("id"),
        options = Map("connector" -> "elasticsearch-7", "index" -> index)))
    sinkTable("young", StructField("name", StringType), "people")
    sinkTable("old", StructField("age", IntegerType), "people")
    sinkTable("names", StructField("name", StringType), "names")
    val session = new CdcSqlSession(spark, sources).attachTo(engine)
    engine.sql("INSERT INTO young SELECT id, name FROM users WHERE age < 50")
    engine.sql("INSERT INTO old SELECT id, age FROM users WHERE age >= 50")
    // another index, maintained concurrently with `people`
    engine.sql("INSERT INTO names SELECT id, name FROM users")

    val sink = new InMemoryUpsertSink
    val pipeline = session.pipeline(tmpDir("sqlins-order"), sink)
    pipeline.processBatch(Seq(
      rec("users", userEnv("c", "u1", "n-u1", 30)),
      rec("users", userEnv("c", "u2", "n-u2", 70))).toDF("table", "value", "seq"),
      Some(0L))
    assert(sink.docs("people") == Map(
      "u1" -> Map("name" -> "n-u1"), "u2" -> Map("age" -> 70)))

    // u1 crosses 50: `young` deletes it, then `old` upserts it; u2 crosses
    // back: `young` upserts it into the stored document, then `old`
    // deletes the whole document. Declared order decides both.
    pipeline.processBatch(Seq(
      rec("users", userEnv("u", "u1", "n-u1", 60)),
      rec("users", userEnv("u", "u2", "n-u2", 40))).toDF("table", "value", "seq"),
      Some(1L))
    assert(sink.docs("people") == Map("u1" -> Map("age" -> 60)))
    assert(sink.docs("names").keySet == Set("u1", "u2"))
  }

  private val orderViewSelect =
    """SELECT orders.id id, orders.amount amount, users.name name
      |FROM orders JOIN users ON orders.user_id = users.id""".stripMargin
  private val dayStatsSelect =
    """SELECT date_format(ctime, 'yyyy-MM-dd') cday, SUM(amount) amount,
      |       COUNT(*) cnt
      |FROM orders WHERE status <> 'closed'
      |GROUP BY date_format(ctime, 'yyyy-MM-dd')""".stripMargin

  /** A session with a join statement and an aggregate statement, each on
    * its own index. */
  private def joinAndAggSession(): CdcSqlSession = {
    val session = new CdcSqlSession(spark, sources,
      sinkKeys = Map("day_stats" -> Seq("cday")))
    session.insertInto(s"INSERT INTO order_names $orderViewSelect")
    session.insertInto(s"INSERT INTO day_stats $dayStatsSelect")
    session
  }

  /** Every index equals its statement run as a batch query over the
    * pipeline's final state. */
  private def assertSinkEqualsRecompute(pipeline: CdcPipeline,
      sink: InMemoryUpsertSink): Unit = {
    Seq("orders", "users").foreach(t =>
      pipeline.state(t).drop("key").createOrReplaceTempView(t))
    Seq("order_names" -> (orderViewSelect, "id"),
        "day_stats" -> (dayStatsSelect, "cday")).foreach {
      case (index, (select, key)) =>
        val expected = spark.sql(select).collect().map { r =>
          r.getAs[Any](key).toString ->
            r.schema.fieldNames.filter(_ != key).map(f => f -> r.getAs[Any](f)).toMap
        }.toMap
        assert(sink.docs(index).map { case (id, doc) => id -> (doc - key) } ==
          expected, s"index $index")
    }
  }

  private def batch0 = Seq(
    rec("users", userEnv("c", "u1", "Alice", 30)),
    rec("users", userEnv("c", "u2", "Bob", 40)),
    rec("orders", orderEnv("c", "a1", "u1", 10.0, "created", "2021-10-01")),
    rec("orders", orderEnv("c", "a2", "u2", 20.0, "created", "2021-10-01")),
    rec("orders", orderEnv("c", "a3", "u1", 5.0, "created", "2021-10-02")))
    .toDF("table", "value", "seq")
  private def batch1 = Seq(
    rec("orders", orderEnv("d", "a2", "u2", 20.0, "created", "2021-10-01")),
    rec("orders", orderEnv("u", "a3", "u1", 5.0, "closed", "2021-10-02",
      before = Some("created"))))
    .toDF("table", "value", "seq")
  private def batch2 = Seq(
    rec("orders", orderEnv("c", "a4", "u2", 7.0, "created", "2021-10-02")),
    rec("users", userEnv("d", "u1", "Alice", 30)))
    .toDF("table", "value", "seq")

  test("a batch processed twice with the same batchId leaves the sink identical") {
    val sink = new InMemoryUpsertSink
    val pipeline = joinAndAggSession().pipeline(tmpDir("sqlins-replay"), sink)
    pipeline.processBatch(batch0, Some(0L))
    val b1 = batch1
    pipeline.processBatch(b1, Some(1L))
    val docs = Seq("order_names", "day_stats").map(sink.docs)
    assert(!sink.docs("order_names").contains("a2"))
    assert(!sink.docs("day_stats").contains("2021-10-02"))

    pipeline.processBatch(b1, Some(1L))
    assert(Seq("order_names", "day_stats").map(sink.docs) == docs)
    assertSinkEqualsRecompute(pipeline, sink)
  }

  test("a batch whose sink throws does not advance the carried result") {
    val inner = new InMemoryUpsertSink
    @volatile var failDeletesOf: Option[String] = None
    val sink = new UpsertSink {
      override def upsert(index: String, df: org.apache.spark.sql.DataFrame): Unit =
        inner.upsert(index, df)
      override def delete(index: String, df: org.apache.spark.sql.DataFrame): Unit = {
        if (failDeletesOf.contains(index)) throw new RuntimeException("sink down")
        inner.delete(index, df)
      }
    }
    val pipeline = joinAndAggSession().pipeline(tmpDir("sqlins-sinkfail"), sink)
    pipeline.processBatch(batch0, Some(0L))
    assertSinkEqualsRecompute(pipeline, inner)

    // batch 1's merges commit and its upserts land, then the order
    // index's deletes fail: a2's retraction is lost for now
    val b1 = batch1
    failDeletesOf = Some("order_names")
    intercept[RuntimeException](pipeline.processBatch(b1, Some(1L)))
    assert(inner.docs("order_names").contains("a2"))

    // redelivery retracts it from the pre-batch state, and later batches
    // keep matching a batch recompute
    failDeletesOf = None
    pipeline.processBatch(b1, Some(1L))
    assert(!inner.docs("order_names").contains("a2"))
    assertSinkEqualsRecompute(pipeline, inner)
    pipeline.processBatch(batch2, Some(2L))
    assertSinkEqualsRecompute(pipeline, inner)
    assert(inner.docs("order_names").keySet == Set("a4"))
  }
}
