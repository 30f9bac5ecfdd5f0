package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkSuite, TableSpec}

/** SURVEY §5.5 at the pipeline level: for RANDOM op sequences split into
  * random micro-batches, the incrementally-maintained sink state must
  * equal the batch recompute over the final materialized inputs —
  * changelog-maintenance ⊕ materialize ≡ compact ⊕ query. This pins the
  * affected-key recomputation (retraction) machinery, not just the
  * materializer. */
class PipelinePropertySpec extends SparkSuite {
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

  private val itemsSchema = StructType(Seq(
    StructField("id", StringType), StructField("order_id", StringType),
    StructField("product_id", StringType), StructField("quantity", LongType),
    StructField("price", DoubleType), StructField("amount", DoubleType),
    StructField("ctime", TimestampType), StructField("utime", TimestampType)))

  private case class Ev(table: String, op: String, id: String,
      user: String, amount: Double, status: String)

  private val genEv: Gen[Ev] = for {
    kind <- Gen.frequency(5 -> "orders", 2 -> "users", 3 -> "order_items")
    op <- Gen.frequency(4 -> "c", 4 -> "u", 1 -> "d")
    oid <- Gen.oneOf("o1", "o2", "o3", "o4")
    iid <- Gen.oneOf("i1", "i2", "i3", "i4", "i5")
    pid <- Gen.oneOf("p1", "p2")
    uid <- Gen.oneOf("u1", "u2")
    amt <- Gen.choose(1, 50).map(_.toDouble)
    st <- Gen.oneOf("created", "payed", "closed")
  } yield kind match {
    case "orders" => Ev("orders", op, oid, uid, amt, st)
    case "users" => Ev("users", op, uid, uid, 0.0, "")
    // item: id=iid, "user" field reused as order_id, status as product_id
    case _ => Ev("order_items", op, iid, oid, amt, pid)
  }

  private def envelope(e: Ev, seq: Long): (String, String, Long) = {
    val img = e.table match {
      case "orders" =>
        s"""{"id":"${e.id}","user_id":"${e.user}","amount":${e.amount},
           |"ctime":"2021-06-01T00:00:00Z","utime":"2021-06-01T00:00:00Z",
           |"status":"${e.status}","channel":"app"}"""
          .stripMargin.replace("\n", "")
      case "order_items" =>
        s"""{"id":"${e.id}","order_id":"${e.user}","product_id":"${e.status}",
           |"quantity":2,"price":1.5,"amount":${e.amount},
           |"ctime":"2021-06-01T00:00:00Z","utime":"2021-06-01T00:00:00Z"}"""
          .stripMargin.replace("\n", "")
      case _ =>
        s"""{"id":"${e.id}","name":"name-${e.id}","age":30,
           |"ctime":"2021-06-01T00:00:00Z","utime":"2021-06-01T00:00:00Z"}"""
          .stripMargin.replace("\n", "")
    }
    val b = if (e.op == "c") "null" else img
    val a = if (e.op == "d") "null" else img
    (e.table, s"""{"before":$b,"after":$a,"op":"${e.op}","ts_ms":$seq}""", seq)
  }

  test("random batched changelogs: incremental order_view == batch recompute") {
    val gen = Gen.nonEmptyListOf(genEv)
    var seed = Seed(7L)
    (1 to 5).foreach { trial =>
      val evs = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next

      val sink = new InMemoryUpsertSink
      val pipeline = new CdcPipeline(spark,
        Seq(TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
          TableSpec("users", usersSchema, primaryKey = Seq("id")),
          TableSpec("order_items", itemsSchema, primaryKey = Seq("id"))),
        tmpDir(s"prop-state-$trial"), sink,
        ReferenceSql.views(spark, "order_view", "user_order_stats_view",
          "product_stats_view") :+
          // own index here: in the shared index a doc delete from either
          // view removes the other's fields too (real ES semantics,
          // covered deterministically in CdcPipelineSpec) — random
          // sequences would make the clobbering order part of the truth
          ReferenceSql.view(spark, "order_view_items",
            index = "order_view_items"))

      val records = evs.zipWithIndex.map { case (e, i) =>
        envelope(e, i.toLong)
      }
      // split into 3 micro-batches at arbitrary points
      val batches = records.grouped(math.max(records.size / 3, 1)).toSeq
      batches.foreach { b =>
        pipeline.processBatch(b.toDF("table", "value", "seq"))
      }

      // ground truth: batch join/agg over the FINAL materialized inputs
      val orders = pipeline.state("orders")
      val users = pipeline.state("users")
      val expectedView = orders.join(users,
        orders("user_id") === users("id"))
        .select(orders("key"), orders("status"))
        .as[(String, String)].collect().toMap
      val gotView = sink.docs("order_view")
        .map { case (k, d) => k -> d("order.status").toString }
      assert(gotView == expectedView, s"order_view trial $trial evs=$evs")

      val expectedStats = orders.filter(col("status") =!= "closed")
        .groupBy(col("user_id"),
          date_format(col("ctime"), "yyyy-MM-dd").as("cday"))
        .agg(sum("amount").as("amt"), count(lit(1)).as("cnt"))
        .select(concat_ws("|", col("user_id"), col("cday")),
          col("amt"), col("cnt"))
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotStats = sink.docs("user_order_stats_view")
        .map { case (k, d) => k ->
          ((d("order.amount.day").asInstanceOf[Double],
            d("order.count.day").asInstanceOf[Long])) }
      assert(gotStats == expectedStats, s"stats trial $trial evs=$evs")

      // product_stats ground truth: items ⋈ live orders per product
      val items = pipeline.state("order_items")
      val liveOrders = orders.filter(col("status") =!= "closed")
        .select(orders("key").as("o_key"))
      val expectedProducts = items
        .join(liveOrders, items("order_id") === col("o_key"))
        .groupBy("product_id")
        .agg(count(lit(1)).as("q"), sum("amount").as("a"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotProducts = sink.docs("product_stats_view")
        .map { case (k, d) => k ->
          ((d("quantity").asInstanceOf[Long],
            d("amount").asInstanceOf[Double])) }
      assert(gotProducts == expectedProducts, s"products trial $trial evs=$evs")

      // order_view_items ground truth: per-order sorted item csv
      val expectedItemDocs = items
        .groupBy("order_id")
        .agg(array_join(array_sort(
          collect_list(col("product_id").cast("string"))), ",").as("csv"))
        .as[(String, String)].collect().toMap
      val gotItemDocs = sink.docs("order_view_items")
        .map { case (k, d) => k -> d("order.item_csv").toString }
      assert(gotItemDocs == expectedItemDocs, s"item docs trial $trial evs=$evs")
    }
  }

  test("random batched changelogs: incremental ± aggregation == batch recompute") {
    val gen = Gen.nonEmptyListOf(genEv)
    var seed = Seed(23L)
    (1 to 5).foreach { trial =>
      val evs = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next

      val sink = new InMemoryUpsertSink
      val stateDir = tmpDir(s"inc-state-$trial")
      val pipeline = new CdcPipeline(spark,
        Seq(TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
          TableSpec("users", usersSchema, primaryKey = Seq("id")),
          TableSpec("order_items", itemsSchema, primaryKey = Seq("id"))),
        stateDir, sink,
        Seq(IncrementalAgg.userOrderStats(spark, stateDir),
          IncrementalAgg.orderStats(spark, stateDir),
          IncrementalAgg.productStats(spark, stateDir),
          // own index: determinism, as above
          IncrementalAgg.userTotals(spark, stateDir).copy(index = null)))

      val records = evs.zipWithIndex.map { case (e, i) => envelope(e, i.toLong) }
      val batches = records.grouped(math.max(records.size / 3, 1)).toSeq
      batches.foreach { b =>
        pipeline.processBatch(b.toDF("table", "value", "seq"))
      }

      val orders = pipeline.state("orders")
      val live = orders.filter(col("status") =!= "closed")

      val expectedStats = live
        .groupBy(col("user_id"),
          date_format(col("ctime"), "yyyy-MM-dd").as("cday"))
        .agg(sum("amount").as("amt"), count(lit(1)).as("cnt"))
        .select(concat_ws("|", col("user_id"), col("cday")),
          col("amt"), col("cnt"))
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotStats = sink.docs("user_order_stats_view")
        .map { case (k, d) => k ->
          ((d("order.amount.day").asInstanceOf[Double],
            d("order.count.day").asInstanceOf[Long])) }
      assert(gotStats == expectedStats, s"inc stats trial $trial evs=$evs")

      val expectedDay = live
        .groupBy(date_format(col("ctime"), "yyyy-MM-dd").as("cday"))
        .agg(sum("amount").as("amt"), count(lit(1)).as("cnt"))
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotDay = sink.docs("order_stats_view")
        .map { case (k, d) => k ->
          ((d("amount").asInstanceOf[Double], d("cnt").asInstanceOf[Long])) }
      assert(gotDay == expectedDay, s"inc day stats trial $trial evs=$evs")

      val expectedTotals = live
        .groupBy(col("user_id"))
        .agg(sum("amount").as("amt"), count(lit(1)).as("cnt"))
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotTotals = sink.docs("user_totals")
        .map { case (k, d) => k ->
          ((d("order.amount.total").asInstanceOf[Double],
            d("order.count.total").asInstanceOf[Long])) }
      assert(gotTotals == expectedTotals, s"inc totals trial $trial evs=$evs")

      val items = pipeline.state("order_items")
      val liveOrders = live.select(orders("key").as("o_key"))
      val expectedProducts = items
        .join(liveOrders, items("order_id") === col("o_key"))
        .groupBy("product_id")
        .agg(count(lit(1)).as("q"), sum("amount").as("a"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotProducts = sink.docs("product_stats_view")
        .map { case (k, d) => k ->
          ((d("quantity").asInstanceOf[Long],
            d("amount").asInstanceOf[Double])) }
      assert(gotProducts == expectedProducts, s"inc products trial $trial evs=$evs")
    }
  }
}
