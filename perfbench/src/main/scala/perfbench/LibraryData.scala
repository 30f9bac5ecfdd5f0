package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch library's ten input tables (TPC-H-shaped star schema plus
  * `events`, `documents` and `embeddings`), in the schemas the library's
  * queries read, at a small scale. Every value is a hash of the row's id
  * and a fixed data seed, so the tables do not depend on how Spark
  * partitions the generation. */
object LibraryData {
  final case class Scale(customers: Int, suppliers: Int, parts: Int,
      orders: Int, lineitems: Int, events: Int, documents: Int,
      embeddings: Int)

  val Small = Scale(customers = 150, suppliers = 10, parts = 200,
    orders = 1500, lineitems = 6000, events = 1000, documents = 500,
    embeddings = 500)

  private val DataSeed = 42L

  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "query", "customer", "stream", "group", "filter", "vector")
  private val adjectives = Seq("small", "large", "red", "blue", "hot",
    "cold", "old", "new")
  private val nouns = Seq("bolt", "gear", "ring", "rod", "plate", "widget",
    "anvil", "gizmo")

  /** Uniform integer in [0, n) from (column, salt). */
  private def h(c: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(c, lit(DataSeed), lit(salt)), lit(n))
  private def pick(c: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(c, salt, xs.size) + 1).cast("int"))
  private def money(c: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + h(c, salt, ((hi - lo) * 100).toLong) / 100.0, 2)
  private def day(base: String, c: Column, salt: Int, days: Int): Column =
    timestamp_seconds(unix_timestamp(lit(base).cast("timestamp")) +
      h(c, salt, days) * 86400L)

  def tables(spark: SparkSession, s: Scale): Seq[(String, DataFrame)] = {
    def ids(n: Long) = spark.range(0, n, 1, 1).withColumnRenamed("id", "k")
    val k = col("k")
    Seq(
      "region" -> ids(5).select(k.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (k + 1).cast("int")).as("r_name")),
      "nation" -> ids(25).select(k.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), k).as("n_name"),
        (k % 5).cast("int").as("n_regionkey")),
      "customer" -> ids(s.customers).select(k.as("c_custkey"),
        format_string("Customer#%09d", k).as("c_name"),
        h(k, 1, 25).cast("int").as("c_nationkey"),
        money(k, 2, -999.99, 9999.99).as("c_acctbal"),
        pick(k, 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
          "FURNITURE")).as("c_mktsegment")),
      "supplier" -> ids(s.suppliers).select(k.as("s_suppkey"),
        format_string("Supplier#%09d", k).as("s_name"),
        h(k, 4, 25).cast("int").as("s_nationkey"),
        money(k, 5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids(s.parts).select(k.as("p_partkey"),
        concat_ws(" ", pick(k, 6, adjectives), pick(k, 7, nouns)).as("p_name"),
        concat(lit("Brand#"), h(k, 8, 25) + 1).as("p_brand"),
        pick(k, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
          "PROMO")).as("p_type"),
        (h(k, 10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (k % 1000) / 10.0).as("p_retailprice")),
      "orders" -> ids(s.orders).select(k.as("o_orderkey"),
        h(k, 11, s.customers).as("o_custkey"),
        pick(k, 12, Seq("P", "O", "F")).as("o_orderstatus"),
        money(k, 13, 1000.0, 500000.0).as("o_totalprice"),
        day("1995-01-01", k, 14, 2404).as("o_orderdate"),
        pick(k, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> ids(s.lineitems).select(
        h(k, 16, s.orders).as("l_orderkey"),
        h(k, 17, s.parts).as("l_partkey"),
        h(k, 18, s.suppliers).as("l_suppkey"),
        (h(k, 19, 7) + 1).cast("int").as("l_linenumber"),
        (h(k, 20, 50) + 1).cast("double").as("l_quantity"),
        money(k, 21, 900.0, 105000.0).as("l_extendedprice"),
        (h(k, 22, 11) / 100.0).as("l_discount"),
        (h(k, 23, 9) / 100.0).as("l_tax"),
        pick(k, 24, Seq("A", "N", "R")).as("l_returnflag"),
        pick(k, 25, Seq("O", "F")).as("l_linestatus"),
        day("1995-01-02", k, 26, 2498).as("l_shipdate")),
      "events" -> ids(s.events).select(k.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + k * (2592000000000L / s.events) +
          h(k, 27, 1000000L)).as("ts"),
        h(k, 28, 50).as("user_id"),
        pick(k, 29, Seq("click", "signup", "error", "view", "purchase"))
          .as("event_type"),
        money(k, 30, 0.01, 490.02).as("value"),
        format_string("{\"k\": %d}", h(k, 31, 100)).as("props")),
      "documents" -> {
        // every tenth document repeats its predecessor plus one word, so
        // the near-duplicate operators have pairs to find
        val base = when(k % 10 === 9, k - 1).otherwise(k)
        val text = concat_ws(" ", transform(
          sequence(lit(1), lit(8) + h(base, 32, 72).cast("int")),
          i => element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(base, lit(DataSeed), i), lit(vocab.size)) + 1)
              .cast("int"))))
        val full = when(k % 10 === 9, concat(text, lit(" merge"))).otherwise(text)
        ids(s.documents).select(k.as("doc_id"), full.as("text"),
          pick(k, 33, Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
          concat(lit("src"), k % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        val label = h(k, 34, 10)
        ids(s.embeddings).select(k.as("vec_id"),
          transform(sequence(lit(0), lit(63)), i =>
            ((pmod(xxhash64(label, lit(DataSeed), i), lit(2001)) - 1000) /
              4000.0 + (pmod(xxhash64(k, lit(DataSeed), i), lit(2001)) - 1000) /
              20000.0).cast("float")).as("embedding"),
          label.cast("int").as("label"))
      })
  }

  /** Writes the tables as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, s: Scale, dir: String): Unit =
    tables(spark, s).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** Digest of the parquet bytes written under `dir`, file names aside
    * (they carry a random id): equal digests mean byte-identical tables. */
  def digest(dir: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val files = java.nio.file.Files.walk(dir)
    try files.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .sortBy(p => dir.relativize(p.getParent).toString)
      .foreach(p => md.update(java.nio.file.Files.readAllBytes(p)))
    finally files.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
