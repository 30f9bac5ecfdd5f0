package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSuite

/** `IncrementalAgg`'s store shapes called directly, with no pipeline:
  * each shape replays idempotently under a redelivered batchId, and the
  * per-batch pin keeps a read made after the shape's own merge on the
  * pre-batch rows when the batch has no batchId. */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private def ctxOf(batchId: Option[Long]) =
    new BatchCtx(batchId, Set.empty, replay = false, Map.empty)

  /** Seeds a fresh store with `seed`, then checks both replay facts for
    * `shape`, which runs one batch against a store and returns the
    * frames it hands its view. */
  private def checkShape(name: String, schema: StructType, seed: DataFrame)(
      shape: (ParquetKeyedTable, BatchCtx) => Seq[DataFrame]): Unit = {
    def seeded(dir: String): ParquetKeyedTable = {
      val t = new ParquetKeyedTable(spark, tmpDir(dir))
      t.merge(seed, seed.select("key").limit(0))
      t
    }
    def rows(frames: Seq[DataFrame]): Seq[Set[Row]] =
      frames.map(_.collect().toSet)

    // a redelivery of committed batch 1 returns the same frames and
    // commits no new version
    val store = seeded(s"$name-replay")
    val first = ctxOf(Some(1L))
    val firstRows = rows(shape(store, first))
    val committed = store.version
    assert(committed != Some(0), s"$name committed nothing")
    first.commit(); first.close()
    val again = ctxOf(Some(1L))
    assert(rows(shape(store, again)) == firstRows)
    assert(store.version == committed)
    again.close()

    // without a batchId, a pinned read after the merge sees the seed
    val unpinned = seeded(s"$name-pin")
    val ctx = ctxOf(None)
    shape(unpinned, ctx)
    assert(unpinned.version == Some(1))
    assert(IncrementalAgg.preRows(unpinned, schema, seed.select("key"), ctx)
      .collect().toSet == seed.collect().toSet)
    ctx.close()
  }

  test("applyDeltas: ± counter fold") {
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("cnt", LongType)))
    checkShape("fold", schema, Seq(("a", 2L), ("b", 1L)).toDF("key", "cnt")) {
      (store, ctx) =>
        val f = IncrementalAgg.applyDeltas(store,
          Seq(("a", -2L), ("b", 1L), ("c", 1L)).toDF("key", "d_cnt"), "cnt",
          ctx)
        Seq(f.merged, f.live, f.dead)
    }
  }

  test("swapMembers: group-membership swap") {
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("members", ArrayType(StringType))))
    checkShape("swap", schema,
      Seq(("g1", Seq("d1", "d2")), ("g2", Seq("d3"))).toDF("key", "members")) {
      (store, ctx) =>
        val s = IncrementalAgg.swapMembers(store, schema,
          Seq("g1", "g2").toDF("key"), Seq("d1", "d3").toDF("key"),
          Seq(("g3", "d1")).toDF("key", "doc"), ctx)
        Seq(s.affected, s.pre, s.post, s.emptied)
    }
  }

  test("foldMembers: nested (member, count) fold") {
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("entries", ArrayType(StructType(Seq(
        StructField("m", StringType), StructField("cnt", LongType)))))))
    val seed = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("t1", Seq(Row("s1", 1L), Row("s2", 2L))))), schema)
    checkShape("nested", schema, seed) {
      (store, ctx) =>
        val s = IncrementalAgg.foldMembers(store, schema,
          Seq("t1").toDF("key"),
          Seq(("t1", "s1", -1L), ("t2", "s1", 1L)).toDF("key", "m", "d"), ctx)
        Seq(s.affected, s.pre, s.post, s.emptied)
    }
  }

  test("replaceRows: keyed replace") {
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("v", IntegerType)))
    checkShape("replace", schema, Seq(("a", 1), ("b", 2)).toDF("key", "v")) {
      (store, ctx) =>
        val keys = Seq("a", "b").toDF("key")
        val pre = IncrementalAgg.preRows(store, schema, keys, ctx)
        IncrementalAgg.replaceRows(store, schema, keys,
          Seq(("a", 9)).toDF("key", "v"), ctx)
        Seq(pre)
    }
  }

  test("BatchCtx.touched: one cached key frame per table") {
    val ctx = new BatchCtx(None, Set("t"), replay = false,
      Map("t" -> Seq(("a", "c"), ("a", "u"), ("b", "c")).toDF("key", "op")))
    val keys = ctx.touched("t")
    assert(ctx.touched("t") eq keys)
    assert(keys.as[String].collect().toSet == Set("a", "b"))
    ctx.close()
    assert(keys.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
