package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TopKAggregator
import graft.operators.Similarity

/** Streaming ANN index maintenance — the q41 random-hyperplane sign-LSH
  * buckets kept continuously up to date over a CDC embeddings source, so
  * a vector becomes searchable the micro-batch it arrives and stops
  * matching the batch it is deleted. Engine analog of registering the
  * index build as one more `INSERT INTO sink SELECT ...` continuous job
  * in the reference (README.md:342-345); same state pattern as
  * [[StreamingDedup]].
  *
  * Per micro-batch, with B = batch vectors (created/updated/deleted):
  *
  *   1. sign ONLY B (16 codegen'd dot products per vector; the resident
  *      corpus is never re-hashed),
  *   2. B's PRE-state vectors locate the buckets it must leave, B's
  *      POST-state vectors the buckets it enters — both via bucket-pruned
  *      keyed lookups of the pipeline's materialized embeddings state,
  *   3. the affected bucket rows (and only those) are read at their
  *      pre-batch version, rewritten without B, extended with B's new
  *      membership, and merged back carrying the batchId — a redelivered
  *      batch replays idempotently ([[ParquetKeyedTable.merge]]).
  *
  * 100 TB posture: per-batch work is O(|B| × bands + affected-bucket
  * membership). Bucket rows are collision lists whose size tracks LSH
  * bucket occupancy, not corpus size; no step scans resident state.
  * [[search]] is the read path: probe → its 4 band buckets (pruned point
  * lookups) → candidate ids → keyed vector fetch → exact cosine under a
  * bounded top-k aggregator. Search cost is collisions × dim, independent
  * of corpus size — the whole point of maintaining the index
  * incrementally instead of rebuilding q41's from scratch per query.
  */
object StreamingAnn {

  private def bucketSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** "band_id|bh" strings — one per band — for vector `v`. */
  private def bandKeys(v: Column, planes: Seq[Seq[Double]]): Column =
    transform(Similarity.signBands(v, planes), b =>
      concat_ws("|", b("band_id"), b("bh")))

  private val Name = "ann_index"
  private val Seed = 7

  /** The bucket store and its hyperplanes, opened the same way by the
    * writer ([[indexView]]) and the reader ([[search]]). */
  private def index(spark: SparkSession, stateDir: String) = (
    new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets"),
    Similarity.hyperplanes(Seed))

  /** Continuous sign-LSH index over a CDC embeddings-shaped source
    * (primary-keyed, with a vector column). Sink documents mirror the
    * bucket state: (id = "band|bh", members_csv sorted) — the index is
    * observable from the sink like every other view. Constants match
    * batch q41 (seed 7, 4 bands × 4 bits over 16×64 hyperplanes), so the
    * maintained buckets equal a q41 recompute over current state. */
  def indexView(spark: SparkSession, stateDir: String): ViewDef = {
    val (bucketTable, planes) = index(spark, stateDir)
    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("embeddings").select("key").distinct())

      // buckets the batch vectors leave (pre-state image) and enter
      // (post-state image; a deleted key has no post row → leaves only)
      val oldKeys = pre.rows("embeddings", touched)
        .select(col("key").as("vec_key"),
          explode(bandKeys(col("embedding"), planes)).as("bkey"))
      val newKeys = ctx.cache(post.rows("embeddings", touched)
        .select(col("key").as("vec_key"),
          explode(bandKeys(col("embedding"), planes)).as("bkey")))

      val affected = oldKeys.select("bkey").union(newKeys.select("bkey"))
        .distinct().withColumnRenamed("bkey", "key")
      val sw = IncrementalAgg.swapMembers(bucketTable, bucketSchema,
        affected, touched,
        newKeys.select(col("bkey").as("key"), col("vec_key")), ctx)

      val upserts = sw.post.groupBy(col("key").as("id"))
        .agg(array_join(array_sort(collect_list("vec_key")), ",")
          .as("members_csv"))
      (upserts, sw.emptied.select(col("key").as("id")))
    })
  }

  /** Top-k search against the maintained index. `probes` is
    * (query_id: long, qv: vector); `fetchVectors` resolves a single-column
    * `key` frame to (key, `embedding`) rows — pass the pipeline's keyed
    * state lookup ([[CdcPipeline.stateRows]]) so the vector fetch is
    * bucket-pruned, never a corpus scan. Output matches q41's shape:
    * (query_id, rank, neighbor_id, score), ties (score DESC, id ASC). */
  def search(spark: SparkSession, stateDir: String, probes: DataFrame,
      fetchVectors: DataFrame => DataFrame, k: Int): DataFrame = {
    val (bucketTable, planes) = index(spark, stateDir)
    val probeKeys = probes.select(col("query_id"), col("qv"),
      explode(bandKeys(col("qv"), planes)).as("key"))
    val members = bucketTable
      .rowsForKeys(bucketSchema, probeKeys.select("key"))
      .select(col("key"), explode(col("members")).as("vec_key"))
    val cands = probeKeys.join(members, "key")
      .filter(col("vec_key") =!= col("query_id").cast("string"))
      .select(col("query_id"), col("qv"), col("vec_key")).distinct()
    val vecs = fetchVectors(cands.select(col("vec_key").as("key")).distinct())
      .select(col("key").as("vec_key"), col("embedding").as("v"))
    val scored = cands.join(vecs, "vec_key")
      .select(col("query_id"),
        col("vec_key").cast("long").as("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("v")), 6).as("score"))
    val topk = udaf(new TopKAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("score"))
  }
}
