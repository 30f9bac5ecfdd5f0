package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental EXACT-substring duplicate detection over a growing CDC
  * corpus — the streaming form of batch q59: the sink holds, at every
  * instant, each document pair sharing at least one verbatim
  * `WindowLen`-char run of the CURRENT document state, with its shared
  * distinct-window count.
  *
  * Simpler than [[StreamingDedup]]'s MinHash ladder because the window
  * hash IS the evidence — no signatures, no estimate prefilter, no
  * verification pass. One state table: window-hash → member doc ids
  * (the streaming analog of the batch query's self-join key).
  *
  * Per micro-batch, with B = created/updated/deleted docs:
  *   1. hash the 50-char windows of B's PRE text (retraction keys) and
  *      POST text (discovery keys) — only B is ever (re)windowed;
  *   2. retract: B's old windows × pre-state members give a superset of
  *      every pair previously emitted with a member of B;
  *   3. update membership: B leaves its old window buckets, enters its
  *      new ones (read-modify-write of affected buckets only);
  *   4. discover: B's new windows × post membership, distinct
  *      (pair, window) hits counted per pair — |window intersection|
  *      exactly, because a hit needs the window on both sides.
  *
  * 100 TB posture mirrors [[StreamingDedup]]: every state read is a
  * bucket-pruned key lookup, every write rewrites only touched buckets,
  * membership lists track true duplication density, reads pin pre-batch
  * versions and the merge carries the batchId (idempotent replay).
  */
object StreamingSubstringDedup {

  private def bucketSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  private val Name = "substring_dup_pairs"
  private val WindowLen = 50

  /** Continuous substring-dup-pairs view over a CDC `documents`-shaped
    * source. Sink documents: (id = "a|b", doc_a, doc_b, shared_windows).
    * Constants match batch q59 (50-char windows). */
  def substringDupView(spark: SparkSession, stateDir: String): ViewDef = {
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())

      def windows(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("key").as("doc_id"),
          explode(graft.functions.NGrams.charGrams(col("text"), WindowLen))
            .as("g"))
        .select(col("doc_id"), md5(col("g")).as("h"))

      // 1. window only the batch docs — pre text for retraction keys,
      // post text for discovery (a deleted doc has no post image)
      val oldWin = windows(pre.rows("documents", touched))
      val newWin = ctx.cache(windows(post.rows("documents", touched)))

      val affected = oldWin.select("h").union(newWin.select("h"))
        .distinct().withColumnRenamed("h", "key")
      // membership update (idempotent-by-batchId)
      val sw = IncrementalAgg.swapMembers(bucketTable, bucketSchema, affected,
        touched, newWin.select(col("h").as("key"), col("doc_id")), ctx)
      val preMembers = sw.pre.withColumnRenamed("key", "h")
      val postMembers = sw.post.withColumnRenamed("key", "h")

      // 2. retract superset: stale entries (minus re-emitted pairs below)
      // delete as no-ops when never emitted
      val oldPairs = oldWin
        .join(preMembers.withColumnRenamed("doc_id", "partner"), "h")
        .filter(col("doc_id") =!= col("partner"))
        .select(least(col("doc_id"), col("partner")).as("doc_a"),
          greatest(col("doc_id"), col("partner")).as("doc_b"))
        .distinct()

      // 3. discover + count: distinct (pair, window) — a batch-batch pair
      // reaches the join from both sides, distinct collapses it — then
      // the count per pair is exactly |window intersection| (windows are
      // per-doc distinct, and a hit needs the window on both sides)
      val upserts = newWin
        .join(postMembers.withColumnRenamed("doc_id", "partner"), "h")
        .filter(col("doc_id") =!= col("partner"))
        .select(least(col("doc_id"), col("partner")).as("doc_a"),
          greatest(col("doc_id"), col("partner")).as("doc_b"), col("h"))
        .distinct()
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared_windows"))
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"),
          col("doc_a"), col("doc_b"), col("shared_windows"))

      val deletes = oldPairs
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
