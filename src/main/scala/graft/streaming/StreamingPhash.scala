package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Multimodal

/** Incremental perceptual-hash near-duplicate detection — the streaming
  * form of batch q125, giving the multimodal tier its dedup twin on the
  * same banded rails [[StreamingDedup]] runs for MinHash: the sink
  * holds, at every instant, exactly the Hamming-≤t pairs of the CURRENT
  * media state.
  *
  * Per micro-batch, with B = batch docs:
  *
  *   1. hash ONLY B — the payload synthesis + real header parse +
  *      32-bit block-mean hash are the SAME code path as batch q125
  *      ([[Multimodal.mediaFrameOf]] → [[Multimodal.perceptualHashes]]),
  *      so batch and incremental fingerprint identical bytes;
  *   2. retract via B's OLD band buckets (pigeonhole: a pair previously
  *      emitted with a member of B shared ≥ 1 of its old bands),
  *   3. state update: hashes upsert (hash-less docs — deleted, or too
  *      short to hash — drop), membership moves between buckets,
  *   4. discover: B's new bands join post-state membership; candidates
  *      verify on the STORED hashes alone (two XOR/POPCNTs — unlike the
  *      text ladders, no content re-read is ever needed to verify).
  *
  * Banding geometry follows the radius by pigeonhole (`nBands` equal
  * bands of 32/nBands bits are complete for Hamming ≤ nBands−1): the
  * pair view runs batch q125's 4×8-bit/radius-3, the composed
  * multimodal corpus runs 8×4-bit/radius-5 (batch q155's geometry).
  *
  * 100 TB posture: per-batch work is O(|B| × nBands + collisions);
  * every state read is bucket-pruned, nothing re-hashes the resident
  * corpus, and the verify needs no payload bytes. Both merges carry the
  * batchId → replay idempotent. Assets whose data section is shorter
  * than 32 bytes cannot fill every block and are excluded exactly as
  * batch q125 excludes them (their earlier state retracts if an update
  * shrinks them below the floor). */
object StreamingPhash {

  private def hashSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("phash", LongType)))

  private def bucketSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** This batch's verified Hamming-≤t pair delta: `verified` =
    * (doc_a, doc_b, hamming) pairs involving a batch doc that hold in
    * the post state, `retractCandidates` = (doc_a, doc_b) every pair a
    * previous batch could have emitted with a member of this batch
    * (callers anti-join against their own surviving set). */
  private[streaming] final case class PhashDelta(
      verified: DataFrame, retractCandidates: DataFrame)

  /** Steps 1–4 above over the hash/bucket state tables — factored so
    * the standalone pair view and the composed multimodal-corpus view
    * ([[StreamingMultimodalCuration]]) maintain the SAME state with the
    * same machinery. `touched`: the batch's distinct `documents` keys,
    * already persisted by the caller. All merges carry the batchId
    * (replay-idempotent); returned frames are persisted with unpersist
    * deferred on `ctx`. */
  private[streaming] def maintainHashState(
      hashTable: ParquetKeyedTable, bucketTable: ParquetKeyedTable,
      post: StateAccess, touched: DataFrame, ctx: BatchCtx,
      maxHamming: Int, nBands: Int): PhashDelta = {
    require(32 % nBands == 0, s"nBands=$nBands must divide 32")
    // Pigeonhole over nBands equal bands: a Hamming-≤t pair is
    // guaranteed to collide on at least one band only when t < nBands.
    // A larger t would silently miss pairs AND leave stale sink rows on
    // retraction (the retract step re-derives old band keys).
    require(maxHamming < nBands,
      s"maxHamming=$maxHamming >= band count $nBands: banded candidate " +
        "generation would miss qualifying pairs (pigeonhole needs " +
        "maxHamming < bands)")
    val bandBits = 32 / nBands
    val mask = (1L << bandBits) - 1

    def bandKeys(h: org.apache.spark.sql.Column) =
      array((0 until nBands).map { b =>
        concat(lit(s"$b|"),
          shiftright(h, b * bandBits).bitwiseAND(lit(mask)).cast("string"))
      }: _*)

    // 1. hash ONLY the batch docs, through batch q125's exact path
    val docs = post.rows("documents", touched)
      .select(col("key").cast("long").as("doc_id"), col("text"))
    val newHashes = ctx.cache(Multimodal.perceptualHashes(
        Multimodal.mediaFrameOf(docs))
      .filter(col("data_len") >= 32)
      .select(col("media_id").cast("string").as("doc_id"), col("phash")))

    // band membership, old (pre-state hashes of touched docs) and new
    val oldMemb = IncrementalAgg.preRows(hashTable, hashSchema, touched, ctx)
      .select(col("key").as("doc_id"),
        explode(bandKeys(col("phash"))).as("bkey"))
    val newMemb = ctx.cache(newHashes
      .select(col("doc_id"), explode(bandKeys(col("phash"))).as("bkey")))

    // membership of every affected bucket (idempotent-by-batchId)
    val sw = IncrementalAgg.swapMembers(bucketTable, bucketSchema,
      oldMemb.select(col("bkey").as("key")), touched,
      newMemb.select(col("bkey").as("key"), col("doc_id")), ctx)
    val preMembers = sw.pre.withColumnRenamed("key", "bkey")
    val postMembers = sw.post.withColumnRenamed("key", "bkey")

    // 2. retract superset: every pair a previous batch could have
    // emitted with a member of B shares one of B's OLD buckets
    val oldPairs = oldMemb
      .join(preMembers.withColumnRenamed("doc_id", "partner"), "bkey")
      .filter(col("doc_id") =!= col("partner"))
      .select(least(col("doc_id").cast("long"),
          col("partner").cast("long")).cast("string").as("doc_a"),
        greatest(col("doc_id").cast("long"),
          col("partner").cast("long")).cast("string").as("doc_b"))
      .distinct()

    // 3. hash state (idempotent-by-batchId)
    IncrementalAgg.replaceRows(hashTable, hashSchema, touched,
      newHashes.withColumnRenamed("doc_id", "key"), ctx)

    // 4. discover: batch docs × post-state bucket members, verified on
    // the stored hashes (batch docs resolve to newHashes, residents to
    // the pre-version state — identical to post for untouched docs)
    val candidates = newMemb
      .join(postMembers.withColumnRenamed("doc_id", "partner"), "bkey")
      .filter(col("doc_id") =!= col("partner"))
      .select(least(col("doc_id").cast("long"),
          col("partner").cast("long")).cast("string").as("doc_a"),
        greatest(col("doc_id").cast("long"),
          col("partner").cast("long")).cast("string").as("doc_b"))
      .distinct()
    val partnerIds = candidates.select(col("doc_a").as("key"))
      .union(candidates.select(col("doc_b").as("key"))).distinct()
    val residentHashes = IncrementalAgg
      .preRows(hashTable, hashSchema, partnerIds, ctx)
      .join(touched, Seq("key"), "left_anti")
      .select(col("key").as("doc_id"), col("phash"))
    val hashAll = newHashes.unionByName(residentHashes)
    val verified = candidates
      .join(hashAll.select(col("doc_id").as("doc_a"),
        col("phash").as("ha")), "doc_a")
      .join(hashAll.select(col("doc_id").as("doc_b"),
        col("phash").as("hb")), "doc_b")
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    PhashDelta(verified, oldPairs)
  }

  private val Name = "phash_neardup"
  private val MaxHamming = 3
  private val NBands = 4

  /** Continuous Hamming-≤`MaxHamming` pair view over a CDC
    * `documents`-shaped source. Sink documents:
    * (id = "a|b", media_a, media_b, hamming) — batch q125's shape. */
  def phashNearDupView(spark: SparkSession, stateDir: String): ViewDef = {
    val hashTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-hashes")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val delta = maintainHashState(hashTable, bucketTable, post, touched,
        ctx, MaxHamming, NBands)
      val upserts = delta.verified.select(
        Keys.pair(col("doc_a"), col("doc_b")).as("id"),
        col("doc_a").cast("long").as("media_a"),
        col("doc_b").cast("long").as("media_b"), col("hamming"))
      val deletes = delta.retractCandidates
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
