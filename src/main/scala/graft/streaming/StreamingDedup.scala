package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Incremental near-duplicate detection over a GROWING document corpus —
  * the streaming form of the batch q21 MinHash-LSH pipeline
  * (graft.operators.Dedup), run as one continuously-maintained
  * [[ViewDef]] inside a [[CdcPipeline]]. This is the engine analog of
  * registering the dedup query as one more `INSERT INTO sink SELECT ...`
  * continuous job in the reference (README.md:342-345): the sink index
  * holds, at every instant, exactly the verified near-dup pairs of the
  * CURRENT document state.
  *
  * Per micro-batch, with B = batch documents (created/updated/deleted):
  *
  *   1. shingle + MinHash-sign ONLY B (never re-signs the corpus),
  *   2. retract: old band buckets of B's PRE-state signatures give every
  *      pair previously emitted with a member of B — bucket-pruned reads
  *      of the signature and bucket-membership state tables,
  *   3. update state: signatures of B merge into the signature table;
  *      B's membership moves out of its old buckets and into its new ones
  *      (read-modify-write of exactly the affected bucket rows),
  *   4. discover: B's new band keys join the POST bucket membership for
  *      candidate partners (state docs AND same-batch docs), estimate-
  *      prefilter on stored signatures, exact-verify on the candidate
  *      docs' texts — the same band → estimate → verify ladder as batch
  *      q21, so the maintained pair set equals a batch recompute.
  *
  * 100 TB posture: per-batch work is O(|B| × bands + collisions). Every
  * state read is a bucket-pruned key lookup ([[ParquetKeyedTable
  * .rowsForKeysAt]]), every state write rewrites only touched buckets,
  * and nothing ever scans or re-signs the resident corpus. Bucket
  * membership rows are collision lists — their size tracks true
  * near-duplicate density (the LSH guarantee), not corpus size. All
  * reads pin pre-batch versions and both state merges carry the batchId,
  * so a redelivered batch replays idempotently (same contract as
  * [[IncrementalAgg]]).
  */
object StreamingDedup {

  private def sigSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("sig", ArrayType(LongType))))

  private def bucketSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** One micro-batch of pair maintenance, shared by [[nearDupView]] and
    * [[StreamingCuration]]: `verified` are this batch's (doc_a, doc_b,
    * jaccard) near-dup pairs, `retractCandidates` a SUPERSET of every
    * pair a previous batch could have emitted with a batch member —
    * subtracting re-verified pairs from it clears exactly the stale
    * ones (extra ids delete as no-ops downstream). */
  private[streaming] final case class PairDelta(
    verified: DataFrame, retractCandidates: DataFrame)

  /** Batch q21's near-dup geometry, which every caller of
    * [[maintainPairState]] runs (this view, curation, the datasheet,
    * fuzzy decontamination, PageRank and the composed corpora): word
    * 3-shingles, 32 bands × 2 rows, exact-verify at jaccard ≥ 0.8. */
  private val ShingleN = 3
  private val BandRows = 2
  private val NBands = 32
  private val Threshold = 0.8
  private val Name = "near_dup_pairs"

  /** Continuous near-dup-pairs view over a CDC `documents`-shaped source
    * (primary-keyed, with a `text` column). Sink documents:
    * (id = "a|b", doc_a, doc_b, jaccard). Constants match batch q21. */
  def nearDupView(spark: SparkSession, stateDir: String): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val delta = maintainPairState(sigTable, bucketTable, post, touched, ctx)
      val upserts = delta.verified.select(
        Keys.pair(col("doc_a"), col("doc_b")).as("id"),
        col("doc_a"), col("doc_b"), col("jaccard"))
      val deletes = delta.retractCandidates
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }

  /** Steps 1–4 of the scaladoc: sign the batch, retract via old buckets,
    * merge signature + bucket state (idempotent-by-batchId), discover and
    * exact-verify new pairs. `touched`: the batch's distinct `documents`
    * keys, already persisted by the caller. The returned frames are
    * batch-scoped (persisted; unpersist deferred on `ctx`). */
  private[streaming] def maintainPairState(
      sigTable: ParquetKeyedTable, bucketTable: ParquetKeyedTable,
      post: StateAccess, touched: DataFrame, ctx: BatchCtx): PairDelta = {
      // live post images of the batch docs; a touched key absent here was
      // deleted this batch
      val docs = post.rows("documents", touched)
        .select(col("key").as("doc_id"), col("text"))

      // 1. sign ONLY the batch docs
      val newSigs = ctx.cache(Dedup.signatureArray(
        docs.select(col("doc_id"),
          explode(Dedup.shingles(col("text"), ShingleN)).as("f")), "f"))

      // band membership, old (pre-state sigs of touched docs) and new
      val oldSigs = IncrementalAgg.preRows(sigTable, sigSchema, touched, ctx)
      val oldMemb = oldSigs.select(col("key").as("doc_id"),
        explode(Dedup.bandKeys(col("sig"), BandRows, NBands)).as("bkey"))
      val newMemb = ctx.cache(newSigs.select(col("doc_id"),
        explode(Dedup.bandKeys(col("sig"), BandRows, NBands)).as("bkey")))

      // membership of every affected bucket (pruned lookup): batch docs
      // leave their old buckets, enter new ones (idempotent-by-batchId)
      val sw = IncrementalAgg.swapMembers(bucketTable, bucketSchema,
        oldMemb.select(col("bkey").as("key")), touched,
        newMemb.select(col("bkey").as("key"), col("doc_id")), ctx)
      val preMembers = sw.pre.withColumnRenamed("key", "bkey")
      val postMembers = sw.post.withColumnRenamed("key", "bkey")

      // 2. retract: every pair a PREVIOUS batch could have emitted with a
      // member of B shares one of B's OLD buckets — a superset of the
      // actually-emitted pairs, so deleting it (minus re-verified pairs)
      // clears exactly the stale ones; extra ids are absent from the sink
      // and delete as no-ops
      val oldPairs = oldMemb
        .join(preMembers.withColumnRenamed("doc_id", "partner"), "bkey")
        .filter(col("doc_id") =!= col("partner"))
        .select(least(col("doc_id"), col("partner")).as("doc_a"),
          greatest(col("doc_id"), col("partner")).as("doc_b"))
        .distinct()

      // 3. signatures: upsert batch docs that produced one; drop the rest
      //    (deleted docs, and a live doc whose new text has no shingles —
      //    its old signature must not linger)
      IncrementalAgg.replaceRows(sigTable, sigSchema, touched,
        newSigs.withColumnRenamed("doc_id", "key"), ctx)

      // 4. discover: batch docs × post-state bucket members (includes
      // same-batch partners), then the q21 estimate → exact-verify ladder
      val candidates = newMemb
        .join(postMembers.withColumnRenamed("doc_id", "partner"), "bkey")
        .filter(col("doc_id") =!= col("partner"))
        .select(least(col("doc_id"), col("partner")).as("doc_a"),
          greatest(col("doc_id"), col("partner")).as("doc_b"))
        .distinct()

      // signatures for both pair sides: batch docs from newSigs, resident
      // partners from the (pre-version) signature state — identical to
      // post state for untouched docs, and touched docs resolve to newSigs
      val partnerIds = candidates.select(col("doc_a").as("key"))
        .union(candidates.select(col("doc_b").as("key"))).distinct()
      val residentSigs = IncrementalAgg
        .preRows(sigTable, sigSchema, partnerIds, ctx)
        .join(touched, Seq("key"), "left_anti")
        .select(col("key").as("doc_id"), col("sig"))
      val sigAll = newSigs.unionByName(residentSigs)
      val prefiltered = candidates
        .join(sigAll.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
          "doc_a")
        .join(sigAll.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
          "doc_b")
        .filter(Dedup.estimateFromArrays(col("sa"), col("sb")) >=
          Threshold - 0.2)
        .select("doc_a", "doc_b")

      // exact verify over the candidate docs' texts (pruned state reads)
      val vIds = prefiltered.select(col("doc_a").as("key"))
        .union(prefiltered.select(col("doc_b").as("key"))).distinct()
      val vExploded = post.rows("documents", vIds)
        .select(col("key").as("doc_id"),
          explode(Dedup.shingles(col("text"), ShingleN)).as("f"))
      val verified = ctx.cache(Dedup
        .verifyJaccard(prefiltered, vExploded, "f", Threshold))

      PairDelta(verified, oldPairs)
  }
}
