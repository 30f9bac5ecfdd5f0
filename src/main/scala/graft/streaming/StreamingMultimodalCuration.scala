package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** Batch q155 as a continuously-maintained view — ONE corpus under BOTH
  * survivor policies (the composed multimodal curation): the sink holds,
  * at every instant, exactly the documents of the CURRENT state that
  * pass the quality floor AND win their text near-dup cluster (q153's
  * argmax-quality — the BestQuality [[StreamingCuration.SurvivorPolicy]])
  * AND win their media near-dup cluster (q154's max-pixels rule at
  * q155's wider 8×4-bit/radius-5 geometry).
  *
  * Per micro-batch, everything reuses the existing rails:
  *
  *   1. text cluster state — [[StreamingCuration.maintainClusterState]]
  *      (MinHash pair ladder + star re-contraction + label diff);
  *   2. media cluster state — [[StreamingPhash.maintainHashState]]'s
  *      banded retract/discover delta feeds a media pair table, star
  *      re-contraction over the media pair graph, label diff (the same
  *      shape as step 1 on the phash rails);
  *   3. the affected frontier is the batch ∪ both label diffs, widened
  *      to EVERY member of a touched cluster on BOTH sides (one
  *      member's quality edit can flip its text cluster's survivor; a
  *      payload edit can flip its media cluster's — the cluster is the
  *      retraction unit under argmax policies);
  *   4. re-evaluate only the frontier: pruned post-state reads give
  *      quality (text side) and pixels (media side — real header parse
  *      of the members' payloads, batch q154's signal); losers on
  *      either side delete, the rest upsert (id, split, quality).
  *
  * 100 TB posture: steps 1–2 are O(batch × bands + collisions) with
  * bucket-pruned state reads; the contractions are over duplicate-
  * density-sized pair graphs; the frontier is cluster-bounded. All
  * merges carry the batchId → replay idempotent
  * (`StreamingMultimodalCurationSpec` pins == batch q155 recompute per
  * batch and the replay case). */
object StreamingMultimodalCuration {

  private def pairSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("doc_a", StringType),
    StructField("doc_b", StringType)))

  private def labelSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cluster_id", StringType)))

  private val Name = "multimodal_corpus"
  private val MinQuality = 0.5
  private val MediaHamming = 5
  private val MediaBands = 8

  /** Continuous composed-corpus view over a CDC `documents`-shaped
    * source. Sink documents: (id = doc_id, split, quality) — batch
    * q155's shape. */
  def multimodalCuratedView(spark: SparkSession, stateDir: String): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")
    val labelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-labels")
    val mHashTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-mhashes")
    val mBucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-mbuckets")
    val mPairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-mpairs")
    val mLabelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-mlabels")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())
      // 1. text clusters (shared machinery with the curated view)
      val cs = StreamingCuration.maintainClusterState(sigTable,
        bucketTable, pairTable, labelTable, post, touched, ctx)

      // 2. media clusters on the phash rails
      val md = StreamingPhash.maintainHashState(mHashTable, mBucketTable,
        post, touched, ctx, MediaHamming, MediaBands)
      val mPairUpserts = md.verified.select(
        Keys.pair(col("doc_a"), col("doc_b")).as("key"),
        col("doc_a"), col("doc_b"))
      val mPairDeletes = md.retractCandidates
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("key"))
        .join(mPairUpserts.select("key"), Seq("key"), "left_anti")
      mPairTable.merge(mPairUpserts, mPairDeletes, ctx.batchId)

      val mPostPairs = mPairTable
        .snapshotAt(mPairTable.version, pairSchema)
        .select(col("doc_a"), col("doc_b"))
      val mNewLabels = ctx.cache(Dedup.clusterPairsStar(mPostPairs)
        .select(col("doc_id").as("key"), col("cluster_id")))
      val preMLabelV = mLabelTable.versionBefore(ctx.batchId)
      val mOldLabels = mLabelTable.snapshotAt(preMLabelV, labelSchema)
      mLabelTable.merge(mNewLabels,
        mOldLabels.select("key").join(mNewLabels.select("key"),
          Seq("key"), "left_anti"),
        ctx.batchId)
      val mLabelDiff = mOldLabels.withColumnRenamed("cluster_id", "old_cid")
        .join(mNewLabels.withColumnRenamed("cluster_id", "new_cid"),
          Seq("key"), "full_outer")
        .filter(col("old_cid").isNull || col("new_cid").isNull ||
          col("old_cid") =!= col("new_cid"))
        .select("key")

      // 3. frontier = batch ∪ both label diffs, widened per policy
      val affected0 = touched
        .union(cs.labelDiff).union(mLabelDiff).distinct()
      val (affectedText, textLosers) = StreamingCuration.survivorLosers(
        StreamingCuration.SurvivorPolicy.BestQuality, cs.newLabels,
        affected0, post, ctx)

      val mTouchedClusters = mNewLabels
        .join(affected0, Seq("key"), "left_semi")
        .select("cluster_id").distinct()
      val mMembers = ctx.cache(mNewLabels
        .join(mTouchedClusters, Seq("cluster_id"), "left_semi"))
      // pixels of every member of a touched media cluster, from the
      // REAL header parse of pruned post-state payloads (q154's signal)
      val mDocs = post.rows("documents", mMembers.select("key"))
        .select(col("key").cast("long").as("doc_id"), col("text"))
      val px = Multimodal.pixelFrameOf(Multimodal.mediaFrameOf(mDocs))
        .select(col("media_id").cast("string").as("key"), col("px"))
      val mSurv = mMembers.join(px, "key")
        .groupBy("cluster_id")
        .agg(max(struct(col("px"),
          (-col("key").cast("long")).as("negid"))).as("m"))
        .select(col("cluster_id"),
          (-col("m.negid")).cast("string").as("survivor"))
      val mediaLosers = mMembers.join(mSurv, "cluster_id")
        .filter(col("key") =!= col("survivor")).select("key")

      val affected = ctx.cache(affectedText.union(mMembers.select("key"))
        .distinct())

      // 4. re-evaluate ONLY the frontier
      val live = post.rows("documents", affected)
        .select(col("key"), col("text"))
      val bucket = pmod(
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
        lit(100L))
      val upserts = ctx.cache(live
        .filter(TextAnalysis.qualityScore(col("text")) >= MinQuality)
        .join(textLosers, Seq("key"), "left_anti")
        .join(mediaLosers, Seq("key"), "left_anti")
        .select(col("key").as("id"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"),
          TextAnalysis.qualityScore(col("text")).as("quality")))
      val deletes = affected.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
