package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, TextAnalysis}

/** The batch curation pipeline (q39: quality-filter → near-dup survivor
  * selection → content-hash split) as a continuously-maintained view —
  * the sink holds, at every instant, exactly the curated subset of the
  * CURRENT document state. New documents stream in; duplicates retract
  * their losers; an update that breaks a duplicate cluster re-admits the
  * docs it orphaned; a survivor whose text degrades below the quality
  * bar drops out.
  *
  * Per micro-batch:
  *
  *   1. pair maintenance — [[StreamingDedup.maintainPairState]]'s
  *      sign-only-the-batch / bucket-pruned retract+discover ladder —
  *      keeps a persistent pair-state table equal to batch q21 on the
  *      current corpus,
  *   2. connected components re-run over the pair graph (alternating
  *      star contraction, O(log n) rounds) give post-batch cluster
  *      labels; diffing against the stored pre-batch labels yields the
  *      docs whose survivor status could have changed,
  *   3. batch docs ∪ label-diff docs are the ONLY docs re-evaluated:
  *      quality + split come from pruned reads of their post-state
  *      texts; losers (label ≠ self) delete, the rest upsert.
  *
  * 100 TB posture: steps 1 and 3 are O(batch + collisions) with
  * bucket-pruned state reads, exactly like [[StreamingDedup]]. Step 2 is
  * the one honest O(pairs) seam: the pair graph and label table are
  * DUPLICATE-DENSITY-sized (LSH keeps them ∝ true near-dups, never
  * corpus-sized), so re-contracting them per batch is a job over a tiny
  * fraction of the corpus; the upgrade path if a corpus ever grew a
  * pair graph too big to re-contract is incremental connected
  * components over only the components touched by the batch's edge
  * delta. All state commits carry the batchId → replay-idempotent.
  */
object StreamingCuration {

  /** Which member of a near-dup cluster survives into the curated
    * corpus. [[MinId]] is batch q39's rule (cheap — the cluster label
    * IS the survivor, no extra reads); [[BestQuality]] is batch q153's
    * argmax by (quality, −doc_id) — q151's policy — which needs the
    * CURRENT quality of every member of a touched cluster, so the
    * re-evaluation frontier widens from the touched docs to their whole
    * clusters (bucket-pruned reads ∝ touched clusters' sizes — still
    * never a corpus scan, and exactly the cost the policy implies: one
    * member's quality edit can flip its whole cluster's survivor). */
  sealed trait SurvivorPolicy
  object SurvivorPolicy {
    case object MinId extends SurvivorPolicy
    case object BestQuality extends SurvivorPolicy
  }

  private def pairSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("doc_a", StringType),
    StructField("doc_b", StringType)))

  private def labelSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cluster_id", StringType)))

  /** Post-batch near-dup cluster assignment plus the docs whose
    * survivor status may have changed: `newLabels` = (key, cluster_id)
    * over the post-batch pair graph, `labelDiff` = (key) rows that
    * appeared, disappeared or moved cluster vs the pre-batch labels.
    * Factored out of [[curatedView]] so the composed pipeline view
    * ([[StreamingPipelineCorpus]]) maintains ONE pair/label state with
    * the same machinery. */
  private[streaming] final case class ClusterState(
      newLabels: DataFrame, labelDiff: DataFrame)

  /** Steps 1–2 of [[curatedView]]: pair-state maintenance + star
    * re-contraction + label diff. `touched`: the batch's distinct
    * `documents` keys, already persisted by the caller. All merges carry
    * the batchId (replay-idempotent); `newLabels` is persisted and
    * deferred. */
  private[streaming] def maintainClusterState(
      sigTable: ParquetKeyedTable, bucketTable: ParquetKeyedTable,
      pairTable: ParquetKeyedTable, labelTable: ParquetKeyedTable,
      post: StateAccess, touched: DataFrame,
      ctx: BatchCtx): ClusterState = {
    // 1. pair maintenance (shared machinery with the near-dup view)
    val delta = StreamingDedup.maintainPairState(
      sigTable, bucketTable, post, touched, ctx)
    val pairUpserts = delta.verified.select(
      Keys.pair(col("doc_a"), col("doc_b")).as("key"),
      col("doc_a"), col("doc_b"))
    val pairDeletes = delta.retractCandidates
      .select(Keys.pair(col("doc_a"), col("doc_b")).as("key"))
      .join(pairUpserts.select("key"), Seq("key"), "left_anti")
    pairTable.merge(pairUpserts, pairDeletes, ctx.batchId)

    // 2. cluster labels over the post-batch pair graph (on replay the
    // merge above skipped, so `version` is already the post state)
    val postPairs = pairTable
      .snapshotAt(pairTable.version, pairSchema)
      .select(col("doc_a"), col("doc_b"))
    val newLabels = ctx.cache(Dedup.clusterPairsStar(postPairs)
      .select(col("doc_id").as("key"), col("cluster_id")))

    val preLabelV = labelTable.versionBefore(ctx.batchId)
    val oldLabels = labelTable.snapshotAt(preLabelV, labelSchema)
    labelTable.merge(newLabels,
      oldLabels.select("key").join(newLabels.select("key"),
        Seq("key"), "left_anti"),
      ctx.batchId)

    // survivor status can only change where the label row changed
    // (appeared, disappeared, or moved cluster) — or where the text
    // itself changed (the batch docs)
    val labelDiff = oldLabels.withColumnRenamed("cluster_id", "old_cid")
      .join(newLabels.withColumnRenamed("cluster_id", "new_cid"),
        Seq("key"), "full_outer")
      .filter(col("old_cid").isNull || col("new_cid").isNull ||
        col("old_cid") =!= col("new_cid"))
      .select("key")
    ClusterState(newLabels, labelDiff)
  }

  /** This batch's affected-doc frontier and near-dup loser set under
    * `policy`, shared by [[curatedView]] and
    * [[StreamingPipelineCorpus]]. MinId reads nothing extra (the
    * cluster label IS the survivor); BestQuality widens the frontier
    * to every member of a cluster touched by `affected0` and
    * re-derives each touched cluster's argmax survivor — batch q153's
    * (quality, −id) rule — from pruned post-state quality reads (one
    * member's quality edit can flip its whole cluster's survivor, so
    * the cluster is the retraction unit). Returns (affected frontier
    * incl. the widened members — persisted, unpersist deferred on
    * `ctx` — , loser keys). */
  private[streaming] def survivorLosers(
      policy: SurvivorPolicy, newLabels: DataFrame, affected0: DataFrame,
      post: StateAccess, ctx: BatchCtx): (DataFrame, DataFrame) = {
    policy match {
      case SurvivorPolicy.MinId =>
        val a = ctx.cache(affected0)
        (a, newLabels.filter(col("key") =!= col("cluster_id"))
          .select("key"))
      case SurvivorPolicy.BestQuality =>
        val touchedClusters = newLabels
          .join(affected0, Seq("key"), "left_semi")
          .select("cluster_id").distinct()
        val touchedMembers = ctx.cache(newLabels
          .join(touchedClusters, Seq("cluster_id"), "left_semi"))
        val a = ctx.cache(affected0.union(touchedMembers.select("key")).distinct())
        val q = post.rows("documents", touchedMembers.select("key"))
          .select(col("key"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
        val surv = touchedMembers.join(q, "key")
          .groupBy("cluster_id")
          .agg(max(struct(col("quality").as("q"),
            (-col("key").cast("long")).as("negid"))).as("m"))
          .select(col("cluster_id"),
            (-col("m.negid")).cast("string").as("survivor"))
        (a, touchedMembers.join(surv, "cluster_id")
          .filter(col("key") =!= col("survivor")).select("key"))
    }
  }

  private val Name = "curated_corpus"
  private val MinQuality = 0.5

  /** Continuous curated-corpus view over a CDC `documents`-shaped source.
    * Sink documents: (id = doc_id, split, quality). Constants match
    * batch q39: [[StreamingDedup]]'s near-dup geometry, quality ≥ 0.5,
    * 90/5/5 content-hash split, min-id survivors. With
    * `policy = BestQuality` the sink equals batch q153 instead (q151's
    * argmax survivors); the numeric (quality, −id) tie-break casts the
    * string CDC key to long — the q147/URL-dedup posture, ids are
    * numeric in this corpus contract. */
  def curatedView(spark: SparkSession, stateDir: String,
      policy: SurvivorPolicy = SurvivorPolicy.MinId): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")
    val labelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-labels")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())
      val cs = maintainClusterState(sigTable, bucketTable, pairTable,
        labelTable, post, touched, ctx)
      val newLabels = cs.newLabels
      val affected0 = touched.union(cs.labelDiff).distinct()
      val (affected, losers) = survivorLosers(policy, newLabels,
        affected0, post, ctx)

      // 3. re-evaluate ONLY the affected docs: pruned post-state text
      // reads; a doc absent from post state was deleted this batch
      val live = post.rows("documents", affected)
        .select(col("key"), col("text"))
      val bucket = pmod(
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
        lit(100L))
      val upserts = ctx.cache(live
        .filter(TextAnalysis.qualityScore(col("text")) >= MinQuality)
        .join(losers, Seq("key"), "left_anti")
        .select(col("key").as("id"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"),
          TextAnalysis.qualityScore(col("text")).as("quality")))
      val deletes = affected.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }

  /** Continuous corpus-composition monitoring: per predicted language,
    * document count and total whitespace tokens, maintained with full
    * retraction by the generic [[IncrementalAgg]] ± machinery — deletes
    * shrink the counts, a reclassifying update moves a doc between
    * groups, and a language whose count reaches 0 leaves the sink. One
    * more demonstration that the incremental-agg path is not welded to
    * the reference's order views. */
  def langStats(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "corpus_lang_stats", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_lang" -> TextAnalysis.predLang(col("text"))),
        live = lit(true),
        amount = size(split(trim(col("text")), "\\s+")).cast("double")),
      toDoc = m => m.select(col("key").as("id"),
        col("g_lang").as("lang"),
        col("amt").cast("long").as("tokens"), col("cnt").as("docs")))

  /** Continuous (lang, source) token totals — the maintained half of
    * batch q90's temperature-flattened mixture weights. The ± machinery
    * keeps per-stratum token sums exact under create/update/delete
    * (empty strata leave the sink); the √n_tok normalization is priced
    * AT READ over the bounded strata table by [[mixtureWeights]] — the
    * [[StreamingBm25]] posture (global normalizers computed on read
    * from maintained aggregates, never corpus-rescanned on write). */
  def sourceMixture(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "source_mixture", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_lang" -> col("lang"), "g_source" -> col("source")),
        live = lit(true),
        amount = size(split(trim(col("text")), "\\s+")).cast("double")),
      toDoc = m => m.select(col("key").as("id"),
        col("g_lang").as("lang"), col("g_source").as("source"),
        col("amt").cast("long").as("n_tok"), col("cnt").as("docs")))

  /** Batch q90's weight arithmetic over a maintained strata frame
    * (lang, source, n_tok): √n_tok rounded to 9, summed as
    * DECIMAL(18,9) (exact, order-independent), one double division —
    * identical recipe, so the weights equal the batch query's on the
    * same state. */
  def mixtureWeights(strata: DataFrame): DataFrame = {
    val sq = strata.select(col("lang"), col("source"), col("n_tok"),
      round(sqrt(col("n_tok")), 9).cast("decimal(18,9)").as("sq"))
    val tot = sq.agg(sum("sq").as("ts"))
    sq.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_tok"),
        round(col("sq").cast("double") / col("ts").cast("double"), 6)
          .as("weight"))
  }
}
