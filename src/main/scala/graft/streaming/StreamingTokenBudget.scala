package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Provenance, TextAnalysis}

/** Continuous budget-constrained per-domain selection — the streaming
  * form of batch q150, closing the growth path its docs stated: the
  * sink holds, at every instant, each live registered domain's totals,
  * admission threshold and kept counts under the 500-token budget.
  *
  * The state is the per-(domain, quality-bucket) token/doc counter
  * table, maintained ± by the generic [[IncrementalAgg]] delta
  * machinery (idempotent-by-batchId, bucket-pruned merges, count-0
  * buckets leave). The VERDICT — threshold and kept totals — is a
  * cross-bucket function of ONE domain's ≤101 bucket rows, so after
  * the merge the view re-reads exactly the touched domains' candidate
  * bucket keys (touched domains × the 101 enumerable buckets — the
  * quality bucket is `floor(quality·100)` ∈ [0,100], which is what
  * makes the candidate set enumerable without a secondary index) and
  * re-runs the SAME [[Provenance.budgetReport]] arithmetic batch q150
  * runs — one code path, pinned once. Per batch: O(|batch|) narrow
  * delta work + O(touched domains × 101) bucket-pruned reads. A
  * domain whose last document leaves retracts its sink row. Token
  * amounts ride the double `amt` ledger as integer-valued doubles
  * (exact addition, bit-for-bit retraction). Docs with no registrable
  * domain are outside the budget by batch q150's own rule and are
  * dropped by the group-key null filter. */
object StreamingTokenBudget {

  private val Name = "token_budget"

  /** Sink documents: (id = registered domain, registered_domain,
    * n_docs, n_tokens, threshold_qb, n_docs_kept, n_tokens_kept). */
  def budgetView(
      spark: SparkSession, stateDir: String, budget: Long = 500L): ViewDef = {
    val aggTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-agg")
    val gNames = Seq("g_rd", "g_qb")
    val spec = IncrementalAgg.GroupSpec(
      Seq(
        "g_rd" -> Provenance.registeredDomain(col("doc_id").cast("long")),
        "g_qb" -> floor(TextAnalysis.qualityScore(col("text")) * 100)
          .cast("int").cast("string")),
      live = lit(true),
      amount = Provenance.tokenCount(col("text")).cast("double"))

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val deltas = IncrementalAgg
        .contrib(post.rows("documents", touched), spec, 1)
        .unionByName(IncrementalAgg.contrib(pre.rows("documents", touched),
          spec, -1))
      val IncrementalAgg.Folded(_, liveGroups, deadGroups) =
        IncrementalAgg.applyDeltas(aggTable, deltas, "cnt", ctx)

      // domains whose bucket set changed this batch — from the merged
      // group keys ("rd|qb"; domains contain no '|' and the qb tail is
      // numeric, so the split is unambiguous)
      val touchedDomains = ctx.cache(liveGroups.select(col("g_rd").as("rd"))
        .unionByName(deadGroups
          .select(substring_index(col("key"), "|", 1).as("rd")))
        .distinct())

      // candidate keys = touched domains × the enumerable bucket range;
      // bucket-pruned read of whatever of those actually exist
      val cand = touchedDomains
        .select(col("rd"), explode(sequence(lit(0), lit(100))).as("qb"))
        .select(concat(col("rd"), lit("|"), col("qb")).as("key"))
      val bucketRows = aggTable
        .rowsForKeys(IncrementalAgg.aggSchema(gNames), cand)
        .select(col("g_rd").as("rd"), col("g_qb").cast("int").as("qb"),
          col("cnt").as("n_docs"), col("amt").cast("long").as("n_tokens"))

      val upserts = Provenance.budgetReport(bucketRows, budget)
        .select(col("registered_domain").as("id"),
          col("registered_domain"), col("n_docs"), col("n_tokens"),
          col("threshold_qb"), col("n_docs_kept"), col("n_tokens_kept"))
      val deletes = touchedDomains.select(col("rd").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
