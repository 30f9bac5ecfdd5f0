package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Governance

/** Continuous inter-gate agreement — batch q168's continuous form on
  * the [[IncrementalAgg]] rails (the StreamingDrift recipe): per-
  * (source, raterA verdict, raterB verdict) confusion-cell counts
  * maintained ± from the documents changelog — a doc whose edit flips
  * a gate verdict moves between cells on that batch; an emptied cell
  * leaves state and sink — with Cohen's κ priced AT READ over the
  * bounded cell table via the SAME [[Governance.kappaFromCells]]
  * arithmetic the batch query uses, so the two cannot drift.
  *
  * Per-batch cost is O(batch); the maintained frame is bounded by
  * sources × 4 cells. */
object StreamingAgreement {

  def confusionCells(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "gate_agreement", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_source" -> col("source"),
          "g_a" -> Governance.raterA,
          "g_b" -> Governance.raterB),
        live = lit(true),
        amount = lit(1.0)),
      toDoc = m => m.select(col("key").as("id"),
        col("g_source").as("source"), col("g_a").as("a"),
        col("g_b").as("b"), col("cnt").as("c")))

  /** The κ report over the maintained cell table — batch q168's exact
    * read-side arithmetic (group-col strings cast back to the int
    * verdicts the shared pivot expects). */
  def kappa(cells: DataFrame): DataFrame =
    Governance.kappaFromCells(cells.select(col("source"),
      col("a").cast("int").as("a"), col("b").cast("int").as("b"),
      col("c")))
}
