package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Continuous classifier-CALIBRATION table — the streaming form of
  * batch q152, completing the model-monitoring pair with
  * [[StreamingAucMonitor]] (AUC says the frozen scorer still RANKS
  * right on what is arriving; calibration says whether its score
  * VALUES can still be thresholded at a target precision): the sink
  * holds, at every instant, the reliability diagram of a FROZEN
  * hashed-feature classifier over the live corpus — per unit LOGIT bin
  * of the score, how many live documents land there and what fraction
  * is actually positive.
  *
  * Model freezing follows [[StreamingAucMonitor.scoreExpr]] exactly
  * (the same expression IS the scorer — one code path): the 1024
  * log-odds weights are bounded driver metadata baked into a literal
  * map, so scoring is a stateless narrow map and the bin is a pure
  * row-local function of the doc's text. The counters then ride the
  * generic [[IncrementalAgg]] ± machinery unchanged: per-(logit_bin)
  * (n, n_pos) state — a few dozen bins, the q152/q110 bounded-key
  * posture — O(batch) per batch, deletes retract, an update moves a
  * doc between bins (and/or flips its label contribution), a bin
  * reaching n = 0 leaves the sink, replay idempotent by batchId.
  * n_pos rides the double `amt` ledger as 0/1 integer-valued doubles
  * (exact addition, bit-for-bit retraction — the cluster-monitor
  * discipline); pos_rate is derived AT READ from the maintained
  * counters, never stored. */
object StreamingCalibration {

  /** Sink documents: (id = bin key, logit_bin, n, n_pos, pos_rate) —
    * batch q152's exact shape over the frozen scorer. */
  def calibrationView(spark: SparkSession, stateDir: String,
      weights: Map[Long, Double]): ViewDef =
    IncrementalAgg.view(spark, stateDir, "calibration", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_bin" ->
          floor(StreamingAucMonitor.scoreExpr(col("text"), weights))
            .cast("long").cast("string")),
        live = lit(true),
        amount = when(TextAnalysis.qualityScore(col("text")) >= 0.5,
          lit(1.0)).otherwise(lit(0.0))),
      toDoc = m => m.select(col("key").as("id"),
        col("g_bin").cast("long").as("logit_bin"),
        col("cnt").as("n"), col("amt").cast("long").as("n_pos"),
        round(col("amt") / col("cnt"), 6).as("pos_rate")))
}
