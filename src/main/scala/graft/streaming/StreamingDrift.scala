package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Governance

/** Continuous distribution-drift monitoring — batch q161's continuous
  * form on the [[IncrementalAgg]] rails: per-(day, event_type) counts
  * maintained ± from the events changelog (O(batch) per batch; a
  * stratum whose count reaches zero leaves state and sink), with the
  * PSI report priced AT READ over the bounded strata table by [[psi]],
  * which calls the SAME [[Governance.psiFromCounts]] arithmetic the
  * batch query uses — the StreamingMixture/StreamingBm25 posture
  * (pairwise/global normalizers computed on read from maintained
  * aggregates, never corpus-rescanned on write; a write-side PSI would
  * touch every window pair a count shift can reach).
  *
  * The CDC `ts` is a LONG of nanos (the events loader's ts_ns
  * convention); the day derivation uses integral DIV so the bucketing
  * is exact at any epoch magnitude. */
object StreamingDrift {

  def eventTypeCounts(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "event_drift", "events",
      IncrementalAgg.GroupSpec(
        Seq(
          "g_day" -> expr(
            "date_format(timestamp_micros(ts DIV 1000), 'yyyy-MM-dd')"),
          "g_type" -> col("event_type")),
        live = lit(true),
        amount = lit(1.0)),
      toDoc = m => m.select(col("key").as("id"),
        col("g_day").as("day"), col("g_type").as("event_type"),
        col("cnt").as("c")))

  /** The PSI report over a maintained (day STRING, event_type, c)
    * strata frame — exactly batch q161's arithmetic
    * ([[Governance.psiFromCounts]], one code path, pinned once). */
  def psi(strata: DataFrame): DataFrame =
    Governance.psiFromCounts(
      strata.select(to_date(col("day")).as("d"), col("event_type"),
        col("c")))
}
