package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.KMeans

/** Continuous cluster-health monitor — q43's per-cluster report (size +
  * mean distance-to-centroid) maintained incrementally over a CDC
  * embeddings source under a FROZEN clustering model: the drift
  * dashboard a production index watches (a cluster swelling or its mean
  * distance creeping up says the frozen centroids no longer fit the
  * data and a re-train job is due).
  *
  * Deliberately built ON the generic [[IncrementalAgg]] ± machinery
  * rather than a bespoke view: the cluster assignment is a pure ROW
  * function of the embedding (the argmin fold against literal
  * centroids, [[KMeans.assignExprs]]), so "cluster" is just a derived
  * grouping column — exactly the contract `GroupSpec` already
  * abstracts. Per-batch cost is O(batch): touched vectors' pre/post
  * images contribute ±sqrt(dist2) to their clusters' running
  * (sum, count), version-pinned and idempotent-by-batchId like every
  * retractive stats sink; the mean is priced at emit (amt/cnt, rounded
  * 6). A cluster whose count reaches zero leaves state and sink — the
  * retraction contract. */
object StreamingClusterMonitor {

  /** Sink documents: (id = cluster, cluster, n_vecs, mean_dist). */
  def clusterStatsView(spark: SparkSession, stateDir: String,
      model: KMeans.Model): ViewDef = {
    val (cluster, dist2) = KMeans.assignExprs(
      col("embedding").cast(ArrayType(DoubleType)), model.centroids)
    IncrementalAgg.view(spark, stateDir, "cluster_stats", "embeddings",
      IncrementalAgg.GroupSpec(
        Seq("g_cluster" -> cluster.cast("string")),
        live = lit(true),
        // each distance contribution enters the running ± sum as an
        // INTEGER count of 1e-6 units (round(√d·1e6, 0)): integers below
        // 2^53 are exactly representable in the agg store's double, and
        // integer-valued double addition is exact, so the running sum is
        // genuinely order- and history-independent — a retraction
        // restores the prior sum bit-for-bit, with no drift over long
        // churn histories (merely 6-rounding the DOUBLE contribution
        // would not achieve this: (S + a) − a ≠ S in floats; this is the
        // q88/q111 decimal-ledger discipline expressed in micro-units).
        // Headroom: 2^53 µunits ≈ 9·10⁹ distance units per cluster.
        amount = round(sqrt(dist2) * 1e6, 0)),
      // mean_dist is the mean of distances QUANTIZED to 1e-6 units (the
      // ledger above), not of exact doubles: each element can differ
      // from its true distance by up to 5e-7, so the mean sits within
      // 5e-7 of the exact-arithmetic mean. That is the deliberate price
      // of exact retraction — a consumer comparing against an
      // unquantized batch mean must apply the same 1e-6 rounding (the
      // spec's batch recompute does).
      toDoc = m => m.select(col("key").as("id"),
        col("g_cluster").as("cluster"),
        col("cnt").as("n_vecs"),
        round(col("amt") / 1e6 / col("cnt"), 6).as("mean_dist")))
  }
}
