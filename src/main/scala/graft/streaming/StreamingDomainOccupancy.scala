package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Provenance

/** Continuous per-DOMAIN occupancy — the provenance tier's live gauge:
  * the sink holds, at every instant, each registered domain's live
  * document count and token total, the numbers the q144 cap and q145
  * audit read as batch snapshots. The grouping key is the SAME
  * [[Provenance.registeredDomain]] parse batch q143–q145 run (one code
  * path), and it is a pure function of the doc id — so a delete
  * retracts from exactly the domain its insert entered and the
  * counters ride the generic [[IncrementalAgg]] ± machinery unchanged:
  * O(batch) per batch, bucket-pruned agg reads, count-0 domains leave
  * the sink, replay idempotent by batchId. Docs with no registrable
  * domain (bare-suffix hosts) group under the literal "(none)" — a
  * null group key would collide with IncrementalAgg's key encoding,
  * and the row is still signal (how much provenance-less traffic is
  * arriving). The synthetic-host derivation needs a NUMERIC id (the
  * batch posture); a non-numeric CDC key casts to null and lands in
  * "(none)" too — documented, not a silent drop, since the row stays
  * visible in the sink. Token totals are integer-valued doubles (exact
  * addition, bit-for-bit retraction — the cluster-monitor ledger
  * discipline). */
object StreamingDomainOccupancy {

  /** Sink documents: (id = domain key, registered_domain, n_docs,
    * n_tokens). */
  def domainStatsView(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "domain_stats", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_domain" ->
          coalesce(
            Provenance.registeredDomain(col("doc_id").cast("long")),
            lit("(none)"))),
        live = lit(true),
        amount = Provenance.tokenCount(col("text")).cast("double")),
      toDoc = m => m.select(col("key").as("id"),
        col("g_domain").as("registered_domain"),
        col("cnt").as("n_docs"), col("amt").cast("long").as("n_tokens")))
}
