package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Continuous rendezvous-shard occupancy — the streaming form of batch
  * q142's per-shard audit: the sink holds, at every instant, each
  * shard's live document count and character total under the
  * highest-random-weight assignment. Assignment is the SAME
  * [[Relational.rendezvousShard]] argmax batch q142 runs (one code
  * path), and it is a pure function of the doc id — so a delete
  * retracts from exactly the shard its insert entered, and the
  * counters ride the generic [[IncrementalAgg]] ± machinery unchanged:
  * O(batch) per batch, bucket-pruned agg reads, count-0 shards leave
  * the sink, replay idempotent by batchId. Character totals are
  * integer-valued doubles (exact addition, bit-for-bit retraction —
  * the cluster-monitor ledger discipline). */
object StreamingSharding {

  private val NShards = 8

  /** Sink documents: (id = shard key, shard, n_docs, n_chars). */
  def shardStatsView(spark: SparkSession, stateDir: String): ViewDef =
    IncrementalAgg.view(spark, stateDir, "shard_stats", "documents",
      IncrementalAgg.GroupSpec(
        Seq("g_shard" ->
          Relational.rendezvousShard(col("doc_id"), NShards).cast("string")),
        live = lit(true),
        amount = length(col("text")).cast("double")),
      toDoc = m => m.select(col("key").as("id"),
        col("g_shard").cast("int").as("shard"),
        col("cnt").as("n_docs"), col("amt").cast("long").as("n_chars")))
}
