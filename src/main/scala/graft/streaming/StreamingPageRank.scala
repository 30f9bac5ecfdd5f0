package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental PageRank over the near-dup pair graph (q81's continuous
  * form): the sink holds, at every instant, each graph node's 10-round
  * damped UNIT rank — the q81 iteration seeded with r₀ = 1 and teleport
  * 0.15 instead of 1/n and 0.15/n.
  *
  * Why unit rank: the q81 recursion r' = 0.15/n + 0.85·M·r with
  * r₀ = (1/n)·𝟙 is LINEAR in 1/n, so after any fixed number of rounds
  * r = u/n where u is the unit iterate — but n (the global node count)
  * changes whenever any component gains or loses a node, which would
  * force every rank in every untouched component to be re-emitted per
  * batch. The unit rank is the component-LOCAL quantity: it depends
  * only on the node's own component's edges, so it is exactly the part
  * that can be maintained incrementally. Consumers price the global
  * normalization at read time (rank = unit_rank / n with n = sink row
  * count) — the [[StreamingBm25]] posture for global statistics, and
  * the same move q110 makes for thresholds.
  *
  * Per micro-batch:
  *
  *   1. pair + cluster-label maintenance — the SHARED
  *      [[StreamingCuration.maintainClusterState]] ladder (sign only
  *      the batch, bucket-pruned retract+discover, star re-contraction),
  *   2. affected components: a pair can only change through a touched
  *      signature, so every changed edge has a batch doc as one
  *      endpoint, and both endpoints of any edge share a component —
  *      therefore the components needing re-rank are exactly those
  *      holding a batch doc or a label-diff doc, under the PRE- or
  *      POST-batch labeling (the pre-batch side catches the half of a
  *      split component that kept its old label),
  *   3. rank: the q81 contribution-passing rounds run over ONLY the
  *      affected components' edges — work ∝ touched-component edges,
  *      never the whole graph, and untouched components' sink rows are
  *      not even read. Nodes that left the graph (degree → 0) delete.
  *
  * 100 TB posture: steps 1–2 are the curated-view ladder (O(batch +
  * collisions), duplicate-density-sized contraction); step 3's loop is
  * the honest Pregel price, paid only for the components the batch
  * touched. The spec pins the sink against an independent in-memory
  * unit-rank recompute of the CURRENT corpus after every batch, and
  * unit/n against the q81-normalized recompute. */
object StreamingPageRank {

  private def pairSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("doc_a", StringType),
    StructField("doc_b", StringType)))

  private def labelSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cluster_id", StringType)))

  private val Name = "dup_pagerank"
  private val Rounds = 10

  def pageRankView(spark: SparkSession, stateDir: String): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")
    val labelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-labels")

    ViewDef(Name, (pre, post, batch, ctx) => {
      // pre-batch labels BEFORE maintainClusterState merges the new ones
      // (versionBefore also makes this replay-stable)
      val preLabelV = labelTable.versionBefore(ctx.batchId)
      val oldLabels = labelTable.snapshotAt(preLabelV, labelSchema)

      val touched = ctx.cache(batch("documents").select("key").distinct())
      val cs = StreamingCuration.maintainClusterState(
        sigTable, bucketTable, pairTable, labelTable, post, touched, ctx)

      // 2. components whose rank vector may have changed: pre- and
      // post-batch cluster ids of batch ∪ label-diff docs
      val changed = touched.union(cs.labelDiff).distinct()
      val affectedCids = ctx.cache(oldLabels.join(changed, Seq("key"))
        .select("cluster_id")
        .union(cs.newLabels.join(changed, Seq("key")).select("cluster_id"))
        .distinct())

      // nodes/edges of the affected components under the POST labeling
      // (both endpoints of an edge share a cluster, so labeling doc_a
      // suffices to classify the edge)
      val affNodes = ctx.cache(cs.newLabels.join(affectedCids, Seq("cluster_id"))
        .select("key"))
      val postPairs = pairTable
        .snapshotAt(pairTable.version, pairSchema)
        .join(affNodes.withColumnRenamed("key", "doc_a"), Seq("doc_a"))
        .select("doc_a", "doc_b")

      // 3. q81's contribution-passing rounds, unit-seeded, over the
      // affected subgraph only. checkpoint() per round: the iteration
      // nests plans exactly like batch q81 (same rationale in-file
      // there); the graph here is affected-components-sized.
      val edges = postPairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(postPairs.select(col("doc_b").as("u"),
          col("doc_a").as("v")))
        .checkpoint()
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val contribEdges = edges.join(deg, "u").checkpoint()
      var ranks = deg.select(col("u").as("node"), lit(1.0).as("rank"))
      for (_ <- 1 to Rounds) {
        ranks = contribEdges
          .join(ranks, contribEdges("u") === ranks("node"))
          .groupBy(col("v"))
          .agg((lit(0.15) + lit(0.85) *
            sum(col("rank") / col("deg"))).as("rank"))
          .select(col("v").as("node"), col("rank"))
          .checkpoint()
      }

      val upserts = ctx.cache(ranks
        .select(col("node").as("id"),
          round(col("rank"), 6).as("unit_rank")))
      // nodes of affected components that no longer carry any edge —
      // including docs deleted outright — leave the sink
      val deletes = affNodes.select(col("key").as("id"))
        .union(oldLabels.join(affectedCids, Seq("cluster_id"))
          .select(col("key").as("id")))
        .distinct()
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
