package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.KMeans

/** Continuously-maintained SemDeDup removals — the streaming form of
  * batch q101 (Abbas et al. 2023: embedding dedup within trained
  * clusters only) over a CDC embeddings-shaped source, under a FROZEN
  * clustering model (the [[StreamingIvfPq]] posture: training is an
  * offline batch job, maintenance is online; new vectors are assigned
  * with the frozen centroids). The sink holds, at every instant, one
  * document per REMOVED vector: id = vec key, fields (vec_id, cluster,
  * n_dups, max_cos) — exactly what batch [[KMeans.semDedup]] computes
  * over the materialized corpus with the same model (keep-lowest-key:
  * state keys are strings, so the survivor order is the key order — the
  * spec pins batch == incremental under the same ordering).
  *
  * State: one posting list per cluster (cluster → member keys). Vectors
  * themselves are NOT duplicated into view state — they live in the
  * pipeline's materialized `embeddings` table and are fetched by key
  * (bucket-pruned) when a cluster re-scores.
  *
  * Maintenance is affected-CLUSTER recomputation: a batch vector
  * entering, leaving, or moving between clusters changes the removal
  * rows only of members of those clusters (a removal row for b counts
  * smaller-key same-cluster partners with cosine ≥ τ — cross-cluster
  * pairs never exist, the SemDeDup premise). Per batch: assign the
  * batch's pre and post vectors with the frozen model (narrow map, k×dim
  * literal centroids), update the touched clusters' posting lists
  * (idempotent-by-batchId), then re-derive those clusters' removal rows
  * from pre state (retract superset) and post state (upserts) with the
  * batch q101 join itself. Per-batch cost is O(Σ touched-cluster size²)
  * — the same Σ|c|² bound the batch algorithm's tractability rests on
  * (clusters stay bounded because k is trained ∝ n), and untouched
  * clusters are never read, let alone re-scored.
  */
object StreamingSemDeDup {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  private val Name = "semdedup_view"
  private val Tau = 0.45

  /** Continuous SemDeDup view. `model` is the frozen clustering;
    * constants match batch q101 (τ = 0.45). */
  def semDedupView(
      spark: SparkSession, stateDir: String, model: KMeans.Model): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-post")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("embeddings").select("key").distinct())

      def assigned(rows: DataFrame): DataFrame = model
        .assign(rows.select(col("key").as("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v")))
        .select(col("vec_id"), col("cluster").cast("string").as("cluster"))

      val oldAssign = ctx.cache(assigned(pre.rows("embeddings", touched)))
      val newAssign = ctx.cache(assigned(post.rows("embeddings", touched)))

      val affected = ctx.cache(oldAssign.select("cluster")
        .union(newAssign.select("cluster")).distinct()
        .withColumnRenamed("cluster", "key"))

      val sw = IncrementalAgg.swapMembers(postings, postSchema, affected,
        touched, newAssign.select(col("cluster").as("key"), col("vec_id")),
        ctx)

      /** Batch q101 removal rows for the touched clusters from one state
        * image: member vectors fetched by key (bucket-pruned), then
        * [[KMeans.semDedup]]'s own within-cluster join — restricted to a
        * SINGLE-cluster assignment frame, so the shared code path is the
        * pinned one. */
      def score(members: DataFrame, state: StateAccess): DataFrame = {
        val keys = members.select(col("vec_id").as("key")).distinct()
        val vecs = state.rows("embeddings", keys)
          .select(col("key").as("vec_id"),
            col("embedding").cast(ArrayType(DoubleType)).as("v"))
        // re-assign from the frozen model rather than trusting the
        // posting side: identical by determinism, and keeps semDedup's
        // contract (one cluster per vector) locally checkable
        KMeans.semDedup(vecs, model, Tau)
      }

      val postScore = ctx.cache(score(sw.post, post))
      val preScore = score(sw.pre, pre)

      val upserts = postScore.select(
        col("vec_id").as("id"), col("vec_id"),
        col("cluster").cast("string").as("cluster"),
        col("n_dups"), col("max_cos"))
      val deletes = preScore.select(col("vec_id").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
