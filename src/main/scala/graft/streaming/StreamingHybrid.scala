package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Hybrid retrieval over LIVE indexes — batch q167's read path composed
  * from the two maintained index surfaces: the sign-LSH ANN buckets
  * ([[StreamingAnn]], dense) and the sharded BM25 postings
  * ([[StreamingBm25]], sparse), fused by the SAME
  * [[Retrieval.rrfFuse]] the batch query runs (one code path, pinned
  * once — the kappaFromCells posture). As documents and embeddings
  * change under CDC, a hybrid search answers from the current corpus
  * without either index being rebuilt — the serving-side composition a
  * RAG stack runs against a continuously-ingested corpus.
  *
  * Read cost: the ANN side reads the probes' bucket rows + candidate
  * vectors (pruned); the sparse side reads the union query-term
  * postings once (pruned point lookups); fusion touches two top-`kR`
  * lists per probe. Nothing scans the corpus. */
object StreamingHybrid {

  /** @param probes      (query_id, qv) dense probe vectors
    * @param probeTerms  per-probe sparse term sets (the
    *                    "more-like-this" query side)
    * @param fetchVectors keyed state lookup resolving candidate vector
    *                    keys ([[CdcPipeline.stateRows]]-backed) */
  def search(
      spark: SparkSession, stateDir: String,
      probes: DataFrame, probeTerms: Seq[(Long, Seq[String])],
      fetchVectors: DataFrame => DataFrame,
      kR: Int = 20, kF: Int = 10,
      annName: String = "ann_index", bm25Name: String = "bm25_index",
      nShards: Int = 4): DataFrame = {
    val dense = StreamingAnn.search(spark, stateDir, probes, fetchVectors,
      kR, annName)
      .select(col("query_id"), col("neighbor_id").as("id"),
        col("rank").as("rnk"))
    val sparse = StreamingBm25.searchMany(spark, stateDir, probeTerms,
      bm25Name, nShards)
      // the probe itself never ranks (its own terms trivially match);
      // ties break on the NUMERIC id, exactly batch q167's rank order
      // (string doc keys would order "10" before "2")
      .filter(col("doc") =!= col("query_id").cast("string"))
      .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("bm25").desc, col("doc").cast("long"))))
      .filter(col("rnk") <= kR)
      .select(col("query_id"), col("doc").cast("long").as("id"), col("rnk"))
    Retrieval.rrfFuse(dense, sparse, kF)
  }
}
