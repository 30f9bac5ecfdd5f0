package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Streaming cardinality via mergeable HLL sketches — per-language
  * distinct-token counts maintained over a document changelog (the
  * continuous form of q76's vocabulary report).
  *
  * A third state discipline, next to the ± counters (IncrementalAgg)
  * and the set-diff stores (dedup/BM25): the per-group state row is a
  * Datasketches HLL BINARY whose registers MAX-MERGE — each batch
  * reduces its own rows to one partial sketch per touched group
  * (`hll_sketch_agg`, a partial+final aggregate like any sum) and
  * `hll_union`s it into the stored sketch. Properties that matter at
  * 100 TB:
  *  - per-batch cost is O(batch tokens) + one bucket-pruned read of the
  *    touched groups' KB-sized sketches — corpus size never appears;
  *  - union is associative/commutative/idempotent, so the maintained
  *    sketch is BIT-IDENTICAL to a from-scratch sketch of every row
  *    image ever applied (the spec pins exactly that), and replaying a
  *    batch is a no-op even before the batchId guard;
  *  - GROW-ONLY, honestly: HLL registers cannot retract, so deletes and
  *    re-texted updates leave their old tokens in the estimate
  *    (overcount drift). That is the standard production trade — run a
  *    periodic from-scratch rebuild to re-tighten, or keep per-epoch
  *    sketches and union at read time; a fully retractive alternative
  *    needs exact counts per token (the BM25 view's discipline).
  */
object StreamingCardinality {

  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("sketch", BinaryType)))

  private val Group = TextAnalysis.predLang(col("text"))
  private val Tokens = split(trim(col("text")), "\\s+")

  /** Per-language distinct-token sketch view over the `documents`
    * changelog: `Group` classifies a state row (the q31 language
    * scorer), `Tokens` extracts the counted items. */
  def vocabSketch(spark: SparkSession, stateDir: String): ViewDef = {
    val state = new ParquetKeyedTable(
      spark, s"$stateDir/vocab_sketch-state", "key", 8)
    ViewDef("vocab_sketch", (pre, post, batch, ctx) => {
      val touched = batch("documents").select("key").distinct()
      val partials = post.rows("documents", touched)
        .select(Group.as("key"), explode(Tokens).as("tok"))
        .groupBy("key")
        .agg(hll_sketch_agg(col("tok")).as("d_sketch"))
      val preV = state.versionBefore(ctx.batchId)
      val old = state.rowsForKeysAt(preV, stateSchema,
        partials.select("key"))
        .withColumnRenamed("sketch", "o_sketch")
      val merged = partials.join(old, Seq("key"), "left")
        .select(col("key"),
          when(col("o_sketch").isNull, col("d_sketch"))
            .otherwise(hll_union(col("o_sketch"), col("d_sketch")))
            .as("sketch"))
      state.merge(merged, merged.filter(lit(false)).select("key"),
        ctx.batchId)
      val upserts = merged.select(col("key").as("id"),
        col("key").as("lang"),
        hll_sketch_estimate(col("sketch")).as("distinct_tokens"))
      (upserts, merged.filter(lit(false)).select(col("key").as("id")))
    })
  }
}
