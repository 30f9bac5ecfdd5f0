package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Streaming held-out bigram language model — q88's add-one-smoothed
  * quality LM kept continuously current over a CDC `documents` source,
  * the model-side sibling of [[StreamingBm25]]: the training counts are
  * maintained ± per micro-batch, and SCORING is priced at read time
  * ([[score]]), because a count drift changes every resident document's
  * perplexity — materializing per-doc scores would mean rescoring the
  * corpus on every write, the exact thing the BM25 view's idf-at-read
  * design avoids.
  *
  * Model state (all running counters — reads pin the pre-batch version,
  * merges carry the batchId, the [[IncrementalAgg]] replay discipline):
  *   - c2: bigram → count over the heuristic-high-quality subset
  *     (gram-keyed, the batch aggregate's shape),
  *   - c1: left-context → Σ c2 (token-keyed),
  *   - vtok: token → endpoint-occurrence count (membership in the
  *     smoothing vocabulary flips at 0↔1),
  *   - stats: one row holding |V| — maintained by vtok flips so a read
  *     never counts the vocabulary table.
  *
  * A document contributes iff ITS OWN text passes the quality gate
  * (hi = quality ≥ 0.5 — a pure function of the row), so an update can
  * move a doc in or out of the training subset and the ± contributions
  * follow from the pre/post images alone. Per-batch cost is O(batch
  * bigrams + affected gram rows); nothing rescans resident documents.
  *
  * Sink documents mirror the changed model rows (observable like every
  * view): one doc per live c2 row (id = "w1|w2", w1, w2, cnt) plus a
  * "corpus|stats" doc with v_count; emptied bigrams are retracted.
  */
object StreamingLm {

  private def c2Schema = StructType(Seq(
    StructField("key", StringType),
    StructField("w1", StringType),
    StructField("w2", StringType),
    StructField("cnt", LongType)))
  private def cntSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType)))
  private def statsSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("v_count", LongType)))

  private val Name = "lm_model"

  /** The model's stores, opened the same way by the writer ([[lmView]])
    * and the reader ([[score]]). */
  private def tables(spark: SparkSession, stateDir: String) = (
    new ParquetKeyedTable(spark, s"$stateDir/$Name-c2"),
    new ParquetKeyedTable(spark, s"$stateDir/$Name-c1"),
    new ParquetKeyedTable(spark, s"$stateDir/$Name-vtok"),
    new ParquetKeyedTable(spark, s"$stateDir/$Name-stats"))

  /** Continuous model-maintenance view. */
  def lmView(spark: SparkSession, stateDir: String): ViewDef = {
    val (c2Table, c1Table, vTable, statsTable) = tables(spark, stateDir)

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")

      // signed bigram contributions of one state image's hi docs
      def bigrams(rows: DataFrame, sign: Int): DataFrame = rows
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .select(col("key"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("key"), col("w"),
          posexplode(slice(col("w"), lit(1),
            greatest(size(col("w")) - 1, lit(0)))).as(Seq("p0", "w1")))
        .select(col("w1"), element_at(col("w"), col("p0") + 2).as("w2"),
          lit(sign.toLong).as("d"))

      val biDeltas = ctx.cache(bigrams(pre.rows("documents", touched), -1)
        .unionByName(bigrams(post.rows("documents", touched), 1))
        .groupBy("w1", "w2").agg(sum("d").as("d"))
        .filter(col("d") =!= 0))

      // c2 (carries w1/w2 for the sink)
      val c2 = IncrementalAgg.applyDeltas(c2Table, biDeltas
        .select(Keys.pair(col("w1"), col("w2")).as("key"),
          col("w1"), col("w2"), col("d").as("d_cnt")), "cnt", ctx)

      // c1 = Σ c2 by left context
      IncrementalAgg.applyDeltas(c1Table,
        biDeltas.select(col("w1").as("key"), col("d").as("d_cnt")), "cnt", ctx)

      // vocabulary refcounts: each bigram row contributes one endpoint
      // occurrence per side; |V| moves by the membership flips
      val vMerged = IncrementalAgg.applyDeltas(vTable, biDeltas
        .select(explode(array(col("w1"), col("w2"))).as("key"),
          col("d").as("d_cnt")), "cnt", ctx).merged
      val flips = vMerged
        .select(when(col("cnt") > 0 && col("o_cnt") <= 0, 1L)
          .when(col("cnt") <= 0 && col("o_cnt") > 0, -1L)
          .otherwise(0L).as("f"))
        .agg(coalesce(sum("f"), lit(0L)).as("d_v_count"))
      val statsNew = IncrementalAgg.applyDeltas(statsTable,
        flips.select(lit("corpus").as("key"), col("d_v_count")), "v_count",
        ctx).merged

      val upserts = c2.live
        .select(col("key").as("id"), col("w1"), col("w2"), col("cnt"))
        .unionByName(statsNew
          .select(lit("corpus|stats").as("id"), lit(null).cast("string").as("w1"),
            lit(null).cast("string").as("w2"), col("v_count").as("cnt")))
      val deletes = c2.dead.select(col("key").as("id"))
      (upserts, deletes)
    })
  }

  /** Score a (key, text) document frame against the CURRENT model —
    * identical formula, rounding and DECIMAL discipline to batch q88,
    * so the result equals a batch recompute over the corpus the model
    * has absorbed. Reads c2 rows for the frame's bigrams and c1 rows
    * for its left contexts (bucket-pruned) plus the 1-row |V| — cost
    * tracks the scored frame, never the model or corpus size. Docs with
    * fewer than two tokens are absent, like the batch form. */
  def score(
      spark: SparkSession, stateDir: String, docs: DataFrame): DataFrame = {
    val (c2Table, c1Table, vTable, statsTable) = tables(spark, stateDir)

    val bi = docs
      .select(col("key").as("doc_id"),
        split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(slice(col("w"), lit(1),
          greatest(size(col("w")) - 1, lit(0)))).as(Seq("p0", "w1")))
      .select(col("doc_id"), col("w1"),
        element_at(col("w"), col("p0") + 2).as("w2"))
    val c2 = c2Table.rowsForKeys(c2Schema,
        bi.select(Keys.pair(col("w1"), col("w2")).as("key")))
      .select(col("w1"), col("w2"), col("cnt").as("c2"))
    val c1 = c1Table.rowsForKeys(cntSchema,
        bi.select(col("w1").as("key")))
      .select(col("key").as("w1"), col("cnt").as("c1"))
    // default |V| = 0 when the model is empty, so an unscorable corpus
    // still yields rows (inf nll) exactly like the batch form's
    // empty-subset aggregate
    val v = statsTable.rowsForKeys(statsSchema,
        spark.createDataFrame(Seq(Tuple1("corpus"))).toDF("key"))
      .select(col("v_count"))
      .unionByName(spark.createDataFrame(Seq(Tuple1(0L))).toDF("v_count"))
      .agg(max("v_count").as("v"))
    bi.join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"), "left_outer")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(-log((coalesce(col("c2"), lit(0L)) + 1.0) /
            (coalesce(col("c1"), lit(0L)) + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("nll").cast("double") / count(lit(1)), 6).as("avg_nll"))
  }
}
