package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Continuously-maintained histogram quantiles per source — the
  * streaming form of batch q131's ESTIMATE side, and the reason that
  * side exists: the fixed-width bucket histogram is a LINEAR sketch
  * (counts add under insert and subtract under delete/update — the
  * [[StreamingCms]] turnstile discipline applied to order statistics),
  * so p50/p90/p99 of document length per source are maintained exactly
  * as the batch histogram would compute them, at O(|batch|) cost. The
  * exact-quantile path CANNOT be maintained this way — its per-value
  * table grows with the corpus — which is precisely the trade q131's
  * calibration column prices.
  *
  * State is the (source, bucket) counter table — bounded by
  * |sources| × (max n_chars / 64) rows regardless of corpus size.
  * Quantile recomputation per batch reads only the touched sources'
  * rows and calls the SAME [[TextAnalysis.quantilesFromCounts]] fold
  * the batch query uses (one code path, pinned once). */
object StreamingHistQuantiles {

  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("source", StringType),
    StructField("k", LongType), StructField("cnt", LongType)))

  private def bucketCounts(rows: DataFrame, lenCol: org.apache.spark.sql.Column,
      sign: Int): DataFrame =
    rows.select(col("source"), (lenCol.cast("long") / 64).cast("long").as("k"))
      .groupBy("source", "k").agg((count(lit(1)) * sign).as("d"))

  /** Sink documents: (id = source, n, p50_est, p90_est, p99_est). The
    * measured length is `length(text)` — the live-state analog of the
    * fixture's n_chars column. */
  def histView(spark: SparkSession, stateDir: String): ViewDef = {
    val state = new ParquetKeyedTable(
      spark, s"$stateDir/histq-state", "key", 8)
    ViewDef("hist_quantiles", (pre, post, batch, ctx) => {
      val touched = batch("documents").select("key").distinct()
      val len = length(col("text"))
      val delta = bucketCounts(post.rows("documents", touched), len, 1)
        .unionAll(bucketCounts(pre.rows("documents", touched), len, -1))
        .groupBy("source", "k").agg(sum("d").as("d_cnt"))
        .filter(col("d_cnt") =!= 0)
      val merged = IncrementalAgg.applyDeltas(state, delta.select(
        concat(col("source"), lit("|"), col("k")).as("key"),
        col("source"), col("k"), col("d_cnt")), "cnt", ctx).merged
      // re-answer ONLY the touched sources from their (bounded) bucket
      // rows — post-merge state, so read at the store's current version
      val touchedSources = merged.select("source").distinct()
      val liveBuckets = state.snapshot(stateSchema)
        .join(touchedSources, "source")
        .select(col("source"), col("k"), col("cnt").as("c"))
      val answers = TextAnalysis.quantilesFromCounts(liveBuckets,
        col("k") * 64)
      val upserts = answers.select(col("source").as("id"), col("n"),
        col("p50").as("p50_est"), col("p90").as("p90_est"),
        col("p99").as("p99_est"))
      val deletes = touchedSources.select(col("source").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
