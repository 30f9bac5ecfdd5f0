package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Continuous model-quality monitoring — the streaming form of batch
  * q112: the exact tie-corrected AUC (and Gini) of a FROZEN hashed-
  * feature classifier against the heuristic quality labels, maintained
  * as the corpus streams. This is the production loop a curation
  * pipeline runs after deploying a scorer: the model is fixed, the data
  * drifts, and the monitor answers "does the deployed scorer still
  * separate quality on what is arriving NOW" — with full retraction
  * (deleted docs leave the statistic; an update moves a doc between
  * score/label cells).
  *
  * Model freezing follows [[StreamingClusterMonitor]]: the 1024-bucket
  * log-odds weights are bounded driver metadata baked into the score
  * expression as a literal map — scoring is a stateless narrow map, no
  * state read touches text twice.
  *
  * State: one counter row per DISTINCT score value — (cnt, pos) ±
  * (shuffle and state ∝ distinct scores, the q112/q110 posture, never
  * docs). Emit recomputes the Mann-Whitney mid-rank identity over the
  * full counter table — the bounded per-batch seam shared with
  * [[StreamingZipf]]'s re-fit: a cumulative window over distinct-score
  * rows, integer arithmetic until the final division, NULL AUC when a
  * class is empty (the r7 q112 guard). Replay-idempotent by batchId. */
object StreamingAucMonitor {

  private def cntSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("score", DoubleType),
    StructField("cnt", LongType),
    StructField("pos", LongType)))

  /** The frozen scorer: doc score = Σ weight over the doc's DISTINCT
    * hashed unigram buckets (the q85 arithmetic with the weights frozen
    * at deploy time). Exposed for the spec's independent recompute. */
  def scoreExpr(text: Column, weights: Map[Long, Double]): Column = {
    val wMap = typedlit(weights)
    val buckets = array_distinct(transform(
      split(trim(text), "\\s+"),
      tok => pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"),
        lit(1024L))))
    // deterministic fold in bucket-array order; weights are 6-rounded
    // at freeze time so the sum is the q85 decimal ledger's value
    round(aggregate(buckets, lit(0.0),
      (acc, b) => acc + coalesce(element_at(wMap, b), lit(0.0))), 6)
  }

  private val Name = "auc_monitor"

  /** Continuous AUC view over a CDC `documents`-shaped source. Sink:
    * one document id="auc" with (n_pos, n_neg, auc, gini). `weights`:
    * the frozen per-bucket log-odds. */
  def aucView(spark: SparkSession, stateDir: String,
      weights: Map[Long, Double]): ViewDef = {
    val cntTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-cnt")

    ViewDef(Name, (pre, post, batch, ctx) => {
      import spark.implicits._
      val touched = ctx.touched("documents")

      def cells(rows: DataFrame): DataFrame = rows.select(
        scoreExpr(col("text"), weights).as("score"),
        (TextAnalysis.qualityScore(col("text")) >= 0.5).as("hi"))

      // ± per (score) cell: docs entering/leaving/changing score or label
      val deltas = cells(post.rows("documents", touched))
        .select(col("score"), lit(1L).as("d_cnt"),
          when(col("hi"), 1L).otherwise(0L).as("d_pos"))
        .unionByName(cells(pre.rows("documents", touched))
          .select(col("score"), lit(-1L).as("d_cnt"),
            when(col("hi"), -1L).otherwise(0L).as("d_pos")))
        .groupBy("score")
        .agg(sum("d_cnt").as("d_cnt"), sum("d_pos").as("d_pos"))
        .filter(col("d_cnt") =!= 0 || col("d_pos") =!= 0)
      IncrementalAgg.applyDeltas(cntTable,
        deltas.select(col("score").cast("string").as("key"), col("*")),
        "cnt", ctx)

      // emit: the q112 mid-rank identity over the post-merge counter
      // table (bounded distinct-score rows; identical on replay)
      val dist = cntTable.snapshot(cntSchema).select("score", "cnt", "pos")
      // r14: same range-partitioned prefix sum as batch q112 — no
      // partition-less window over the (scale-unbounded) score table
      val s2 = TextAnalysis.aucS2(dist, ctx.cache)
        .select(coalesce(col("s2"), lit(0L)).as("s2"))
      val tot = dist.agg(
        coalesce(sum("pos"), lit(0L)).cast("long").as("p"),
        (coalesce(sum("cnt"), lit(0L)) - coalesce(sum("pos"), lit(0L)))
          .cast("long").as("nn"))
      val defined = col("p") > 0 && col("nn") > 0
      val row = tot.crossJoin(broadcast(s2))
        .select(col("p"), col("nn"),
          when(defined, round((col("s2") - col("p") * (col("p") + 1)) /
            (lit(2.0) * col("p") * col("nn")), 6)).as("auc"),
          when(defined, round((col("s2") - col("p") * (col("p") + 1)) /
            (lit(1.0) * col("p") * col("nn")) - 1.0, 6)).as("gini"))
        .head()

      if (row.getLong(0) + row.getLong(1) <= 0)
        (Seq.empty[String].toDF("id"), Seq("auc").toDF("id"))
      else {
        val outSchema = StructType(Seq(
          StructField("id", StringType), StructField("n_pos", LongType),
          StructField("n_neg", LongType), StructField("auc", DoubleType),
          StructField("gini", DoubleType)))
        val upserts = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            "auc", row.getLong(0), row.getLong(1),
            if (row.isNullAt(2)) null else row.getDouble(2),
            if (row.isNullAt(3)) null else row.getDouble(3))),
          outSchema)
        (upserts, Seq.empty[String].toDF("id"))
      }
    })
  }
}
