package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** The corpus DATASHEET (batch q120) continuously maintained — the
  * one-row release summary kept current as the corpus streams: document
  * and token counts, vocabulary size, exact- and near-duplication
  * rates, decimal-ledger mean quality and language entropy, equal after
  * every micro-batch to the batch query over the materialized state.
  *
  * Each number is maintained by the cheapest machinery that keeps it
  * EXACT under ±:
  *  - doc/token counts and the quality sum live in one running-counter
  *    row; quality enters as INTEGER micro-units (round(q·1e6)), the
  *    [[StreamingClusterMonitor]] ledger — integer-valued doubles add
  *    exactly, so retraction restores the sum bit-for-bit;
  *  - vocabulary size integrates the zero-crossings of the shared token
  *    counters ([[StreamingVocabCoverage.maintainTokenCounters]]);
  *  - distinct-text count integrates fingerprint-group births and
  *    deaths among the touched groups of
  *    [[StreamingExactDedup.maintainFpState]]'s postings (an
  *    [[IncrementalAgg.swapMembers]] store);
  *  - language counts are a bounded per-lang counter table
  *    ([[IncrementalAgg.applyDeltas]]), re-read
  *    whole at emit (language set ≈ dozens — driver-metadata-sized);
  *  - the near-dup doc count is the one honest per-batch seam: it reads
  *    the post-batch label table from
  *    [[StreamingCuration.maintainClusterState]] — duplicate-density-
  *    sized, the same re-contraction cost the curation view already
  *    pays, never corpus-sized.
  *
  * All merges carry the batchId → replay-idempotent; the spec pins the
  * sink row == batch q120 recompute after every micro-batch. */
object StreamingDatasheet {

  private def langSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType)))

  private val Name = "corpus_datasheet"

  def datasheetView(spark: SparkSession, stateDir: String): ViewDef = {
    val statsTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-stats")
    val cntTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-cnt")
    val fpTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-fps")
    val langTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-lang")
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")
    val labelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-labels")

    ViewDef(Name, (pre, post, batch, ctx) => {
      import spark.implicits._
      val touched = ctx.touched("documents")
      val preRows = ctx.cache(pre.rows("documents", touched))
      val postRows = ctx.cache(post.rows("documents", touched))

      // per-row contributions: docs, tokens, quality micro-units
      def contrib(rows: DataFrame, sign: Int): DataFrame = rows.select(
        lit(sign.toLong).as("d_docs"),
        (size(split(trim(col("text")), "\\s+")).cast("long") * sign)
          .as("d_tokens"),
        (round(TextAnalysis.qualityScore(col("text")) * 1e6, 0) * sign)
          .as("d_qmu"))
      val deltas = contrib(postRows, 1).unionByName(contrib(preRows, -1))
        .agg(coalesce(sum("d_docs"), lit(0L)).as("d_docs"),
          coalesce(sum("d_tokens"), lit(0L)).as("d_tokens"),
          coalesce(sum("d_qmu"), lit(0.0)).as("d_qmu"))
        .head()

      // vocabulary delta: token-counter zero-crossings
      def toks(rows: DataFrame): DataFrame = rows
        .select(col("key").as("doc"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      val cNew = StreamingVocabCoverage.maintainTokenCounters(
        cntTable, toks(preRows), toks(postRows), ctx)
      val vocabDelta = cNew.agg(
        coalesce(sum(when(col("o_cnt") <= 0 && col("cnt") > 0, 1L)
          .when(col("o_cnt") > 0 && col("cnt") <= 0, -1L)
          .otherwise(0L)), lit(0L))).head().getLong(0)

      // distinct-text delta: fingerprint-group births − deaths among
      // the touched groups (untouched groups cannot change existence)
      val fs = StreamingExactDedup.maintainFpState(
        fpTable, pre, post, touched, ctx, "text")
      val textsDelta =
        fs.postMembers.select("fp").distinct().count() -
          fs.preMembers.select("fp").distinct().count()

      // language counters ±
      val langDeltas = postRows.select(col("lang"))
        .groupBy("lang").agg(count(lit(1)).as("post_n"))
        .join(preRows.select(col("lang"))
          .groupBy("lang").agg(count(lit(1)).as("pre_n")),
          Seq("lang"), "full_outer")
        .select(col("lang").as("key"),
          (coalesce(col("post_n"), lit(0L)) - coalesce(col("pre_n"), lit(0L)))
            .as("d_cnt"))
        .filter(col("d_cnt") =!= 0)
      IncrementalAgg.applyDeltas(langTable, langDeltas, "cnt", ctx)

      // near-dup pair/label maintenance — the duplicate-density seam
      val cs = StreamingCuration.maintainClusterState(
        sigTable, bucketTable, pairTable, labelTable, post, touched, ctx)
      val nNearDocs = cs.newLabels.count()

      // running-counter transition: a one-row ± fold, the row retracting
      // with the corpus
      val sheet = IncrementalAgg.applyDeltas(statsTable,
        Seq(("all", deltas.getLong(0), deltas.getLong(1), deltas.getDouble(2),
          vocabDelta, textsDelta)).toDF("key", "d_n_docs", "d_n_tokens",
          "d_q_mu", "d_n_vocab", "d_n_texts"), "n_docs", ctx).merged.head()
      val nDocs = sheet.getAs[Long]("n_docs")
      val nTokens = sheet.getAs[Long]("n_tokens")
      val qMu = sheet.getAs[Double]("q_mu")
      val nVocab = sheet.getAs[Long]("n_vocab")
      val nTexts = sheet.getAs[Long]("n_texts")

      if (nDocs <= 0) {
        // empty corpus: the datasheet row retracts (rates are undefined)
        (Seq.empty[String].toDF("id"), Seq("datasheet").toDF("id"))
      } else {
        // entropy over the bounded post-merge language table (identical
        // on replay — merge skipped, version already post-batch)
        val langEnt = langTable.snapshot(langSchema)
          .select(round(-(col("cnt") * 1.0 / nDocs) *
              log(col("cnt") * 1.0 / nDocs), 9)
            .cast("decimal(18,9)").as("term"))
          .agg(round(sum("term").cast("double"), 6))
          .head().getDouble(0)
        def r6(x: Double): Double = new java.math.BigDecimal(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        val upserts = Seq((
          "datasheet", nDocs, nTokens, nVocab, nTexts,
          r6((nDocs - nTexts).toDouble / nDocs),
          r6(nNearDocs.toDouble / nDocs),
          r6(qMu / 1e6 / nDocs),
          langEnt))
          .toDF("id", "n_docs", "n_tokens", "n_vocab", "n_distinct_texts",
            "exact_dup_rate", "neardup_doc_rate", "mean_quality",
            "lang_entropy")
        (upserts, Seq.empty[String].toDF("id"))
      }
    })
  }
}
