package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuously-maintained per-source document cap — the streaming form
  * of batch q109 (keep the top `capN` documents per source by quality
  * score). The sink holds, at every instant, one document per kept rank:
  * id = source|rk, fields (source, doc_id, quality, rk) — identical to
  * what batch q109 computes over the materialized corpus.
  *
  * Top-k under a ± changelog cannot keep only the top k as state: a
  * DELETE of a kept document must promote the current (k+1)-th, which
  * requires knowing everyone below the cut. The view therefore keeps a
  * per-source LEDGER of (doc_id, quality) — quality memoized at write so
  * resident documents never re-read text — sharded across `LedgerShards`
  * state keys per source (the [[StreamingBm25]] posting-shard pattern):
  * one source's ledger is spread over bounded-width rows instead of one
  * giant array row, and a batch reads exactly the touched sources'
  * shards, never the corpus.
  *
  * Per batch: touched sources = pre ∪ post sources of the batch docs (an
  * UPDATE can move a doc between sources — both sides re-rank); ledger
  * rows of those sources are read pre-version-pinned, batch docs'
  * entries replaced, merged back idempotent-by-batchId; then the top-k
  * of each touched source is recomputed from its updated ledger and
  * diffed against the pre-ledger top-k — rank rows that vanish (source
  * shrank below the cap, or disappeared) become deletes. The re-rank
  * window sorts only TOUCHED sources' ledger entries — per-batch cost is
  * O(batch + touched sources' ledger), nothing scans unaffected sources.
  */
object StreamingDomainCap {

  /** The source-cap ledger: (key = source|shard, entries of the shard's
    * docs as (doc_id, source, quality)) — an [[IncrementalAgg.swapMembers]]
    * store, shared with [[StreamingPipelineCorpus]]. */
  private def ledgerSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("doc_id", StringType),
      StructField("source", StringType),
      StructField("quality", DoubleType)))))))

  private val Name = "domain_cap_view"
  private val LedgerShards = 16

  /** One batch of a source-cap ledger and its rank rows: the `touched`
    * docs leave the ledger shards of the `sources` whose ranking can
    * change and `fresh` (doc_id, source, quality) enter; then the exact
    * top `capN` per source (quality DESC, doc_id ASC — the batch
    * TopKAggregator's order) is ranked over the post-batch ledger.
    * Returns the post-batch rank rows (source, doc_id, quality, rk),
    * batch-cached, and the ids (source|rk) of ranks that existed pre
    * but not post (the source shrank below the cap, or vanished). The
    * rank window sorts only the touched sources' entries — the
    * batch-pruned read set, never the corpus. */
  private[streaming] def ledgerRanks(ledger: ParquetKeyedTable,
      sources: DataFrame, touched: DataFrame, fresh: DataFrame, capN: Int,
      ctx: BatchCtx): (DataFrame, DataFrame) = {
    val sw = IncrementalAgg.swapMembers(ledger, ledgerSchema,
      sources.select(col("source"),
          explode(sequence(lit(0), lit(LedgerShards - 1))).as("sh"))
        .select(Keys.pair(col("source"), col("sh")).as("key")),
      touched,
      fresh.select(Keys.pair(col("source"),
          pmod(xxhash64(col("doc_id")), lit(LedgerShards))).as("key"),
        col("doc_id"), col("source"), col("quality")), ctx)
    def topK(entries: DataFrame): DataFrame = entries
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rk") <= capN)
    val postTop = ctx.cache(topK(sw.post))
    val preCnt = topK(sw.pre).groupBy("source")
      .agg(count(lit(1)).as("npre"))
    val postCnt = postTop.groupBy("source")
      .agg(count(lit(1)).as("npost"))
    val gone = preCnt.join(postCnt, Seq("source"), "left_outer")
      .select(col("source"), col("npre"),
        coalesce(col("npost"), lit(0L)).as("npost"))
      .filter(col("npre") > col("npost"))
      .select(col("source"),
        explode(sequence(col("npost") + 1, col("npre"))).as("rk"))
      .select(Keys.pair(col("source"), col("rk")).as("id"))
    (postTop, gone)
  }

  /** Continuous per-source cap view over a CDC `documents`-shaped
    * source. Defaults match batch q109: top `capN` = 10 by quality score. */
  def domainCapView(
      spark: SparkSession, stateDir: String, capN: Int = 10): ViewDef = {
    val ledger =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-ledger")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")

      def docsOf(rows: DataFrame): DataFrame = rows.select(
        col("key").as("doc_id"), col("source"),
        graft.operators.TextAnalysis.qualityScore(col("text"))
          .as("quality"))

      val oldDocs = docsOf(pre.rows("documents", touched))
      val newDocs = ctx.cache(docsOf(post.rows("documents", touched)))

      // every source whose ranking can change: an UPDATE can move a doc
      // between sources, so both sides re-rank
      val (postTop, deletes) = ledgerRanks(ledger,
        oldDocs.select("source").union(newDocs.select("source")).distinct(),
        touched, newDocs, capN, ctx)
      val upserts = postTop.select(
        Keys.pair(col("source"), col("rk")).as("id"),
        col("source"), col("doc_id"), col("quality"),
        col("rk").cast("long").as("rk"))
      (upserts, deletes)
    })
  }
}
