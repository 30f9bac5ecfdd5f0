package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * resident documents never re-read text — sharded across `ledgerShards`
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

  private def ledgerSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("source", StringType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("doc_id", StringType),
      StructField("quality", DoubleType)))))))

  /** Continuous per-source cap view over a CDC `documents`-shaped
    * source. Defaults match batch q109: top 10 by quality score. */
  def domainCapView(
      spark: SparkSession, stateDir: String,
      name: String = "domain_cap_view", table: String = "documents",
      textCol: String = "text", sourceCol: String = "source",
      capN: Int = 10, ledgerShards: Int = 16): ViewDef = {
    val ledger =
      new ParquetKeyedTable(spark, s"$stateDir/$name-ledger")

    def shardKey(src: Column, doc: Column): Column =
      Keys.pair(src, pmod(xxhash64(doc), lit(ledgerShards)))

    ViewDef(name, (pre, post, batch, ctx) => {
      val preV = ledger.versionBefore(ctx.batchId)

      val touched = ctx.cache(batch(table).select("key").distinct())

      def docsOf(rows: DataFrame): DataFrame = rows.select(
        col("key").as("doc_id"), col(sourceCol).as("source"),
        graft.operators.TextAnalysis.qualityScore(col(textCol))
          .as("quality"))

      val oldDocs = ctx.cache(docsOf(pre.rows(table, touched)))
      val newDocs = ctx.cache(docsOf(post.rows(table, touched)))

      // every source whose ranking can change, with all its shard keys
      val touchedSources = ctx.cache(oldDocs.select("source")
        .union(newDocs.select("source")).distinct())
      val shardKeys = touchedSources
        .select(col("source"),
          explode(sequence(lit(0), lit(ledgerShards - 1))).as("sh"))
        .select(Keys.pair(col("source"), col("sh")).as("key"))

      val preEntries = ctx.cache(ledger.rowsForKeysAt(preV, ledgerSchema, shardKeys)
        .select(col("source"), explode(col("entries")).as("e"))
        .select(col("source"), col("e.doc_id").as("doc_id"),
          col("e.quality").as("quality")))

      // ledger transition: batch docs' entries replaced wholesale
      val postEntries = ctx.cache(preEntries.join(
          touched.withColumnRenamed("key", "doc_id"), Seq("doc_id"),
          "left_anti")
        .unionByName(newDocs.select("doc_id", "source", "quality")))
      val rows = postEntries
        .groupBy(shardKey(col("source"), col("doc_id")).as("key"),
          col("source"))
        .agg(collect_list(struct(col("doc_id"), col("quality")))
          .as("entries"))
        .select("key", "source", "entries")
      val emptied = shardKeys.join(rows.select("key"), Seq("key"), "left_anti")
      ledger.merge(rows, emptied, ctx.batchId)

      /** Exact q109 rank rows for the touched sources from one ledger
        * image. The window sorts only these sources' entries — the
        * batch-pruned read set, not the corpus (batch q109 itself uses
        * the bounded TopKAggregator; here the sort input is already
        * ledger-pruned and carries string doc ids). */
      def topK(entries: DataFrame): DataFrame = entries
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("rk") <= capN)

      val postTop = ctx.cache(topK(postEntries))
      val upserts = postTop.select(
        Keys.pair(col("source"), col("rk")).as("id"),
        col("source"), col("doc_id"), col("quality"),
        col("rk").cast("long").as("rk"))

      // ranks that existed pre but not post (source shrank/vanished)
      val preCnt = topK(preEntries).groupBy("source")
        .agg(count(lit(1)).as("npre"))
      val postCnt = postTop.groupBy("source")
        .agg(count(lit(1)).as("npost"))
      val deletes = preCnt.join(postCnt, Seq("source"), "left_outer")
        .select(col("source"), col("npre"),
          coalesce(col("npost"), lit(0L)).as("npost"))
        .filter(col("npre") > col("npost"))
        .select(col("source"),
          explode(sequence(col("npost") + 1, col("npre"))).as("rk"))
        .select(Keys.pair(col("source"), col("rk")).as("id"))
      (upserts, deletes)
    })
  }
}
