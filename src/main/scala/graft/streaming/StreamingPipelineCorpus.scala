package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, TextAnalysis}

/** The FULL pretraining-corpus build (batch q115) as a continuously-
  * maintained view — the capstone of the streaming matrix: the sink
  * holds, at every instant, exactly the composed pipeline's output over
  * the CURRENT document state. Every stage is the streaming form that
  * already exists standalone, composed over SHARED state:
  *
  *   1. Gopher admission + the b < 90 content-hash train split —
  *      stateless row arithmetic ([[StreamingGopher]]'s posture);
  *   2. exact dedup over the full corpus —
  *      [[StreamingExactDedup.maintainFpState]]'s fingerprint postings
  *      (an [[IncrementalAgg.swapMembers]] store);
  *   3. near-dup survivor selection over the full corpus —
  *      [[StreamingCuration.maintainClusterState]]'s pair + label
  *      machinery (the q39 lesson applied twice: dedup sees gated-out
  *      and held-out duplicates);
  *   4. decontamination against the held-out (b ≥ 90) splits —
  *      [[StreamingDecontamination.maintainGramState]]'s
  *      holdout-gram-count + train-inverted-index transition tracking;
  *   5. the per-source cap — [[StreamingDomainCap]]'s sharded
  *      eligible-doc ledger, here keyed on ELIGIBILITY (a doc enters the
  *      ledger only while it survives stages 1–4), re-ranking only the
  *      touched sources;
  *   6. emitted rank rows carry the PII-redaction signature of their
  *      post-state text (a pruned read of ≤ capN × touched-sources
  *      rows).
  *
  * The affected-doc set per batch is the union of each stage's own
  * retraction frontier: the batch docs (text/source changed), the label
  * diff (cluster membership changed), the touched fingerprint groups'
  * members (exact-survivor hand-off), and the transitioned grams' train
  * holders (contamination flipped without the doc itself changing). Each
  * frontier is exactly the standalone view's — composing adds no new
  * scan class, and per-batch cost stays O(batch + frontiers + touched
  * sources' ledger), never a corpus re-scan. All state merges carry the
  * batchId → replay-idempotent; `StreamingPipelineCorpusSpec` pins the
  * sink == a batch-q115 recompute over the materialized state after
  * EVERY micro-batch, including survivor hand-off, contamination
  * appearing for an untouched resident doc, cap eviction and replay.
  */
object StreamingPipelineCorpus {

  private def ledgerSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("source", StringType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("doc_id", StringType),
      StructField("quality", DoubleType)))))))

  /** Continuous composed-pipeline view over a CDC `documents`-shaped
    * source with a source column. Sink documents: id = source|rk,
    * fields (source, doc_id, quality, rk, clean_sig). Defaults match
    * batch q115: word 3-shingles ≥ 0.8 for near-dup, word 5-grams for
    * decon, top 10 per source by quality, min-id near-dup survivors.
    * `policy = BestQuality` swaps in q153's argmax survivor rule at
    * the near-dup stage (the composed form of the curatedView policy —
    * the affected frontier widens by the touched clusters' members,
    * exactly [[StreamingCuration.survivorLosers]]'s contract). */
  def pipelineView(
      spark: SparkSession, stateDir: String,
      name: String = "pipeline_corpus", table: String = "documents",
      textCol: String = "text", sourceCol: String = "source",
      capN: Int = 10, threshold: Double = 0.8,
      bandRows: Int = 2, nBands: Int = 32, shingleN: Int = 3,
      gramN: Int = 5, ledgerShards: Int = 16,
      policy: StreamingCuration.SurvivorPolicy =
        StreamingCuration.SurvivorPolicy.MinId): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-pairs")
    val labelTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-labels")
    val fpTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-fps")
    val hTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-hgrams")
    val tTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-tgrams")
    val ledger =
      new ParquetKeyedTable(spark, s"$stateDir/$name-ledger")

    def shardKey(src: Column, doc: Column): Column =
      Keys.pair(src, pmod(xxhash64(doc), lit(ledgerShards)))

    ViewDef(name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch(table).select("key").distinct())

      // shared-state maintenance — each stage's standalone machinery
      val cs = StreamingCuration.maintainClusterState(
        sigTable, bucketTable, pairTable, labelTable, post, batch, ctx,
        table, textCol, threshold, bandRows, nBands, shingleN)
      val fs = StreamingExactDedup.maintainFpState(
        fpTable, pre, post, touched, ctx, table, textCol)
      val gs = StreamingDecontamination.maintainGramState(
        hTable, tTable, pre, post, touched, ctx, table, textCol, gramN)

      // every doc whose pipeline verdict can have changed this batch;
      // under BestQuality the near-dup stage additionally pulls in the
      // touched clusters' members (survivorLosers' widened frontier)
      val affected0 = touched
        .union(cs.labelDiff)
        .union(fs.affectedMembers)
        .union(gs.transHolders)
        .distinct()
      val (affected, nearLosers) = StreamingCuration.survivorLosers(
        policy, cs.newLabels, affected0, post, table, textCol, ctx)

      // eligibility of the affected docs from post state: train split ∧
      // Gopher keep ∧ exact survivor ∧ near-dup survivor ∧ clean
      val live = ctx.cache(post.rows(table, affected)
        .select(col("key"), col(textCol).as("text"),
          col(sourceCol).as("source")))
      val bucket = pmod(
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
        lit(100L))
      val gateKeep = TextAnalysis.gopherRules(
          live.select(col("key"), col("text")), col("key"))
        .filter(col("keep")).select("key")
      val exactLosers = fs.losersAmong(affected)
      val contaminated = gs.sharedCounts(affected)
        .select(col("id").as("key"))
      val eligible = ctx.cache(live.filter(bucket < 90)
        .join(gateKeep, Seq("key"), "left_semi")
        .join(exactLosers, Seq("key"), "left_anti")
        .join(nearLosers, Seq("key"), "left_anti")
        .join(contaminated, Seq("key"), "left_anti")
        .select(col("key").as("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")))

      // per-source eligible-doc ledger (the StreamingDomainCap shape):
      // affected docs' entries replaced wholesale by their new
      // eligibility; only the touched sources' shards are read
      val preV = ledger.versionBefore(ctx.batchId)
      val touchedSources = ctx.cache(pre.rows(table, affected)
        .select(col(sourceCol).as("source"))
        .union(live.select("source")).distinct())
      val shardKeys = touchedSources
        .select(col("source"),
          explode(sequence(lit(0), lit(ledgerShards - 1))).as("sh"))
        .select(Keys.pair(col("source"), col("sh")).as("key"))
      val preEntries = ctx.cache(ledger.rowsForKeysAt(preV, ledgerSchema, shardKeys)
        .select(col("source"), explode(col("entries")).as("e"))
        .select(col("source"), col("e.doc_id").as("doc_id"),
          col("e.quality").as("quality")))
      val postEntries = ctx.cache(preEntries.join(
          affected.withColumnRenamed("key", "doc_id"), Seq("doc_id"),
          "left_anti")
        .unionByName(eligible.select("doc_id", "source", "quality")))
      val rows = postEntries
        .groupBy(shardKey(col("source"), col("doc_id")).as("key"),
          col("source"))
        .agg(collect_list(struct(col("doc_id"), col("quality")))
          .as("entries"))
        .select("key", "source", "entries")
      val emptiedShards = shardKeys
        .join(rows.select("key"), Seq("key"), "left_anti")
      ledger.merge(rows, emptiedShards, ctx.batchId)

      // exact q115 rank rows for the touched sources (quality DESC,
      // doc_id ASC — the batch TopKAggregator's order)
      def topK(entries: DataFrame): DataFrame = entries
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("rk") <= capN)

      val postTop = ctx.cache(topK(postEntries))
      // PII signature of each winner's post-state text — a pruned read
      // bounded by capN × touched sources
      val sigs = post.rows(table, postTop.select(col("doc_id").as("key")))
        .select(col("key").as("doc_id"),
          md5(Curation.piiRedact(col(textCol))).as("clean_sig"))
      val upserts = postTop.join(sigs, "doc_id")
        .select(Keys.pair(col("source"), col("rk")).as("id"),
          col("source"), col("doc_id"), col("quality"),
          col("rk").cast("long").as("rk"), col("clean_sig"))

      // ranks that existed pre but not post (source shrank or vanished)
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
