package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming inverted index + BM25 retrieval — the q60 ranking function
  * kept continuously answerable over a CDC `documents` source, the
  * retrieval-side sibling of [[StreamingAnn]] (same engine analog: one
  * more `INSERT INTO sink SELECT ...` continuous job in the reference,
  * README.md:342-345). A registered query vocabulary's postings, every
  * document's length, and the corpus stats are maintained per
  * micro-batch; [[search]] then scores the CURRENT corpus exactly as a
  * batch q60 recompute would — global idf/avgdl drift is priced in at
  * read time instead of rescoring the corpus on every write.
  *
  * Per micro-batch, with B = batch documents (created/updated/deleted):
  *
  *   1. tokenize ONLY B's post-state texts: per-doc query-term
  *      frequencies (the postings delta) and full token counts (the
  *      doc-length delta),
  *   2. read the affected posting rows — at most |vocab| × |B's shards|
  *      keys, bucket-pruned — drop B's old entries, add its new ones,
  *   3. merge postings / doc-length / corpus-stats state, every commit
  *      carrying the batchId so a redelivered batch replays idempotently
  *      ([[ParquetKeyedTable.merge]]); corpus totals are maintained by
  *      ± deltas read from the doc-length state's pre-batch version —
  *      O(|B|), never a corpus recount.
  *
  * 100 TB posture: postings are sharded `term|shard` rows (shard =
  * portable hash of the doc key), so a stopword-frequency query term
  * splits across `nShards` bounded rows instead of one doc-frequency-
  * sized list, and search reads an enumerable |terms| × nShards key set
  * — a pruned point-lookup fan-out, never an index scan. Per-batch work
  * tracks |B|; nothing re-reads resident documents. The fixed-vocabulary
  * restriction is the streaming-reality trade: continuous queries are
  * registered up front (the reference's model), and a new query term
  * backfills with one batch q60-style pass before joining the index.
  */
object StreamingBm25 {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("postings", ArrayType(StructType(Seq(
      StructField("doc", StringType),
      StructField("tf", LongType)))))))

  private def dlSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("dl", LongType)))

  private def statsSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_docs", LongType),
    StructField("total_tok", LongType)))

  /** q34's portable md5-prefix hash, mod `n` — deterministic shard of a
    * doc key, identical on replay. */
  private def shardOf(key: org.apache.spark.sql.Column, n: Int) =
    pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"), lit(n.toLong))

  /** Continuous index view. Sink documents mirror the state (observable
    * like every other view): one doc per live posting row
    * (id = "term|shard", postings_csv sorted "doc:tf"), plus a
    * "corpus|stats" doc with (n_docs, total_tok). Defaults match batch
    * q60's query terms. */
  def indexView(
      spark: SparkSession, stateDir: String,
      vocab: Seq[String] = Seq("data", "vector", "window"),
      name: String = "bm25_index", table: String = "documents",
      textCol: String = "text", nShards: Int = 4): ViewDef = {
    val postTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-postings")
    val dlTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-dl")
    val statsTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-stats")

    ViewDef(name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch(table).select("key").distinct())
      // a batch that touches no documents must not commit anything —
      // without this, the unconditional stats upsert below would write a
      // new (identical) version per batch on a multi-source pipeline
      if (touched.isEmpty) {
        val none = touched.limit(0).select(col("key").as("id"),
          lit("").as("postings_csv"))
        (none, none.select("id"))
      } else maintainBatch(spark, postTable, dlTable, statsTable, vocab,
        table, textCol, nShards, pre, post, touched, ctx)
    })
  }

  /** The non-empty-batch body of [[indexView]] (split out so the empty
    * batch can skip every store commit). */
  private def maintainBatch(
      spark: SparkSession, postTable: ParquetKeyedTable,
      dlTable: ParquetKeyedTable, statsTable: ParquetKeyedTable,
      vocab: Seq[String], table: String, textCol: String, nShards: Int,
      pre: StateAccess, post: StateAccess, touched: DataFrame,
      ctx: BatchCtx): (DataFrame, DataFrame) = {
      val preDlV = dlTable.versionBefore(ctx.batchId)
      val preStatsV = statsTable.versionBefore(ctx.batchId)

      // 1. tokenize only B's live post images
      val docs = ctx.cache(post.rows(table, touched)
        .select(col("key").as("doc"),
          split(trim(col(textCol)), "\\s+").as("toks")))
      val newDl = ctx.cache(
        docs.select(col("doc"), size(col("toks")).cast("long").as("dl")))
      val vocabDf = broadcast(
        spark.createDataFrame(vocab.map(Tuple1(_))).toDF("term"))
      val newTf = ctx.cache(docs
        .select(col("doc"), explode(col("toks")).as("term"))
        .join(vocabDf, "term")
        .groupBy("doc", "term").agg(count(lit(1)).as("tf")))

      // 2. affected posting rows: every vocab term × the shards B's docs
      // hash to — covers old AND new contributions of every touched doc
      // (a doc's shard never changes), ≤ |vocab| × |B| keys
      val shards = touched.select(shardOf(col("key"), nShards).as("shard"))
        .distinct()
      val affected = shards.crossJoin(vocabDf)
        .select(concat_ws("|", col("term"), col("shard")).as("key"))
      val sw = IncrementalAgg.swapMembers(postTable, postSchema, affected,
        touched, newTf.select(
          concat_ws("|", col("term"), shardOf(col("doc"), nShards)).as("key"),
          col("doc"), col("tf")), ctx)

      // 3. doc lengths (± source of the corpus-stat deltas) + stats
      val preDl = dlTable.rowsForKeysAt(preDlV, dlSchema, touched)
      val gone = touched.join(
        newDl.select(col("doc").as("key")), Seq("key"), "left_anti")
      dlTable.merge(newDl.select(col("doc").as("key"), col("dl")), gone,
        ctx.batchId)

      // bounded driver reads: one aggregate row per side + the 1-row stats
      val preAgg = preDl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
        .head()
      val postAgg = newDl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
        .head()
      val (pn, pt) = (preAgg.getLong(0), preAgg.getLong(1))
      val (nn, nt) = (postAgg.getLong(0), postAgg.getLong(1))
      val statsKeys = spark.createDataFrame(Seq(Tuple1("corpus")))
        .toDF("key")
      val preStats = statsTable
        .rowsForKeysAt(preStatsV, statsSchema, statsKeys)
        .collect().headOption
      val (n0, t0) = preStats
        .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
      val newStats = spark.createDataFrame(
        Seq(("corpus", n0 - pn + nn, t0 - pt + nt)))
        .toDF("key", "n_docs", "total_tok")
      statsTable.merge(newStats, statsKeys.limit(0), ctx.batchId)

      // sink mirror: affected posting rows + the stats doc
      val upserts = sw.post.groupBy(col("key").as("id"))
        .agg(array_join(array_sort(collect_list(
          concat_ws(":", col("doc"), col("tf")))), ",").as("postings_csv"))
        .unionByName(newStats.select(lit("corpus|stats").as("id"),
          concat_ws(":", col("n_docs"), col("total_tok")).as("postings_csv")))
      (upserts, sw.emptied.select(col("key").as("id")))
  }

  /** Register a query term AFTER the fact: one pass over the CURRENT
    * document state builds the term's sharded postings — the backfill
    * path for extending the registered vocabulary (the index view's
    * per-batch maintenance only tracks ITS vocab, so the workflow is:
    * stop the stream, re-register the view with the extended vocab,
    * backfill the new term, restart — postings stay current from there).
    * `docs` is the pipeline's materialized document state
    * ([[CdcPipeline.state]]); the full-scan cost is the honest price of
    * a late registration and is paid exactly once per new term. Runs
    * outside any batch, so no batchId: a rerun recomputes the same rows
    * deterministically (value-idempotent). dl and corpus stats need no
    * backfill — they are vocabulary-independent. */
  def backfill(
      spark: SparkSession, stateDir: String, term: String, docs: DataFrame,
      name: String = "bm25_index", textCol: String = "text",
      nShards: Int = 4): Unit = {
    val postTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-postings")
    val tf = docs
      .select(col("key").as("doc"),
        explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .filter(col("t") === term)
      .groupBy("doc").agg(count(lit(1)).as("tf"))
    val rows = tf
      .select(concat_ws("|", lit(term), shardOf(col("doc"), nShards)).as("key"),
        col("doc"), col("tf"))
      .groupBy("key")
      .agg(collect_list(struct(col("doc"), col("tf"))).as("postings"))
    val allKeys = spark.createDataFrame(
      (0 until nShards).map(s => Tuple1(s"$term|$s"))).toDF("key")
    val emptied = allKeys.join(rows.select("key"), Seq("key"), "left_anti")
    postTable.merge(rows, emptied, None)
  }

  /** BM25 top scores from the maintained index — identical formula and
    * rounding to batch q60 (k1 = 1.2, b = 0.75, +1-form idf), so the
    * result equals a q60 recompute over the current corpus restricted to
    * `terms`. Reads |terms| × nShards posting rows (pruned point
    * lookups), the 1-row stats, and the candidate docs' lengths (pruned)
    * — cost tracks postings of the query terms, never corpus size. */
  def search(
      spark: SparkSession, stateDir: String,
      terms: Seq[String] = Seq("data", "vector", "window"),
      name: String = "bm25_index", nShards: Int = 4): DataFrame = {
    val postTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-postings")
    val dlTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-dl")
    val statsTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-stats")

    val keys = spark.createDataFrame(
      for (t <- terms; s <- 0 until nShards) yield (s"$t|$s", t))
      .toDF("key", "term")
    val postings = postTable
      .rowsForKeys(postSchema, keys.select("key"))
      .join(keys, "key")
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p.doc").as("doc"), col("p.tf").as("tf"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val dls = dlTable.rowsForKeys(dlSchema,
      postings.select(col("doc").as("key")).distinct())
      .select(col("key").as("doc"), col("dl"))
    val stats = statsTable.rowsForKeys(statsSchema,
        spark.createDataFrame(Seq(Tuple1("corpus"))).toDF("key"))
      .select(col("n_docs"),
        (col("total_tok").cast("double") / col("n_docs")).as("avgdl"))
    postings
      .join(broadcast(dfreq), "term")
      .join(dls, "doc")
      .crossJoin(broadcast(stats))
      .select(col("doc"),
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc").agg(round(sum("s"), 6).as("bm25"))
  }

  /** Multi-query BM25 over the maintained index: each query scores docs
    * against ITS OWN term set — the "more-like-this" shape the hybrid
    * fusion feeds on ([[StreamingHybrid]]). Postings for the UNION of
    * all query terms are read once (pruned point lookups, like
    * [[search]]); scoring then fans out per (query, term) through a
    * broadcast of the small query→term map. Per-term contributions ride
    * the q167 DECIMAL ledger, so scores — and downstream fused ranks —
    * cannot move with reducer assignment. Returns
    * (query_id, doc, bm25); df is each term's GLOBAL document
    * frequency, identical to batch q167's sparse ranker. */
  def searchMany(
      spark: SparkSession, stateDir: String,
      queries: Seq[(Long, Seq[String])],
      name: String = "bm25_index", nShards: Int = 4): DataFrame = {
    val postTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-postings")
    val dlTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-dl")
    val statsTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-stats")

    val allTerms = queries.flatMap(_._2).distinct
    val keys = spark.createDataFrame(
      for (t <- allTerms; sh <- 0 until nShards) yield (s"$t|$sh", t))
      .toDF("key", "term")
    val postings = postTable
      .rowsForKeys(postSchema, keys.select("key"))
      .join(keys, "key")
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p.doc").as("doc"), col("p.tf").as("tf"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val dls = dlTable.rowsForKeys(dlSchema,
      postings.select(col("doc").as("key")).distinct())
      .select(col("key").as("doc"), col("dl"))
    val stats = statsTable.rowsForKeys(statsSchema,
        spark.createDataFrame(Seq(Tuple1("corpus"))).toDF("key"))
      .select(col("n_docs"),
        (col("total_tok").cast("double") / col("n_docs")).as("avgdl"))
    val qt = spark.createDataFrame(
      for ((q, ts) <- queries; t <- ts.distinct) yield (q, t))
      .toDF("query_id", "term")
    postings
      .join(broadcast(qt), "term")
      .join(broadcast(dfreq), "term")
      .join(dls, "doc")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc"),
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))),
          12).cast("decimal(28,12)").as("s"))
      .groupBy("query_id", "doc")
      .agg(round(sum("s").cast("double"), 6).as("bm25"))
  }
}
