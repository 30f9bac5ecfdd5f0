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
  * splits across `NShards` bounded rows instead of one doc-frequency-
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

  private val Name = "bm25_index"
  private val NShards = 4

  /** q34's portable md5-prefix hash, mod [[NShards]] — deterministic
    * shard of a doc key, identical on replay. */
  private def shardOf(key: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"),
      lit(NShards.toLong))

  /** The index's stores (postings, doc lengths, corpus stats), opened
    * the same way by the writers ([[indexView]], [[backfill]]) and the
    * readers ([[search]], [[searchMany]], [[StreamingHybrid.search]]). */
  private def stores(spark: SparkSession, stateDir: String) = (
    new ParquetKeyedTable(spark, s"$stateDir/$Name-postings"),
    new ParquetKeyedTable(spark, s"$stateDir/$Name-dl"),
    new ParquetKeyedTable(spark, s"$stateDir/$Name-stats"))

  /** Continuous index view. Sink documents mirror the state (observable
    * like every other view): one doc per live posting row
    * (id = "term|shard", postings_csv sorted "doc:tf"), plus a
    * "corpus|stats" doc with (n_docs, total_tok). Defaults match batch
    * q60's query terms. */
  def indexView(spark: SparkSession, stateDir: String,
      vocab: Seq[String] = Seq("data", "vector", "window")): ViewDef = {
    val (postTable, dlTable, statsTable) = stores(spark, stateDir)

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      // a batch that touches no documents must not commit anything —
      // without this, the unconditional stats upsert below would write a
      // new (identical) version per batch on a multi-source pipeline
      if (touched.isEmpty) {
        val none = touched.limit(0).select(col("key").as("id"),
          lit("").as("postings_csv"))
        (none, none.select("id"))
      } else maintainBatch(spark, postTable, dlTable, statsTable, vocab,
        pre, post, touched, ctx)
    })
  }

  /** The non-empty-batch body of [[indexView]] (split out so the empty
    * batch can skip every store commit). */
  private def maintainBatch(
      spark: SparkSession, postTable: ParquetKeyedTable,
      dlTable: ParquetKeyedTable, statsTable: ParquetKeyedTable,
      vocab: Seq[String], pre: StateAccess, post: StateAccess,
      touched: DataFrame, ctx: BatchCtx): (DataFrame, DataFrame) = {
      // 1. tokenize only B's live post images
      val docs = ctx.cache(post.rows("documents", touched)
        .select(col("key").as("doc"),
          split(trim(col("text")), "\\s+").as("toks")))
      val newDl = ctx.cache(docs.select(col("doc").as("key"),
        size(col("toks")).cast("long").as("dl")))
      val vocabDf = broadcast(
        spark.createDataFrame(vocab.map(Tuple1(_))).toDF("term"))
      val newTf = ctx.cache(docs
        .select(col("doc"), explode(col("toks")).as("term"))
        .join(vocabDf, "term")
        .groupBy("doc", "term").agg(count(lit(1)).as("tf")))

      // 2. affected posting rows: every vocab term × the shards B's docs
      // hash to — covers old AND new contributions of every touched doc
      // (a doc's shard never changes), ≤ |vocab| × |B| keys
      val shards = touched.select(shardOf(col("key")).as("shard"))
        .distinct()
      val sw = IncrementalAgg.swapMembers(postTable, postSchema,
        shards.crossJoin(vocabDf)
          .select(concat_ws("|", col("term"), col("shard")).as("key")),
        touched, newTf.select(
          concat_ws("|", col("term"), shardOf(col("doc"))).as("key"),
          col("doc"), col("tf")), ctx)

      // 3. doc lengths (± source of the corpus-stat deltas) + stats, a
      // one-row ± fold that always carries the corpus row
      val preDl = IncrementalAgg.preRows(dlTable, dlSchema, touched, ctx)
      IncrementalAgg.replaceRows(dlTable, dlSchema, touched, newDl, ctx)
      def statDeltas(dl: DataFrame, sign: Long): DataFrame =
        dl.select(lit("corpus").as("key"), lit(sign).as("d_n_docs"),
          (col("dl") * sign).as("d_total_tok"))
      val stats = IncrementalAgg.applyDeltas(statsTable,
        statDeltas(newDl, 1L).unionByName(statDeltas(preDl, -1L))
          .unionByName(spark.createDataFrame(Seq(("corpus", 0L, 0L)))
            .toDF("key", "d_n_docs", "d_total_tok")),
        "n_docs", ctx).merged

      // sink mirror: affected posting rows + the stats doc
      val upserts = sw.post.groupBy(col("key").as("id"))
        .agg(array_join(array_sort(collect_list(
          concat_ws(":", col("doc"), col("tf")))), ",").as("postings_csv"))
        .unionByName(stats.select(lit("corpus|stats").as("id"),
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
  def backfill(spark: SparkSession, stateDir: String, term: String,
      docs: DataFrame): Unit = {
    val (postTable, _, _) = stores(spark, stateDir)
    val tf = docs
      .select(col("key").as("doc"),
        explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(col("t") === term)
      .groupBy("doc").agg(count(lit(1)).as("tf"))
    val rows = tf
      .select(concat_ws("|", lit(term), shardOf(col("doc"))).as("key"),
        col("doc"), col("tf"))
      .groupBy("key")
      .agg(collect_list(struct(col("doc"), col("tf"))).as("postings"))
    val allKeys = spark.createDataFrame(
      (0 until NShards).map(s => Tuple1(s"$term|$s"))).toDF("key")
    val emptied = allKeys.join(rows.select("key"), Seq("key"), "left_anti")
    postTable.merge(rows, emptied, None)
  }

  /** BM25 top scores from the maintained index — identical formula and
    * rounding to batch q60 (k1 = 1.2, b = 0.75, +1-form idf), so the
    * result equals a q60 recompute over the current corpus restricted to
    * `terms`. Reads |terms| × nShards posting rows (pruned point
    * lookups), the 1-row stats, and the candidate docs' lengths (pruned)
    * — cost tracks postings of the query terms, never corpus size. */
  def search(spark: SparkSession, stateDir: String,
      terms: Seq[String] = Seq("data", "vector", "window")): DataFrame = {
    val (postTable, dlTable, statsTable) = stores(spark, stateDir)

    val keys = spark.createDataFrame(
      for (t <- terms; s <- 0 until NShards) yield (s"$t|$s", t))
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
  def searchMany(spark: SparkSession, stateDir: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    val (postTable, dlTable, statsTable) = stores(spark, stateDir)

    val allTerms = queries.flatMap(_._2).distinct
    val keys = spark.createDataFrame(
      for (t <- allTerms; sh <- 0 until NShards) yield (s"$t|$sh", t))
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
