package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming BM25 == batch q60 recompute, at every step of a replayed
  * document changelog: after each micro-batch, [[StreamingBm25.search]]
  * over the maintained index must score exactly what the PRODUCTION batch
  * query (SparkEntry's q60_bm25) computes over the current document state
  * — tf, df, doc-length, and corpus-stat drift all included. */
class StreamingBm25Spec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  /** The real batch q60 over the pipeline's materialized document state
    * (written to a documents.parquet scratch dir so the production query
    * runs untouched). */
  private def batchScores(pipeline: CdcPipeline): Map[String, Double] = {
    val dir = tmpDir("bm25-batch")
    pipeline.state("documents").select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries("q60_bm25")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  private def searchScores(stateDir: String): Map[String, Double] =
    StreamingBm25.search(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def assertSameScores(
      got: Map[String, Double], want: Map[String, Double], ctx: String): Unit = {
    assert(got.keySet == want.keySet, s"$ctx: doc sets differ")
    for ((d, s) <- want)
      assert(math.abs(got(d) - s) <= 1e-6, s"$ctx: $d ${got(d)} vs $s")
  }

  test("search equals the production batch q60 after every batch") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sbm25")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingBm25.indexView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"), Some(batchId))
      assertSameScores(searchScores(stateDir), batchScores(pipeline),
        s"batch $batchId")
    }

    // creates: repeated terms (tf>1), a term-free doc (never scored), and
    // different doc lengths
    step(0,
      create("d1", "data vector window data filler one two"),
      create("d2", "vector vector vector filler"),
      create("d3", "plain filler words only here"),
      create("d4", "window data"))
    assert(!searchScores(stateDir).contains("d3"))

    // update shifts tf AND df: d3 gains query terms, d2 loses 'vector'
    step(1,
      update("d3", "plain filler words only here", "data window here"),
      update("d2", "vector vector vector filler", "filler filler"))
    assert(!searchScores(stateDir).contains("d2"))

    // delete moves N/avgdl/df: every resident score shifts; batch parity
    // is re-checked inside step
    step(2, delete("d1", "data vector window data filler one two"))

    // same-batch create + delete mix
    step(3,
      create("d5", "vector window vector data"),
      delete("d4", "window data"))

    // the sink mirrors the index: stats doc + sharded posting docs
    val docs = sink.docs("bm25_index")
    assert(docs.contains("corpus|stats"))
    assert(docs.keys.exists(_.startsWith("vector|")))
  }

  test("a batch touching no documents commits nothing (no stats version churn)") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sbm25-empty")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingBm25.indexView(spark, stateDir)))
    pipeline.processBatch(Seq(create("e1", "data vector"))
      .toDF("table", "value", "seq"), Some(0L))
    val statsTable =
      new ParquetKeyedTable(spark, s"$stateDir/bm25_index-stats", "key", 32)
    val vBefore = statsTable.version
    // empty batch (no rows at all): every bm25 store must stay untouched
    pipeline.processBatch(Seq.empty[(String, String, Long)]
      .toDF("table", "value", "seq"), Some(1L))
    assert(statsTable.version == vBefore)
    assertSameScores(searchScores(stateDir), batchScores(pipeline), "post-empty")
  }

  test("backfill registers a late query term; stream continues with the extended vocab") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sbm25-backfill")
    val vocab0 = Seq("data", "vector", "window")
    val pipeline0 = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingBm25.indexView(spark, stateDir, vocab0)))
    pipeline0.processBatch(Seq(
      create("b1", "data filler filler one"),
      create("b2", "filler vector filler"),
      create("b3", "plain words")).toDF("table", "value", "seq"), Some(0L))

    // late registration of 'filler': one pass over current doc state
    StreamingBm25.backfill(spark, stateDir, "filler",
      pipeline0.state("documents").select(col("key"), col("text")))
    val vocab1 = vocab0 :+ "filler"

    // the batch query with the extended term set over the same corpus
    def batchExtended(p: CdcPipeline): Map[String, Double] = {
      val dir = tmpDir("bm25-batch-ext")
      p.state("documents").select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      import graft.sources.Tables
      val words = Tables.load(spark, dir, "documents").select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      val qt = vocab1.toDF("term")
      val dfreq = tf.join(broadcast(qt), "term")
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) *
              (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
            .as("s"))
        .groupBy("doc_id").agg(round(sum("s"), 6).as("bm25"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }

    def searchExt(): Map[String, Double] =
      StreamingBm25.search(spark, stateDir, vocab1)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    assertSameScores(searchExt(), batchExtended(pipeline0), "post-backfill")

    // re-registered view with the extended vocab keeps 'filler' current
    val pipeline1 = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingBm25.indexView(spark, stateDir, vocab1)))
    pipeline1.processBatch(Seq(
      update("b3", "plain words", "filler data plain"),
      delete("b2", "filler vector filler")).toDF("table", "value", "seq"),
      Some(1L))
    assertSameScores(searchExt(), batchExtended(pipeline1), "post-extend batch")
  }

  test("replayed batch is idempotent across all three state stores") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sbm25-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingBm25.indexView(spark, stateDir)))

    pipeline.processBatch(Seq(
      create("r1", "data vector window"),
      create("r2", "data data filler")).toDF("table", "value", "seq"),
      Some(0L))
    val b1 = Seq(
      create("r3", "window window vector"),
      update("r2", "data data filler", "vector filler"))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = searchScores(stateDir)

    // redelivery: postings/dl/stats merges all skip; scores identical —
    // a non-idempotent stats merge would double the ± delta
    pipeline.processBatch(b1, Some(1L))
    assertSameScores(searchScores(stateDir), after, "replay")
    assertSameScores(after, batchScores(pipeline), "post-replay parity")
  }
}
