package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.TextAnalysis

/** Streaming held-out LM: [[StreamingLm.score]] over the maintained
  * counts == batch q88 ([[TextAnalysis.lmScoresOf]]) recomputed from
  * scratch over the CURRENT document state, at every step of a replayed
  * changelog — including a doc crossing the quality gate via update
  * (every resident score shifts through the model, priced at read) and
  * idempotent replay of the running counters. */
class StreamingLmSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  // hi quality: dense stopwords; lo quality: none (gate is ≥ 0.5)
  private def hiText(tail: String) =
    s"the cat the dog the fox $tail"
  private val loText = "zebra quokka lemur wombat"

  private def batchRecompute(state: DataFrame): Map[String, (Long, Double)] =
    TextAnalysis.lmScoresOf(
        state.select(col("doc_id"), col("text")))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def streamScore(pipeline: CdcPipeline, stateDir: String): Map[String, (Long, Double)] =
    StreamingLm.score(spark, stateDir,
        pipeline.state("documents").select("key", "text"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("read-priced scores equal batch q88 recompute after every batch, " +
      "including a quality-gate flip that shifts resident scores") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("slm")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingLm.lmView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(streamScore(pipeline, stateDir) ==
        batchRecompute(pipeline.state("documents")),
        s"batch $batchId: streaming score != batch recompute")
    }

    // two hi docs train the model; the lo doc is scored but not trained
    step(0, create("h1", hiText("apple pie")),
      create("h2", hiText("river stone")), create("l1", loText))
    val s0 = streamScore(pipeline, stateDir)
    assert(s0.keySet == Set("h1", "h2", "l1"))
    // out-of-model text scores worse than in-model text
    assert(s0("l1")._2 > s0("h1")._2)

    // UPDATE flips l1 over the quality gate: its bigrams enter the
    // model, every resident's score must shift with the new V/counts
    step(1, update("l1", loText, hiText("zebra quokka")))
    val s1 = streamScore(pipeline, stateDir)
    assert(s1("h1") != s0("h1"), "resident score must move with the model")

    // deleting a trainer shrinks the model back
    step(2, delete("h2", hiText("river stone")))

    // update WITHIN the hi subset: old bigrams retract, new ones enter
    step(3, update("h1", hiText("apple pie"), hiText("apple tart")))
  }

  test("replayed batch is idempotent despite running counters") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("slm-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingLm.lmView(spark, stateDir)))

    pipeline.processBatch(Seq(create("r1", hiText("alpha beta")))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("r2", hiText("gamma delta")), create("r3", loText))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = streamScore(pipeline, stateDir)

    pipeline.processBatch(b1, Some(1L))
    assert(streamScore(pipeline, stateDir) == after)
    assert(after == batchRecompute(pipeline.state("documents")))
  }
}
