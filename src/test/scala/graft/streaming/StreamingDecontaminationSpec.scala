package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming decontamination == batch q26 recompute, at every step of a
  * replayed document changelog: after each micro-batch the sink must
  * equal the PRODUCTION batch query (SparkEntry's q26_decontaminate)
  * over the current document state — contamination appearing when a
  * holdout doc arrives, disappearing when the last holdout holder of
  * the shared gram leaves, and split moves via content updates all
  * included. */
class StreamingDecontaminationSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  /** The q34 content-hash split of a text, computed test-side. */
  private def isTrainText(t: String): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % 100 < 90
  }

  /** Append pad words until the text lands in the wanted split — pads go
    * at the END so any leading shared gram stays intact. */
  private def inSplit(base: String, train: Boolean): String = {
    var t = base; var i = 0
    while (isTrainText(t) != train) { t = s"$base pad$i"; i += 1 }
    t
  }

  /** The real batch q26 over the pipeline's materialized document state. */
  private def batchScores(pipeline: CdcPipeline): Map[String, Long] = {
    val dir = tmpDir("deco-batch")
    pipeline.state("documents").select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries("q26_decontaminate")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def sinkScores(sink: InMemoryUpsertSink): Map[String, Long] =
    sink.docs("decontamination").map { case (id, d) =>
      id -> d("n_shared_grams").asInstanceOf[Long] }

  // a shared 5-gram planted at the START of both sides
  private val shared = "alpha beta gamma delta epsilon"
  private val hold1 = inSplit(s"$shared holdone holdtwo holdthree", train = false)
  private val train1 = inSplit(s"$shared trainone traintwo trainthree", train = true)
  private val train2 = inSplit("zeta eta theta iota kappa trainfour", train = true)
  private val hold2 = inSplit(s"$shared otherhold moreone", train = false)

  test("incremental contamination equals batch q26 after every batch") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sdeco")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingDecontamination.decontaminationView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"), Some(batchId))
      assert(sinkScores(sink) == batchScores(pipeline),
        s"batch $batchId: incremental != batch q26")
    }

    // same-batch contamination + a clean train doc + a clean holdout doc
    step(0, create("t1", train1), create("t2", train2), create("h1", hold1))
    assert(sinkScores(sink).keySet == Set("t1"))
    assert(sinkScores(sink)("t1") == 1L) // exactly the planted 5-gram

    // a second holdout holder of the same gram: count unchanged (distinct
    // grams, not holder multiplicity)
    step(1, create("h2", hold2))
    assert(sinkScores(sink)("t1") == 1L)

    // first holdout holder leaves: gram still held by h2 → no retraction
    step(2, delete("h1", hold1))
    assert(sinkScores(sink).keySet == Set("t1"))

    // LAST holder leaves: transition retracts the resident train doc
    step(3, delete("h2", hold2))
    assert(sinkScores(sink).isEmpty)

    // holdout doc re-appears: resident train doc re-contaminates without
    // being touched itself
    step(4, create("h3", hold1))
    assert(sinkScores(sink).keySet == Set("t1"))

    // train doc updated away from the shared gram: decontaminated
    step(5, update("t1", train1, train2 + " unique"))
    assert(sinkScores(sink).isEmpty)
  }

  test("replayed batch is idempotent across both gram stores") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sdeco-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingDecontamination.decontaminationView(spark, stateDir)))

    pipeline.processBatch(Seq(create("t1", train1))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("h1", hold1), create("t2", train2))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkScores(sink)
    assert(after == Map("t1" -> 1L))

    pipeline.processBatch(b1, Some(1L)) // redelivery
    assert(sinkScores(sink) == after)
    assert(sinkScores(sink) == batchScores(pipeline))
  }
}
