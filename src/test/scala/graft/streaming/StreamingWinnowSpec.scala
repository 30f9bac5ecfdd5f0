package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Incremental winnowing pairs == batch q105 recompute at every step of a
  * replayed document changelog — including the df-cap flip on UNTOUCHED
  * residents, the one hazard q105's corpus-statistic cap adds over the
  * containment view's fixed-prefix order (a fingerprint crossing
  * 2 ≤ df ≤ 10 changes pair credits for docs the batch never touched). */
class StreamingWinnowSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  // a ~160-char shared block: its interior fingerprint windows are
  // identical across every doc carrying it, so two carriers share far
  // more than minShared = 5 selected hashes
  private val shared = (0 until 20).map(i => s"common$i").mkString(" ")
  private def doc(tail: String) = s"$shared $tail"
  private def tail(id: String) =
    (0 until 6).map(i => s"uniq$id$i").mkString(" ")
  private val textOther = (0 until 20).map(i => s"zzz$i").mkString(" ")

  /** Batch q105 over the current state (string doc ids — the pair order
    * is the same lexicographic least/greatest the view uses). */
  private def batchRecompute(state: DataFrame): Set[(String, String, Long)] = {
    val fp = state.select(col("doc_id"),
      explode(graft.functions.Winnow.fingerprints(col("text"), 8, 4))
        .as("f"))
    val kept = fp.join(
      fp.groupBy("f").agg(count(lit(1)).as("d"))
        .filter(col("d").between(2, 10)),
      Seq("f"))
      .select("doc_id", "f")
    val a = kept.select(col("doc_id").as("doc_a"), col("f"))
    val b = kept.select(col("doc_id").as("doc_b"), col("f"))
    a.join(b, Seq("f"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .as[(String, String, Long)].collect().toSet
  }

  private def sinkPairs(sink: InMemoryUpsertSink): Set[(String, String, Long)] =
    sink.docs("winnow_pairs").values.map { d =>
      (d("doc_a").toString, d("doc_b").toString,
        d("n_shared").asInstanceOf[Long])
    }.toSet

  test("incremental pair set equals batch q105 recompute after every " +
      "batch, including df-cap flips on untouched residents") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("swinnow")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingWinnow.winnowView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")),
        s"batch $batchId: incremental != batch recompute")
    }

    // two carriers of the shared block + one unrelated doc
    step(0, create("a1", doc(tail("a1"))), create("b1", doc(tail("b1"))),
      create("x1", textOther))
    val p0 = sinkPairs(sink)
    assert(p0.map(p => (p._1, p._2)) == Set(("a1", "b1")))
    assert(p0.head._3 >= 5)

    // nine MORE carriers push the shared fingerprints to df = 11 —
    // outside the cap. a1 and b1 are untouched this batch, yet their
    // pair must retract: the flip re-score path, not the touched path
    step(1, (3 to 11).map(i => create(s"c$i", doc(tail(s"c$i")))): _*)
    assert(sinkPairs(sink).isEmpty)

    // delete one carrier: df back to 10, ALL remaining carrier pairs
    // (10·9/2 = 45) reappear — again without touching most endpoints
    step(2, delete("c11", doc(tail("c11"))))
    val p2 = sinkPairs(sink)
    assert(p2.size == 45)
    assert(p2.map(p => (p._1, p._2)).contains(("a1", "b1")))

    // rewriting one carrier to unrelated text drops df to 9: its
    // carrier pairs retract (9·8/2 = 36 remain) — and its new text is
    // IDENTICAL to x1's, so that duplicate pair appears (37 total)
    step(3, update("c10", doc(tail("c10")), textOther))
    val p3 = sinkPairs(sink)
    assert(p3.size == 37)
    assert(p3.map(p => (p._1, p._2)).contains(("c10", "x1")))
    assert(!p3.exists(p => (p._1 == "c10" || p._2 == "c10") &&
      p._1 != "x1" && p._2 != "x1"))
  }

  test("replayed batch is idempotent (state merges skip, sink converges)") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("swinnow-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingWinnow.winnowView(spark, stateDir)))

    pipeline.processBatch(Seq(create("r1", doc(tail("r1"))))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("r2", doc(tail("r2"))), create("r3", textOther))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkPairs(sink)
    assert(after.map(p => (p._1, p._2)) == Set(("r1", "r2")))

    pipeline.processBatch(b1, Some(1L))
    assert(sinkPairs(sink) == after)
    assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")))
  }
}
