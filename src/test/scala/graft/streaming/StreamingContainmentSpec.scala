package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

/** Incremental containment pairs == batch q83 recompute, at every step of
  * a replayed document changelog: after each micro-batch the sink's
  * directed (doc_a, doc_b, containment) set must equal
  * [[Dedup.containmentPairs]] from scratch over the CURRENT document
  * state — the streaming form uses a different (fixed, df-free) prefix
  * order, so this equality is exactly the recall-proof claim that the
  * prefix order doesn't affect the verified pair set. */
class StreamingContainmentSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  // 25-word base; texts CONTAINED in it (its word-3-shingle set ⊇ theirs)
  private val vs = (0 until 25).map(i => s"v$i")
  private val textBase = vs.mkString(" ")                 // 23 shingles
  private val textContained = vs.take(20).mkString(" ")   // 18/18 in base
  // 17 of 18 shingles in base: containment 0.944 ≥ 0.9, a boundary case
  private val textNear = (vs.take(19) :+ "zz").mkString(" ")
  private val textOther = (0 until 20).map(i => s"w$i").mkString(" ")

  /** Batch q83 recompute (df-ordered prefix) over current state. */
  private def batchRecompute(state: DataFrame): Set[(String, String, Double)] = {
    val exploded = state.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("f"))
    Dedup.containmentPairs(exploded, 0.9)
      .as[(String, String, Double)].collect().toSet
  }

  private def sinkPairs(sink: InMemoryUpsertSink): Set[(String, String, Double)] =
    sink.docs("containment_pairs").values.map { d =>
      (d("doc_a").toString, d("doc_b").toString,
        d("containment").asInstanceOf[Double])
    }.toSet

  test("incremental pair set equals batch q83 recompute after every batch") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scontain")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingContainment.containmentView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      val expected = batchRecompute(pipeline.state("documents"))
      assert(sinkPairs(sink) == expected,
        s"batch $batchId: incremental != batch recompute")
    }

    // same-batch containment + an unrelated doc; identical docs pair in
    // BOTH directions (containment 1.0 each way)
    step(0, create("b1", textBase), create("c1", textContained),
      create("x1", textOther))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) == Set(("c1", "b1")))
    assert(sinkPairs(sink).head._3 == 1.0)

    // cross-batch discovery incl. a near-threshold (0.944) containment
    step(1, create("c2", textNear), create("e1", textOther))
    val pairs1 = sinkPairs(sink).map(p => (p._1, p._2))
    assert(pairs1.contains(("c2", "b1")))
    // identical texts: both directions present
    assert(pairs1.contains(("x1", "e1")) && pairs1.contains(("e1", "x1")))

    // update breaks containment: c1 rewritten to unrelated text (but
    // identical to x1/e1 — joins that duplicate group)
    step(2, update("c1", textContained, textOther))
    val pairs2 = sinkPairs(sink).map(p => (p._1, p._2))
    assert(!pairs2.contains(("c1", "b1")))
    assert(pairs2.contains(("c1", "x1")) && pairs2.contains(("x1", "c1")))

    // deleting the CONTAINER retracts pairs pointing at it
    step(3, delete("b1", textBase))
    assert(!sinkPairs(sink).map(p => (p._1, p._2)).exists(
      p => p._1 == "b1" || p._2 == "b1"))

    // update CREATES containment again: e1 becomes contained in a new base
    step(4, create("b2", textBase), update("e1", textOther, textContained))
    assert(sinkPairs(sink).map(p => (p._1, p._2)).contains(("e1", "b2")))
  }

  test("resident-as-A discovery and retraction when the new superset's " +
      "own prefix misses the resident's prefix keys entirely") {
    // The as-B directions join a batch doc's WHOLE feature set against
    // resident prefix postings; a bug reading those postings only for
    // the batch doc's own prefix keys stays invisible whenever the two
    // prefixes happen to overlap (as in the tests above). Construct, by
    // searching filler blocks against the real xxhash64 order, a
    // superset B whose prefix provably shares NO key with resident A's
    // prefix — then the pair (A ⊆ B) is discoverable ONLY through A's
    // prefix keys outside B's own prefix.
    // the REAL shingling and prefix implementation, so the construction
    // cannot drift away from what the view actually computes
    def explodedOf(text: String) = Seq(("d", text)).toDF("doc_id", "text")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("f"))
    def shingleSet(text: String): Set[String] =
      explodedOf(text).select("f").as[String].collect().toSet
    def prefixKeys(text: String): Set[String] =
      StreamingContainment.prefixOf(explodedOf(text), 0.9)
        .select("f").as[String].collect().toSet

    // vary BOTH the resident and the filler: a fixed A whose minimum
    // shingle hashes very low would defeat every filler block
    val (textA, textB) = (0 until 100).iterator.map { k =>
      val aWords = (0 until 12).map(i => s"r${k}a$i")
      val a = aWords.mkString(" ")
      val b = ((0 until 12).map(i => s"q${k}x$i") ++ aWords).mkString(" ")
      (a, b)
    }.find { case (a, b) =>
      prefixKeys(b).intersect(prefixKeys(a)).isEmpty
    }.getOrElse(fail("no (resident, superset) construction in 100 tries"))
    assert(shingleSet(textA).subsetOf(shingleSet(textB)))

    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scontain-wide")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingContainment.containmentView(spark, stateDir)))
    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")),
        s"batch $batchId: incremental != batch recompute")
    }

    step(0, create("wa", textA))
    step(1, create("wb", textB)) // discovery via wa's prefix keys only
    assert(sinkPairs(sink).map(p => (p._1, p._2)) == Set(("wa", "wb")))
    assert(sinkPairs(sink).head._3 == 1.0)

    // retraction through the same wide read: B rewritten without A's
    // content must retract the resident pair
    step(2, update("wb", textB, textOther))
    assert(sinkPairs(sink).isEmpty)
  }

  test("replayed batch is idempotent (state merges skip, sink converges)") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scontain-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingContainment.containmentView(spark, stateDir)))

    pipeline.processBatch(Seq(create("r1", textBase))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("r2", textContained), create("r3", textOther))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkPairs(sink)
    assert(after.map(p => (p._1, p._2)) == Set(("r2", "r1")))

    pipeline.processBatch(b1, Some(1L))
    assert(sinkPairs(sink) == after)
    assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")))
  }
}
