package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

/** Incremental dedup == batch recompute, at every step of a replayed
  * document changelog (the r3 verdict's done-criterion): after each
  * micro-batch of creates/updates/deletes, the sink's pair set must equal
  * a from-scratch batch q21 run (band → estimate → exact verify at
  * jaccard ≥ 0.8) over the CURRENT document state — including pairs
  * formed across batches, broken by updates, and removed by deletes. */
class StreamingDedupSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  // 40-word texts: one changed word => 3 of 41 unioned shingles differ
  // (jaccard ≈ 0.85-0.95, above the 0.8 gate); disjoint vocabularies are
  // unrelated (jaccard 0)
  private def words(prefix: String) = (0 until 40).map(i => s"$prefix$i")
  private val textA = words("a").mkString(" ")
  private val textA2 = (words("a").dropRight(1) :+ "zz").mkString(" ")
  private val textC = words("c").mkString(" ")
  private val textC2 = (words("c").updated(20, "yy")).mkString(" ")
  private val textD = words("d").mkString(" ")
  private val textE = words("e").mkString(" ")

  /** Batch q21 recompute over the current materialized document state. */
  private def batchRecompute(state: DataFrame): Set[(String, String, Double)] = {
    val exploded = state.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("f"))
    Dedup.nearDupPairs(exploded, 0.8, bandRows = 2, nBands = 32)
      .collect().map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        (if (a < b) a else b, if (a < b) b else a,
          math.rint(r.getDouble(2) * 1e6) / 1e6)
      }.toSet
  }

  private def sinkPairs(sink: InMemoryUpsertSink): Set[(String, String, Double)] =
    sink.docs("near_dup_pairs").values.map { d =>
      val (a, b) = (d("doc_a").toString, d("doc_b").toString)
      (if (a < b) a else b, if (a < b) b else a,
        math.rint(d("jaccard").asInstanceOf[Double] * 1e6) / 1e6)
    }.toSet

  test("incremental pair set equals batch recompute after every batch") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sdedup")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingDedup.nearDupView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      val expected = batchRecompute(pipeline.state("documents"))
      assert(sinkPairs(sink) == expected,
        s"batch $batchId: incremental != batch recompute")
    }

    // creates, incl. a same-batch duplicate pair
    step(0,
      create("d1", textA), create("d2", textA),
      create("d3", textC), create("d4", textD))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) == Set(("d1", "d2")))

    // cross-batch discovery: a new doc pairs with two RESIDENT docs
    step(1, create("d5", textA2))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) ==
      Set(("d1", "d2"), ("d1", "d5"), ("d2", "d5")))

    // update breaks pairs: d2 rewritten to unrelated text
    step(2, update("d2", textA, textE))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) == Set(("d1", "d5")))

    // delete retracts; a same-batch create pairs with a resident doc
    step(3, delete("d5", textA2), create("d6", textC2))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) == Set(("d3", "d6")))

    // update CREATES a pair: d4 rewritten into d1's near-dup
    step(4, update("d4", textD, textA2))
    assert(sinkPairs(sink).map(p => (p._1, p._2)) ==
      Set(("d1", "d4"), ("d3", "d6")))
  }

  test("replayed batch is idempotent (state merges skip, sink converges)") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sdedup-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingDedup.nearDupView(spark, stateDir)))

    pipeline.processBatch(Seq(create("r1", textA), create("r2", textC))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("r3", textA2), update("r2", textC, textC2))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkPairs(sink)
    assert(after.map(p => (p._1, p._2)) == Set(("r1", "r3")))

    // redelivery of the SAME batch: all three state stores skip, the
    // recomputed sink writes are value-identical
    pipeline.processBatch(b1, Some(1L))
    assert(sinkPairs(sink) == after)
    assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")))
  }
}
