package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming head-vocabulary coverage == batch q119 recompute at every
  * step of a replayed document changelog — with the head set itself
  * drifting: a token pumped into the top-K must re-score RESIDENT docs
  * holding it (and docs holding the evicted token), and the pump's
  * deletion must revert both. */
class StreamingVocabCoverageSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  private val topK = 3

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Batch q119 recompute (string keys, topK=3) over the state. */
  private def batchRecompute(state: DataFrame)
      : Map[String, (Long, Long, Double)] = {
    val docs = state.select(col("doc_id"), col("text"))
      .as[(String, String)].collect()
    val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val cnt = toks.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val head = cnt.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(topK).map(_._1).toSet
    toks.map { case (id, ws) =>
      val nHead = ws.count(head)
      id -> ((ws.size.toLong, nHead.toLong, r6(nHead.toDouble / ws.size)))
    }.toMap
  }

  private def sinkRows(sink: InMemoryUpsertSink)
      : Map[String, (Long, Long, Double)] =
    sink.docs("vocab_coverage").map { case (id, d) =>
      id -> ((d("n_tok").asInstanceOf[Long], d("n_head").asInstanceOf[Long],
        d("coverage").asInstanceOf[Double]))
    }.toMap

  test("incremental coverage equals batch q119; head transitions " +
      "re-score untouched resident docs") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("svocabcov")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingVocabCoverage.coverageView(spark, stateDir,
        topK = topK)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(sinkRows(sink) == batchRecompute(pipeline.state("documents")),
        s"batch $batchId: incremental != batch q119 recompute")
    }

    // head = {aa, bb, cc} (counts 4/3/2 beat the singletons)
    step(0, create("d1", "aa aa bb cc xx"), create("d2", "aa bb yy"),
      create("d3", "aa bb cc zz"))
    assert(sinkRows(sink)("d3")._2 == 3) // aa, bb, cc all head

    // pump "zz" into the head: 4 occurrences evict "cc" — resident d1
    // and d3 (untouched this batch) hold cc/zz and must re-score
    step(1, create("p1", "zz zz zz zz"))
    val afterPump = sinkRows(sink)
    assert(afterPump("d3")._2 == 3, "d3 holds aa bb zz — still 3 head hits")
    assert(afterPump("d1")._2 == 3, "d1 lost cc from the head set")

    // the pump leaves: head reverts, the same resident docs re-score
    step(2, delete("p1", "zz zz zz zz"))
    assert(sinkRows(sink) == batchRecompute(pipeline.state("documents")))
    assert(sinkRows(sink)("d1")._2 == 4)

    // an update rewrites a doc's own tokens (no head change needed)
    step(3, update("d2", "aa bb yy", "aa aa aa yy yy"))

    // deleting a doc retracts its row and may move the head
    step(4, delete("d3", "aa bb cc zz"))
    assert(!sinkRows(sink).contains("d3"))
  }

  test("replayed batch is idempotent across counters, index and head") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("svocabcov-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingVocabCoverage.coverageView(spark, stateDir,
        topK = topK)))

    pipeline.processBatch(Seq(create("d1", "aa aa bb cc"),
      create("d2", "aa bb dd")).toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("p1", "dd dd dd"), update("d1", "aa aa bb cc",
      "aa bb cc cc")).toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkRows(sink)
    assert(after == batchRecompute(pipeline.state("documents")))

    pipeline.processBatch(b1, Some(1L))
    assert(sinkRows(sink) == after)
    assert(sinkRows(sink) == batchRecompute(pipeline.state("documents")))
  }
}
