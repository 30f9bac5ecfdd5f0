package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Multimodal

/** Incremental phash near-dup == batch q125 recompute at every step of
  * a replayed changelog: identical data sections pair at Hamming 0
  * across different container formats (the hash reads the DECODED data
  * section, not the header), updates move docs between hash buckets
  * and retract stale pairs, assets shrinking below the 32-byte block
  * floor drop out of the index, and replay is idempotent. */
class StreamingPhashSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  /** Batch q125's banded-Hamming pairs over the materialized state —
    * all-pairs here (tiny), through the SAME hash path. */
  private def batchRecompute(state: DataFrame): Map[(Long, Long), Long] = {
    val hs = Multimodal.perceptualHashes(Multimodal.mediaFrameOf(
        state.select(col("doc_id").cast("long").as("doc_id"), col("text"))))
      .filter(col("data_len") >= 32)
      .select("media_id", "phash").as[(Long, Long)].collect()
    (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b) -> d.toLong).toMap
  }

  private def sinkPairs(sink: InMemoryUpsertSink): Map[(Long, Long), Long] =
    sink.docs("phash_neardup").values.map { d =>
      (d("media_a").asInstanceOf[Long], d("media_b").asInstanceOf[Long]) ->
        d("hamming").asInstanceOf[Long]
    }.toMap

  // ≥ 32 data bytes so every block fills; A-copies must collide at 0
  private val textA = ("alpha bravo charlie delta echo foxtrot golf " +
    "hotel india juliett kilo lima").take(72)
  private val textB = ("zulu yankee xray whiskey victor uniform tango " +
    "sierra romeo quebec papa oscar").take(72)
  private val shortT = "tiny"

  test("phash pairs == batch q125 recompute; same data section pairs at " +
      "Hamming 0 across formats, updates/deletes retract, short assets " +
      "leave the index") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sphash")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingPhash.phashNearDupView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")),
        s"batch $batchId: incremental != batch q125 recompute")
    }

    // ids 1 (jpeg) and 2 (wav) carry the same data section — different
    // container headers, same hash: the pair is the proof the hash
    // reads the decoded section, not the raw payload
    step(0, create("1", textA), create("2", textA), create("3", textB))
    assert(sinkPairs(sink).get((1L, 2L)).contains(0L),
      "identical data sections must pair at Hamming 0")

    // an update moves doc 2 to B's content: (1,2) retracts, (2,3) forms
    step(1, update("2", textA, textB))
    assert(!sinkPairs(sink).contains((1L, 2L)))
    assert(sinkPairs(sink).get((2L, 3L)).contains(0L))

    // a new same-content doc pairs with BOTH existing copies
    step(2, create("4", textB))
    assert(sinkPairs(sink).keySet.intersect(
      Set((2L, 4L), (3L, 4L))).size == 2)

    // shrinking below the 32-byte block floor drops the asset entirely
    step(3, update("3", textB, shortT))
    assert(!sinkPairs(sink).keySet.exists(p => p._1 == 3L || p._2 == 3L))

    // drain
    step(4, delete("1", textA), delete("2", textB), delete("4", textB))
    assert(sinkPairs(sink).isEmpty)

    // replay idempotence
    val b4 = Seq(delete("1", textA), delete("2", textB),
      delete("4", textB)).toDF("table", "value", "seq")
    pipeline.processBatch(b4, Some(4L))
    assert(sinkPairs(sink) == batchRecompute(pipeline.state("documents")))
  }
}
