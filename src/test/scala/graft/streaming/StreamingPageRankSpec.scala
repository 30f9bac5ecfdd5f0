package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

/** Incremental PageRank == an independent unit-rank recompute of the
  * CURRENT corpus after every replayed micro-batch — including rank
  * updates in components the batch merged/split/extended, deletion of
  * nodes whose last edge retracts, and untouched components keeping
  * their rows. Also pins unit_rank / n against the q81-normalized
  * (1/n-seeded) recompute, the linearity the view's scaladoc claims. */
class StreamingPageRankSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  private def words(prefix: String): IndexedSeq[String] =
    (0 until 40).map(i => s"$prefix$i")
  private def variant(prefix: String, at: Int, repl: String): String =
    words(prefix).updated(at, repl).mkString(" ")
  // middle-word edits change 3 shingles each: jaccard(A, A2) =
  // jaccard(A, A3) = 35/41 ≈ 0.85 (pairs), but jaccard(A2, A3) =
  // 32/44 ≈ 0.73 (NOT a pair) — so d1–d2–d6 forms a genuine chain with
  // a degree-2 hub, not a triangle (a regular component's unit ranks
  // are all exactly 1.0, which would make the hub assertion vacuous)
  private val textA = words("a").mkString(" ")
  private val textA2 = variant("a", 10, "zz")
  private val textA3 = variant("a", 25, "yy")
  private val textB = words("b").mkString(" ")
  private val textB2 = variant("b", 39, "qq")
  private val textU = words("u").mkString(" ") // unrelated, no pair
  private val textV = words("v").mkString(" ") // unrelated, no pair

  /** Independent in-memory recompute: LSH pairs of the current state
    * (the same generator the batch queries use), then 10 plain-Scala
    * unit-rank rounds (r₀=1, teleport 0.15). */
  private def unitRecompute(state: DataFrame): Map[String, Double] = {
    val exploded = state.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("f"))
    val pairs = Dedup.nearDupPairs(exploded, 0.8, bandRows = 2, nBands = 32)
      .select("doc_a", "doc_b").as[(String, String)].collect()
    scalaRanks(pairs, seed = 1.0, teleport = 0.15)
  }

  private def scalaRanks(pairs: Array[(String, String)],
      seed: Double, teleport: Double): Map[String, Double] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSeq }
    val deg = adj.map { case (u, vs) => u -> vs.size }
    var rank = adj.keys.map(_ -> seed).toMap
    for (_ <- 1 to 10)
      rank = adj.keys.map(v => v ->
        (teleport + 0.85 * adj(v).map(u => rank(u) / deg(u)).sum)).toMap
    rank.map { case (k, r) => k -> math.rint(r * 1e6) / 1e6 }
  }

  private def sinkRanks(sink: InMemoryUpsertSink): Map[String, Double] =
    sink.docs("dup_pagerank").map { case (id, d) =>
      id -> d("unit_rank").asInstanceOf[Double]
    }.toMap

  test("incremental unit ranks equal recompute after every batch; " +
      "unit/n matches the q81 normalization") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("spagerank")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingPageRank.pageRankView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      val expected = unitRecompute(pipeline.state("documents"))
      assert(sinkRanks(sink) == expected,
        s"batch $batchId: incremental != unit-rank recompute")
    }

    // two components (d1~d2, d3~d4) + an isolated doc (no edges → no row)
    step(0, create("d1", textA), create("d2", textA2),
      create("d3", textB), create("d4", textB2), create("d5", textU))
    val r0 = sinkRanks(sink)
    assert(r0.keySet == Set("d1", "d2", "d3", "d4"),
      s"isolated d5 must not rank: $r0")

    // d6 extends the A-component; the B-component is untouched and its
    // rows must carry through unchanged
    step(1, create("d6", textA3))
    val r1 = sinkRanks(sink)
    assert(r1.keySet == Set("d1", "d2", "d3", "d4", "d6"))
    assert(r1("d3") == r0("d3") && r1("d4") == r0("d4"),
      "untouched component's ranks must not move")
    assert(r1("d1") > r1("d2"),
      "the hub of the A-chain must outrank a leaf")

    // the q81 linearity: unit_rank / n == the 1/n-seeded recursion
    val pairs = {
      val exploded = pipeline.state("documents").select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("f"))
      Dedup.nearDupPairs(exploded, 0.8, bandRows = 2, nBands = 32)
        .select("doc_a", "doc_b").as[(String, String)].collect()
    }
    val n = r1.size
    val normalized = scalaRanks(pairs, seed = 1.0 / n, teleport = 0.15 / n)
    r1.foreach { case (k, u) =>
      assert(math.abs(u / n - normalized(k)) < 1e-6,
        s"$k: unit/n=${u / n} vs normalized ${normalized(k)}")
    }

    // update retracts d2's edges: the A-component shrinks, d2 leaves
    // the graph (its row deletes) but stays a live document
    step(2, update("d2", textA2, textV))
    assert(!sinkRanks(sink).contains("d2"))
    assert(sinkRanks(sink).keySet == Set("d1", "d3", "d4", "d6"))

    // deleting d6 leaves d1 edgeless: both A-rows must go
    step(3, delete("d6", textA3))
    assert(sinkRanks(sink).keySet == Set("d3", "d4"))

    // re-growing components: d7 re-joins the B-component, d8 revives
    // the A-component by pairing with resident d1
    step(4, create("d7", textB2), create("d8", textA))
    assert(sinkRanks(sink).keySet.contains("d3"))
  }

  test("replayed batch is idempotent") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("spagerank-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingPageRank.pageRankView(spark, stateDir)))

    pipeline.processBatch(Seq(create("p1", textA), create("p2", textA2))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("p3", textA3), create("p4", textB))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkRanks(sink)
    assert(after.keySet == Set("p1", "p2", "p3"))

    pipeline.processBatch(b1, Some(1L))
    assert(sinkRanks(sink) == after)
    assert(sinkRanks(sink) == unitRecompute(pipeline.state("documents")))
  }
}
