package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.{Dedup, TextAnalysis}

/** Incremental curation == batch q39 recompute at every step of a
  * replayed document changelog: after each micro-batch the sink must
  * hold exactly the curated subset (quality ≥ 0.5, near-dup survivors
  * only, content-hash split) of the CURRENT document state — including
  * losers retracted cross-batch, survivors re-admitted when an update
  * breaks their cluster, and docs dropping out when quality degrades. */
class StreamingCurationSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  // 40-word texts WITH 3 stopwords → quality 0.575 (≥ 0.5 bar); the
  // noStops variant scores 0.2 and must be filtered out
  private def qwords(prefix: String): Seq[String] = {
    val w = (0 until 37).map(i => s"$prefix$i")
    ("the" +: w.slice(0, 12)) ++ ("a" +: w.slice(12, 24)) ++
      ("of" +: w.slice(24, 37))
  }
  private val textA = qwords("a").mkString(" ")
  private val textA2 = (qwords("a").dropRight(1) :+ "zz").mkString(" ")
  private val textB = qwords("b").mkString(" ")
  private val textC = qwords("c").mkString(" ")
  private val lowQ = (0 until 40).map(i => s"x$i").mkString(" ")

  /** Batch q39 recompute over the current materialized document state. */
  private def batchRecompute(state: DataFrame): Map[String, (String, Double)] = {
    val docs = state.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("f"))
    val pairs = Dedup.nearDupPairs(exploded, 0.8, bandRows = 2, nBands = 32)
      .select("doc_a", "doc_b")
    val losers = Dedup.clusterPairsStar(pairs)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val bucket = pmod(
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    val out = docs
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .as[(String, String, Double)].collect()
      .map { case (id, s, q) => id -> (s, math.rint(q * 1e6) / 1e6) }.toMap
    docs.unpersist()
    out
  }

  private def sinkDocs(sink: InMemoryUpsertSink): Map[String, (String, Double)] =
    sink.docs("curated_corpus").map { case (id, d) =>
      id -> (d("split").toString,
        math.rint(d("quality").asInstanceOf[Double] * 1e6) / 1e6)
    }.toMap

  test("incremental curated corpus equals batch q39 after every batch") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scuration")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingCuration.curatedView(spark, stateDir)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      val expected = batchRecompute(pipeline.state("documents"))
      assert(sinkDocs(sink) == expected,
        s"batch $batchId: incremental != batch q39 recompute")
    }

    // creates: q1∼q2 duplicates (q2 is the loser), one low-quality doc
    step(0, create("q1", textA), create("q2", textA), create("l1", lowQ))
    assert(sinkDocs(sink).keySet == Set("q1"))

    // cross-batch: q3 joins the q1-cluster as a loser; q4 unique survives
    step(1, create("q3", textA2), create("q4", textB))
    assert(sinkDocs(sink).keySet == Set("q1", "q4"))

    // update breaks the cluster: q1 rewritten to unrelated (still
    // high-quality) text → q2 becomes its cluster's survivor
    step(2, update("q1", textA, textC))
    assert(sinkDocs(sink).keySet == Set("q1", "q2", "q4"))

    // delete the new survivor → q3 orphaned, re-admitted
    step(3, delete("q2", textA))
    assert(sinkDocs(sink).keySet == Set("q1", "q3", "q4"))

    // quality degradation drops a survivor without any dedup change
    step(4, update("q4", textB, lowQ))
    assert(sinkDocs(sink).keySet == Set("q1", "q3"))
  }

  /** Batch q153 recompute (q39 with q151's argmax survivors) over the
    * current materialized document state. */
  private def batchQ153(state: DataFrame): Map[String, (String, Double)] = {
    val docs = state.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("f"))
    val pairs = Dedup.nearDupPairs(exploded, 0.8, bandRows = 2, nBands = 32)
      .select("doc_a", "doc_b")
    val clusters = Dedup.clusterPairsStar(pairs)
    val q = docs.select(col("doc_id").as("m_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val surv = clusters.join(q, clusters("doc_id") === q("m_id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("quality").as("q"),
        (-col("m_id").cast("long")).as("negid"))).as("m"))
      .select(col("cluster_id"), (-col("m.negid")).cast("string").as("sid"))
    val losers = clusters.join(surv, "cluster_id")
      .filter(col("doc_id") =!= col("sid")).select("doc_id")
    val bucket = pmod(
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    val out = docs
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .as[(String, String, Double)].collect()
      .map { case (id, s, qq) => id -> (s, math.rint(qq * 1e6) / 1e6) }.toMap
    docs.unpersist()
    out
  }

  test("BestQuality policy == batch q153 after every batch: the argmax " +
      "survivor wins over min-id, flips on a quality edit, and hands " +
      "off on delete") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scuration-q153")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingCuration.curatedView(spark, stateDir,
        policy = StreamingCuration.SurvivorPolicy.BestQuality)))

    def step(batchId: Long, recs: (String, String, Long)*): Unit = {
      pipeline.processBatch(recs.toDF("table", "value", "seq"),
        Some(batchId))
      assert(sinkDocs(sink) == batchQ153(pipeline.state("documents")),
        s"batch $batchId: incremental != batch q153 recompute")
    }

    // textHQ: one mid-word swapped for a 4th stopword — same cluster as
    // textA (1-word edit, jaccard ≈ 0.85) but quality 0.7 vs 0.575
    val textHQ = {
      val w = qwords("a").toArray; w(20) = "the"; w.mkString(" ")
    }

    // the HIGHER-quality doc has the HIGHER id: min-id policy would
    // keep 21, the argmax policy must keep 22
    step(0, create("21", textA), create("22", textHQ), create("30", textB))
    assert(sinkDocs(sink).keySet == Set("22", "30"),
      "argmax survivor (the better rendering) must win over min-id")

    // a quality EDIT on the survivor — no cluster change — flips the
    // survivorship: 22 degrades to 21's quality, the (quality, -id)
    // tie-break now elects 21
    step(1, update("22", textHQ, textA2))
    assert(sinkDocs(sink).keySet == Set("21", "30"),
      "quality-edit CDC event must flip the cluster's survivor")

    // deleting the survivor hands off to the remaining member
    step(2, delete("21", textA))
    assert(sinkDocs(sink).keySet == Set("22", "30"))

    // replay idempotence on the widened-frontier path
    val b2 = Seq(delete("21", textA)).toDF("table", "value", "seq")
    pipeline.processBatch(b2, Some(2L))
    assert(sinkDocs(sink) == batchQ153(pipeline.state("documents")))
  }

  test("language-mix view retracts deletes and tracks reclassifying updates") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scuration-lang")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingCuration.langStats(spark, stateDir)))

    def langs(): Map[String, (Long, Long)] =
      sink.docs("corpus_lang_stats").map { case (id, d) =>
        id -> (d("tokens").asInstanceOf[Long], d("docs").asInstanceOf[Long])
      }.toMap
    def recompute(): Map[String, (Long, Long)] =
      pipeline.state("documents")
        .groupBy(TextAnalysis.predLang(col("text")).as("lang"))
        .agg(sum(size(split(trim(col("text")), "\\s+"))).as("t"),
          count(lit(1)).as("d"))
        .as[(String, Long, Long)].collect()
        .map { case (l, t, d) => l -> (t, d) }.toMap

    // textA/textB carry en stopwords; lowQ has no markers → unknown
    pipeline.processBatch(Seq(
      create("m1", textA), create("m2", textB), create("m3", lowQ))
      .toDF("table", "value", "seq"), Some(0L))
    assert(langs() == recompute())
    assert(langs().keySet == Set("en", "unknown"))
    assert(langs()("en") == (80L, 2L))

    // reclassifying update moves m1 en → unknown; delete shrinks en
    pipeline.processBatch(Seq(
      update("m1", textA, lowQ), delete("m2", textB))
      .toDF("table", "value", "seq"), Some(1L))
    assert(langs() == recompute())
    assert(langs().keySet == Set("unknown"),
      "en reached count 0 and must leave the sink")
  }

  test("replayed batch is idempotent across all four state stores") {
    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("scuration-replay")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingCuration.curatedView(spark, stateDir)))

    pipeline.processBatch(Seq(create("r1", textA), create("r2", textB))
      .toDF("table", "value", "seq"), Some(0L))
    val b1 = Seq(create("r3", textA2), update("r2", textB, lowQ))
      .toDF("table", "value", "seq")
    pipeline.processBatch(b1, Some(1L))
    val after = sinkDocs(sink)
    assert(after.keySet == Set("r1"))

    pipeline.processBatch(b1, Some(1L))
    assert(sinkDocs(sink) == after)
    assert(sinkDocs(sink) == batchRecompute(pipeline.state("documents")))
  }
}
