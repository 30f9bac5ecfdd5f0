package graft.streaming

import graft.SparkSuite

/** Streaming fuzzy decontamination == an independent in-memory q100
  * recompute at every step of a replayed changelog. The view-specific
  * hazard under test: a WHITESPACE-ONLY edit flips a document's
  * content-hash split while leaving its shingle set — hence every pair
  * and signature — untouched, so the partner's sink row must change
  * with no pair delta anywhere. */
class StreamingFuzzyDeconSpec extends SparkSuite with DocCdcFixture {
  import spark.implicits._

  /** The q34/q100 split rule, driver-side. */
  private def bucket(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % 100
  }
  private def isTrain(text: String): Boolean = bucket(text) < 90

  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet

  /** Independent q100 semantics over the current state. */
  private def expected(state: Seq[(String, String)]): Map[String, (Long, Double)] = {
    val pairs = for {
      (a, ta) <- state; (b, tb) <- state if a < b
      sa = shingles(ta); sb = shingles(tb)
      inter = sa.intersect(sb).size.toDouble
      j = inter / (sa.size + sb.size - inter)
      if j >= 0.8
    } yield (a, b, math.rint(j * 1e6) / 1e6)
    val byText = state.toMap
    val flagged = pairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) }.collect {
      case (t, h, j) if isTrain(byText(t)) && !isTrain(byText(h)) => (t, j)
    }
    flagged.groupBy(_._1).view
      .mapValues(js => (js.size.toLong, js.map(_._2).max)).toMap
  }

  private def sinkDocs(sink: InMemoryUpsertSink): Map[String, (Long, Double)] =
    sink.docs("fuzzy_decon").map { case (id, d) =>
      id -> (d("n_holdout_neardups").asInstanceOf[Long],
        math.rint(d("max_jaccard").asInstanceOf[Double] * 1e6) / 1e6)
    }.toMap

  test("split flips without pair deltas re-score partners; equals batch " +
      "recompute after every batch; replay idempotent") {
    // construction against the real md5 rule: A train, its near-dup A2
    // holdout, and a whitespace-padded A2 variant that flips back to
    // train — the pad changes NO shingle, signature, or pair
    val found = (0 until 300).iterator.flatMap { k =>
      val aWords = (0 until 40).map(i => s"f${k}w$i")
      val a = aWords.mkString(" ")
      val a2 = (aWords.dropRight(1) :+ s"zz$k").mkString(" ")
      if (!isTrain(a) || isTrain(a2)) Iterator.empty
      else (1 to 30).iterator
        .map(p => (a, a2, a2 + (" " * p)))
        .filter { case (_, _, padded) => isTrain(padded) }
        .take(1)
    }.take(1).toList.headOption
      .getOrElse(fail("no construction in 300 tries"))
    val (textA, textA2, textA2Pad) = found
    val sa = shingles(textA); val s2 = shingles(textA2)
    val j0 = sa.intersect(s2).size.toDouble /
      (sa.size + s2.size - sa.intersect(s2).size)
    assert(j0 >= 0.8, s"constructed pair must clear the threshold: $j0")
    assert(shingles(textA2Pad) == s2, "pad must not change shingles")

    val sink = new InMemoryUpsertSink
    val stateDir = tmpDir("sfuzzy")
    val pipeline = new CdcPipeline(spark, docSources, stateDir, sink,
      Seq(StreamingFuzzyDecon.fuzzyDeconView(spark, stateDir)))
    def step(batchId: Long, recs: (String, String, Long)*): Unit =
      pipeline.processBatch(recs.toDF("table", "value", "seq"), Some(batchId))

    // batch 0: train doc + holdout near-dup + an unrelated doc
    val other = (0 until 40).map(i => s"other$i").mkString(" ")
    step(0, create("a", textA), create("h", textA2), create("x", other))
    var state = Seq("a" -> textA, "h" -> textA2, "x" -> other)
    assert(sinkDocs(sink) == expected(state))
    assert(sinkDocs(sink).contains("a"), "train doc flagged against holdout dup")

    // batch 1: whitespace-only edit flips h to TRAIN — no shingle, pair
    // or signature changes anywhere, yet a's row must retract
    step(1, update("h", textA2, textA2Pad))
    state = Seq("a" -> textA, "h" -> textA2Pad, "x" -> other)
    assert(sinkDocs(sink) == expected(state))
    assert(!sinkDocs(sink).contains("a"), "partner flip must deflag a")

    // batch 2: flip back — a re-flags with the same jaccard
    step(2, update("h", textA2Pad, textA2))
    state = Seq("a" -> textA, "h" -> textA2, "x" -> other)
    assert(sinkDocs(sink) == expected(state))
    assert(sinkDocs(sink)("a")._2 == math.rint(j0 * 1e6) / 1e6)

    // batch 3: deleting the holdout partner retracts a
    step(3, delete("h", textA2))
    state = Seq("a" -> textA, "x" -> other)
    assert(sinkDocs(sink) == expected(state))
    assert(sinkDocs(sink).isEmpty)

    // crash-redelivery of batch 3 changes nothing
    step(3, delete("h", textA2))
    assert(sinkDocs(sink) == expected(state))
  }
}
