package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `cdc_updates`: the open-loop change stream over a preloaded
  * snapshot. */
object CdcWorkloads {
  /** Preloaded state, change rate (events/s) and publication tick. */
  val Sf = 0.001
  val Rate = 20.0
  val TickMs = 1000L
  /** Timed set-ups after untimed warm-ups: a set-up takes about 0.15 s
    * and still got faster through its first eight runs in a fresh JVM. */
  val SetupWarmups = 8
  val SetupRepeats = 8

  final case class Inputs(model: CdcData.Model, preload: IndexedSeq[CdcData.Event],
      changes: CdcData.Changes, preloadFiles: IndexedSeq[CdcData.DumpFile],
      changeFiles: IndexedSeq[CdcData.DumpFile])

  def inputs(seed: Long, nChanges: Int): Inputs = {
    val m = CdcData.snapshot(seed, Sf)
    val preload = CdcData.snapshotEvents(m).toIndexedSeq
    val ch = CdcData.changes(m, seed, nChanges, Rate)
    Inputs(m, preload, ch, CdcData.layout(preload, 0, TickMs),
      CdcData.layout(ch.events, 1, TickMs))
  }

  /** The generator's own checks: the same seed gives byte-identical dump
    * files; another seed changes key choice and op mix, not sizes. */
  def generatorChecks(in: Inputs, again: Inputs, other: Inputs)
      : Seq[(String, Boolean)] = {
    def files(i: Inputs) = (i.preloadFiles ++ i.changeFiles)
      .map(f => f.name -> f.bytes.toSeq)
    def sizes(i: Inputs) = (i.preload.groupBy(_.table).view.mapValues(_.size)
      .toMap, i.changes.events.size)
    Seq(
      "same_seed_identical_dump" -> (files(in) == files(again)),
      "other_seed_same_sizes" -> (sizes(in) == sizes(other)),
      "other_seed_other_keys" ->
        (in.changes.touched.isEmpty || in.changes.touched != other.changes.touched),
      "other_seed_other_mix" ->
        (in.changes.ops.isEmpty || in.changes.ops != other.changes.ops))
  }

  /** Sets up `SetupRepeats` times after the warm-ups — inputs, dump files,
    * the shop's DDL and statements — and keeps the last; returns the
    * timed runs. */
  private def setup(ctx: RunCtx, nChanges: Int)
      : (Seq[Double], Inputs, Shop, CdcData.DumpDir) = {
    val (times, (in, shop, dir)) = ctx.setups(SetupWarmups, SetupRepeats) { i =>
      val in = inputs(ctx.seed, nChanges)
      val dir = new CdcData.DumpDir(ctx.work.resolve(s"dump-$i"))
      dir.publish(in.preloadFiles)
      (in, new Shop(ctx.spark), dir)
    }
    ctx.sampleLive()
    (times, in, shop, dir)
  }

  /** Correctness of one finished run: sink vs recompute, decode drops vs
    * injected, generator determinism and the checker's own self-test. */
  private def verify(ctx: RunCtx, shop: Shop, in: Inputs, dir: Path,
      key: String): (Long, Long, Map[String, Any]) = {
    val exp = Cdc.expected(shop, in.model)
    val act = Cdc.actual(key)
    val (docs, bad, examples) = Cdc.compare(exp, act)
    val dropped = Cdc.dropped(shop, dir)
    // the checker must flag a single corrupted document
    val (idx, docsOf) = act.filter(_._2.nonEmpty).minBy(_._1)
    val (id, doc) = docsOf.minBy(_._1)
    val (field, _) = doc.minBy(_._1)
    val tampered = act.updated(idx, docsOf.updated(id,
      doc.updated(field, Json.parse("\"tampered\""))))
    val selfTest = Cdc.compare(exp, tampered)._2 == bad + 1
    val n = in.changes.events.size
    val gen = generatorChecks(in, inputs(ctx.seed, n), inputs(ctx.seed + 1, n))
    val checks = gen :+ ("checker_flags_tampered_doc" -> selfTest) :+
      ("drops_equal_injected" -> (dropped == in.changes.corrupt))
    val failed = bad + checks.count(!_._2)
    (docs + checks.size, failed, Map(
      "docs_checked" -> docs, "docs_mismatched" -> bad,
      "mismatch_examples" -> examples, "events_dropped" -> dropped,
      "corrupt_injected" -> in.changes.corrupt,
      "checks" -> checks.toMap))
  }

  /** Per-batch layer numbers from the spans of the traced batches. */
  private def layerMetrics(ctx: RunCtx, probe: CdcProbe,
      batches: Seq[StreamingQueryProgress], counters: Counters,
      stateDir: Path, key: String, dropped: Long, backlog: Double,
      genLag: Double): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val ids = batches.map(_.batchId.toString).toSet
    def inBatch(s: Span, b: Long) = s.unit == s"batch-$b"
    val n = math.max(1, batches.size).toDouble
    val per = batches.map { p =>
      val b = p.batchId
      val views = t.named("view.").filter(inBatch(_, b))
      val sinks = t.named("sink.").filter(inBatch(_, b))
      val firstView = views.map(_.startNs).minOption
      val addBatchStart = Cdc.startMs(p) + Seq("latestOffset", "walCommit",
        "getBatch", "queryPlanning").map(k => (Cdc.dur(p, k) * 1000).toLong).sum
      // span clocks are nanoTime; map onto the progress wall clock
      val nsToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
      val ingest = firstView.map(v => (v / 1000000L + nsToMs - addBatchStart) / 1000.0)
        .getOrElse(Cdc.dur(p, "addBatch"))
      val viewS = views.map(_.secs).sum
      val sinkS = sinks.map(_.secs).sum
      val framework = Cdc.dur(p, "triggerExecution") - Cdc.dur(p, "addBatch")
      val residual = Cdc.dur(p, "addBatch") - math.max(0.0, ingest) - viewS - sinkS
      (framework, math.max(0.0, ingest), views, sinkS, residual)
    }
    val perView = RefSql.inserts.map { case (name, _) =>
      (s"view.$name.s", Stats.median(per.map(_._3.filter(_.name == s"view.$name")
        .map(_.secs).sum)), "s")
    }
    val keep = (_: String, b: String, _: String) => ids(b)
    val tot = counters.totals(keep)
    val jobsPer = batches.map(p => counters.totals((_, b, _) =>
      b == p.batchId.toString))
    val es = EsStandIn.state(key)
    val (stBytes, stFiles) = Cdc.footprint(stateDir)
    Seq(
      ("stream.framework_s", Stats.median(per.map(_._1)), "s"),
      ("spark.jobs_per_batch", Stats.median(jobsPer.map(_("jobs"))), "count"),
      ("spark.tasks_per_batch", Stats.median(jobsPer.map(_("tasks"))), "count"),
      ("cdc.ingest_s", Stats.median(per.map(_._2)), "s"),
      ("cdc.events_dropped", dropped.toDouble, "count")) ++ perView ++ Seq(
      ("views.rows_out", probe.rowsOut.get / n, "count"),
      ("views.deletes_out", probe.deletesOut.get / n, "count"),
      ("sink.s", Stats.median(per.map(_._4)), "s"),
      ("sink.docs", es.actions.get / n, "count"),
      ("sink.bytes", es.bytes.get / n, "bytes"),
      ("sink.bulks", es.bulks.get / n, "count"),
      ("sink.transport_s", es.transportNs.get / 1e9 / n, "s"),
      ("sink.useful_ratio",
        es.useful.get.toDouble / math.max(1L, es.actions.get), "ratio"),
      ("state.bytes", stBytes.toDouble, "bytes"),
      ("state.files", stFiles.toDouble, "count"),
      ("spark.shuffle_bytes_per_batch", tot("shuffle_write_bytes") / n, "bytes"),
      ("stream.backlog_max_events", backlog, "count"),
      ("generator.lag_s", genLag, "s"),
      ("engine.plan_s", probe.planNs.get / 1e9 / n, "s"),
      ("engine.exec_s", probe.execNs.get / 1e9 / n, "s"),
      ("trace.residual_s", Stats.median(per.map(_._5)), "s")) ++
      Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
        "straggler_s", "task_cpu_s").map { k =>
        (s"spark.$k", tot(k), if (k.endsWith("_s")) "s"
          else if (k.endsWith("bytes")) "bytes" else "count")
      }
  }

  private def withCounters[T](ctx: RunCtx, probe: CdcProbe)(f: Counters => T): T = {
    val counters = new Counters
    if (ctx.tracer.on) {
      ctx.spark.sparkContext.addSparkListener(counters)
      ctx.spark.listenerManager.register(probe.planListener)
    }
    try f(counters)
    finally if (ctx.tracer.on) {
      ctx.spark.sparkContext.removeSparkListener(counters)
      ctx.spark.listenerManager.unregister(probe.planListener)
    }
  }

  /** Preload the snapshot (the fresh session's first drain, reported as
    * cold), then append changes open-loop at `Rate` events/s for the
    * run's seconds. Each event's freshness is its batch's commit time
    * minus its scheduled creation time. */
  def updates(ctx: RunCtx): Outcome = {
    val n = math.max(1, (Rate * ctx.seconds).toInt)
    val (setupTimes, in, shop, dir) = setup(ctx, n)
    val probe = new CdcProbe(ctx.spark, ctx.tracer)
    withCounters(ctx, probe) { counters =>
      val tc = System.currentTimeMillis()
      val (q, key, stateDir) = Cdc.start(shop, probe, dir.path, ctx.work)
      val published = mutable.ArrayBuffer.empty[(Long, Long)] // (ms, offsets)
      val lagMs = new Array[Long](in.changes.events.size)
      try {
        q.processAllAvailable()
        val coldS = (System.currentTimeMillis() - tc) / 1000.0
        ctx.sampleLive()
        probe.rowsOut.set(0); probe.deletesOut.set(0)
        probe.planNs.set(0); probe.execNs.set(0)
        val es = EsStandIn.state(key)
        Seq(es.actions, es.bytes, es.bulks, es.transportNs, es.useful).foreach(_.set(0))
        val t0 = System.currentTimeMillis()
        var count = in.preload.size.toLong
        published += ((t0, count))
        // open loop: each part is published when its tick ends, whatever
        // the pipeline is doing
        in.changeFiles.groupBy(_.part).toSeq.sortBy(_._1).foreach { case (part, fs) =>
          val due = t0 + part * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          dir.publish(fs)
          val now = System.currentTimeMillis()
          fs.foreach(_.events.foreach(i =>
            lagMs(i) = now - (t0 + in.changes.events(i).offsetMs)))
          count += fs.map(_.events.size).sum
          published += ((now, count))
        }
        val tWindow = System.currentTimeMillis()
        q.processAllAvailable()
        ctx.sampleLive()
        q.stop()
        q.exception.foreach(e => throw e)
        val tTail = System.currentTimeMillis()
        val all = Cdc.batches(q)
        val window = all.filter(p => Cdc.endOffset(p) > in.preload.size)
        // replay offset of each change event: files in name order
        val offsetOf = new Array[Long](in.changes.events.size)
        var off = in.preload.size.toLong
        in.changeFiles.foreach(_.events.foreach { i => offsetOf(i) = off; off += 1 })
        val fresh = in.changes.events.indices.map { i =>
          val p = window.find(p => Cdc.endOffset(p) > offsetOf(i)).get
          (Cdc.endMs(p) - (t0 + in.changes.events(i).offsetMs)) / 1000.0
        }
        def publishedBy(ms: Long) =
          published.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0L)
        val backlog = window.map(p =>
          (publishedBy(Cdc.startMs(p)) - Cdc.startOffset(p)).toDouble)
        val batchS = window.map(Cdc.dur(_, "triggerExecution"))
        val (attempted, failed, check) =
          verify(ctx, shop, in, dir.path, key)
        val phases = Map("cold" -> coldS, "window" -> (tWindow - t0) / 1000.0,
          "tail" -> (tTail - tWindow) / 1000.0,
          "verify" -> (System.currentTimeMillis() - tTail) / 1000.0)
        val lags = lagMs.toSeq.map(_ / 1000.0)
        val detail = check ++ Map(
          "preload_events" -> in.preload.size, "change_events" -> n,
          "rate_eps" -> Rate, "ops" -> in.changes.ops,
          "batches" -> window.size, "batch_s" -> batchTimesDetail(batchS),
          "freshness_samples" -> fresh.size,
          "freshness_p99_s" -> Stats.quantile(fresh, 0.99),
          "freshness_max_s" -> fresh.max,
          "generator_lag_p50_s" -> Stats.median(lags),
          "generator_lag_max_s" -> lags.max,
          "backlog_events" -> backlog,
          // the rate the largest batch drained at: batch cost is nearly
          // fixed, so capacity grows with the backlog a batch picks up.
          // Offsets, not numInputRows: the pipeline scans its input once
          // per source table, and progress counts every scan
          "drain_capacity_eps" -> window.map(p =>
            (Cdc.endOffset(p) - Cdc.startOffset(p)) /
              math.max(1e-9, Cdc.dur(p, "triggerExecution"))).max,
          "input_rows_per_event" -> window.map(_.numInputRows).sum.toDouble /
            math.max(1L, window.map(p => Cdc.endOffset(p) - Cdc.startOffset(p)).sum),
          "setup_runs_s" -> setupTimes, "phase_s" -> phases,
          "sf" -> Sf)
        val warmS = Stats.median(batchS)
        val metrics =
          if (!ctx.tracer.on) Seq(
            ("setup_s", Stats.median(setupTimes), "s"), ("cold_s", coldS, "s"),
            ("warm_s", warmS, "s"),
            ("latency_p50_s", Stats.quantile(fresh, 0.5), "s"),
            ("latency_p90_s", Stats.quantile(fresh, 0.9), "s"))
          else layerMetrics(ctx, probe, window, counters, stateDir, key,
            check("events_dropped").asInstanceOf[Long],
            (backlog :+ 0.0).max, lags.max)
        Outcome(attempted, failed, metrics, detail + ("warm_s" -> warmS))
      } finally if (q.isActive) q.stop()
    }
  }

  private def batchTimesDetail(xs: Seq[Double]): Map[String, Double] = Map(
    "p50" -> Stats.median(xs), "p90" -> Stats.quantile(xs, 0.9),
    "max" -> (xs :+ 0.0).max)
}
