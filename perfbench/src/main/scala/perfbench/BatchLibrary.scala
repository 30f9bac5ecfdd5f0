package perfbench

import scala.collection.mutable

import graft.{BuildMetrics, CacheScope, QueryDef, SparkEntry}
import graft.operators._

/** `batch_library`: a fixed subset of `SparkEntry.all` — the first query
  * of each of the 14 operator modules — over generated tables.
  * The fresh session runs one cold pass (session-memo builds billed to
  * the query that triggers them), then warm passes for the run's
  * seconds, at least two. The seed permutes query order. It never touches the CDC,
  * source or streaming layers, so it is the control for every streaming
  * change. */
object BatchLibrary {
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.queries, "AsOf" -> AsOf.queries,
    "Dedup" -> Dedup.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Curation" -> Curation.queries, "Similarity" -> Similarity.queries,
    "KMeans" -> KMeans.queries, "Multimodal" -> Multimodal.queries,
    "Bpe" -> Bpe.queries, "Pq" -> Pq.queries,
    "Provenance" -> Provenance.queries, "Temporal" -> Temporal.queries,
    "Governance" -> Governance.queries, "Retrieval" -> Retrieval.queries)

  val PerModule = 1
  val SetupWarmups = 1
  val SetupRepeats = 3

  /** (module, query) of the subset, in registration order. */
  def subset: Seq[(String, QueryDef)] =
    modules.flatMap { case (m, qs) => qs.take(PerModule).map(m -> _) }

  final case class Exec(secs: Double, rows: Long, planS: Double,
      error: Option[String])

  def run(ctx: RunCtx): Outcome = {
    val spark = ctx.spark
    val setupDirs = (0 until SetupWarmups + SetupRepeats)
      .map(i => ctx.work.resolve(s"library-$i"))
    val (setupTimes, dir) = ctx.setups(SetupWarmups, SetupRepeats) { i =>
      LibraryData.write(spark, LibraryData.Small, setupDirs(i).toString)
      setupDirs(i).toString
    }
    ctx.sampleLive()
    val rnd = new scala.util.Random(ctx.seed)
    val order = rnd.shuffle(subset)
    val counters = new Counters
    if (ctx.tracer.on) spark.sparkContext.addSparkListener(counters)

    def exec(pass: String, q: QueryDef): Exec = {
      ctx.tracer.unit = s"$pass/${q.name}"
      spark.sparkContext.setLocalProperty(Counters.QueryKey, s"$pass/${q.name}")
      val t0 = System.nanoTime()
      try {
        val (rows, plan) = ctx.tracer.span(spark, s"query.${q.name}") {
          val df = q.build(spark, dir)
          val qe = df.queryExecution
          val n = qe.toRdd.count()
          val phases = qe.tracker.phases
          (n, Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum / 1000.0)
        }
        Exec((System.nanoTime() - t0) / 1e9, rows, plan, None)
      } catch {
        case e: Throwable =>
          Exec((System.nanoTime() - t0) / 1e9, -1L, 0.0,
            Some(e.toString.linesIterator.next().take(200)))
      } finally {
        CacheScope.drainWithCheckpoints(spark)
        spark.sparkContext.setLocalProperty(Counters.QueryKey, null)
      }
    }

    def pass(name: String): Seq[((String, QueryDef), Exec)] =
      order.map(mq => mq -> exec(name, mq._2))

    val build0 = BuildMetrics.snapshot
    val cold = pass("cold")
    ctx.sampleLive()
    val memoBuild = BuildMetrics.snapshot.map { case (k, v) =>
      v - build0.getOrElse(k, 0.0) }.sum
    val misses0 = BuildMetrics.memoSnapshot.values.map(_._2).sum
    val warm = mutable.ArrayBuffer.empty[Seq[((String, QueryDef), Exec)]]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (warm.size < 2 || System.nanoTime() < deadline)
      warm += pass(s"warm${warm.size}")
    val missesWarm = BuildMetrics.memoSnapshot.values.map(_._2).sum - misses0
    ctx.sampleLive()
    if (ctx.tracer.on) spark.sparkContext.removeSparkListener(counters)

    // a query fails if it throws in any pass or its row count moves
    val runs = (cold +: warm.toSeq).flatten.groupBy(_._1._2.name)
    val failures = runs.collect {
      case (n, rs) if rs.exists(_._2.error.nonEmpty) =>
        n -> rs.flatMap(_._2.error).head
      case (n, rs) if rs.map(_._2.rows).distinct.size > 1 =>
        n -> s"row counts differ between passes: ${rs.map(_._2.rows).distinct}"
    }
    val tChecks = System.nanoTime()
    val digestsAgree = setupDirs.map(LibraryData.digest).distinct.size == 1
    val sameOrder = new scala.util.Random(ctx.seed).shuffle(subset) == order
    val otherOrder = new scala.util.Random(ctx.seed + 1).shuffle(subset) != order
    val checks = Map("same_data_for_every_run" -> digestsAgree,
      "same_seed_same_order" -> sameOrder,
      "other_seed_other_order" -> otherOrder)

    val total = (p: Seq[((String, QueryDef), Exec)]) => p.map(_._2.secs).sum
    val coldS = total(cold)
    val warmS = Stats.median(warm.map(total).toSeq)
    val perQuery = warm.flatMap(_.map(_._2.secs)).toSeq
    val detail = Map[String, Any](
      "queries" -> order.map(_._2.name), "warm_passes" -> warm.size,
      "warm_pass_s" -> warm.map(total).toSeq, "failures" -> failures,
      "checks" -> checks, "latency_samples" -> perQuery.size,
      "setup_runs_s" -> setupTimes,
      "phase_s" -> Map("setup" -> setupTimes.sum, "cold" -> coldS,
        "warm" -> warm.map(total).sum,
        "checks" -> (System.nanoTime() - tChecks) / 1e9),
      "rows" -> cold.map { case ((_, q), e) => q.name -> e.rows }.toMap,
      "cold_query_s" -> cold.map { case ((_, q), e) => q.name -> e.secs }.toMap,
      "warm_query_s" -> warm.flatten.groupBy(_._1._2.name).map { case (n, xs) =>
        n -> Stats.median(xs.map(_._2.secs).toSeq) })
    val metrics =
      if (!ctx.tracer.on) Seq(
        ("setup_s", Stats.median(setupTimes), "s"), ("cold_s", coldS, "s"),
        ("warm_s", warmS, "s"),
        ("latency_p50_s", Stats.quantile(perQuery, 0.5), "s"),
        ("latency_p90_s", Stats.quantile(perQuery, 0.9), "s"))
      else {
        val nWarm = warm.size.toDouble
        val warmAll = warm.flatten.toSeq
        val tot = counters.totals((_, _, q) => q.startsWith("warm"))
        val perModule = modules.flatMap { case (m, _) =>
          def secs(p: Seq[((String, QueryDef), Exec)]) =
            p.filter(_._1._1 == m).map(_._2.secs).sum
          Seq((s"operators.$m.cold_s", secs(cold), "s"),
            (s"operators.$m.warm_s", warmAll.filter(_._1._1 == m)
              .map(_._2.secs).sum / nWarm, "s"))
        }
        val planS = warmAll.map(_._2.planS).sum / nWarm
        val residual = warm.zipWithIndex.map { case (p, i) =>
          p.map { case ((_, q), e) =>
            e.secs - e.planS - counters.jobWallSecs(_.query == s"warm$i/${q.name}")
          }.sum
        }
        Seq(("engine.plan_s", planS, "s"),
          ("engine.exec_s", warmS - planS, "s"),
          ("memo.build_s", memoBuild, "s"),
          ("memo.misses_warm", missesWarm.toDouble, "count"),
          ("trace.residual_s", Stats.median(residual.toSeq), "s")) ++
          perModule ++
          Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
            "straggler_s", "task_cpu_s").map { k =>
            (s"spark.$k", tot(k) / nWarm, if (k.endsWith("_s")) "s"
              else if (k.endsWith("bytes")) "bytes" else "count")
          }
      }
    Outcome(order.size.toLong + checks.size,
      failures.size.toLong + checks.count(!_._2), metrics,
      detail + ("warm_s" -> warmS))
  }
}
