package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine

/** What one workload run hands back: the contract fields, the metrics
  * (end-to-end untraced, per-layer traced) and a detail map. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], detail: Map[String, Any])

/** Entry point of one benchmark run (started by `run.py`):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --out <file>`. Writes one JSON object to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val loadStart = Host.loadavg()
    val spark = Engine.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val calibBefore = Host.calib(spark)
    val tracer = new Tracer(trace)
    val ctx = new RunCtx(spark, seed, seconds, tracer, work)

    val out = workload match {
      case "cdc_updates"  => CdcWorkloads.updates(ctx)
      case "batch_library" => BatchLibrary.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val calibAfter = Host.calib(spark)
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg(),
      "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter)
    val hostMetrics =
      if (!trace) Nil
      else Seq(("host.nproc", Runtime.getRuntime.availableProcessors().toDouble, "count"),
        ("host.calib_before_s", calibBefore, "s"),
        ("host.calib_after_s", calibAfter, "s"))
    val metrics = (out.metrics ++ hostMetrics).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }
    val allMetrics =
      if (trace) metrics
      else metrics :+ ("peak_live_mb" -> Map("value" -> ctx.peakLiveMb, "unit" -> "MB"))
    val result = scala.collection.immutable.ListMap(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(allMetrics: _*),
      "detail" -> (out.detail ++ Map("host" -> host,
        "live_mb_samples" -> ctx.liveSamples, "peak_rss_mb" -> Host.peakRssMb(),
        "failed_share" -> out.failed.toDouble / math.max(1L, out.attempted),
        "workload" -> workload, "seed" -> seed, "trace" -> trace)))
    if (trace) tracer.write(work.resolve("spans.json"), ctx.t0Ns)
    Files.write(Paths.get(opts("out")), Json.mapper.writeValueAsBytes(result))
    spark.stop()
  }
}

/** Shared per-run context. */
final class RunCtx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val tracer: Tracer, val work: Path) {
  val t0Ns: Long = System.nanoTime()

  /** A set-up `times` times after `warmups` untimed ones (class loading
    * and JIT), which get the first indexes; returns the timed wall times
    * and the last value. */
  def setups[T](warmups: Int, times: Int)(f: Int => T): (Seq[Double], T) = {
    (0 until warmups).foreach(f)
    var last: Option[T] = None
    val ts = (warmups until warmups + times).map { i =>
      val t = System.nanoTime()
      last = Some(f(i))
      (System.nanoTime() - t) / 1e9
    }
    (ts, last.get)
  }

  val liveSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Records the memory the program holds at a phase end, outside every
    * timed section: heap in use after a full collection plus non-heap
    * (metaspace, code cache) in use, in MB. Unlike the resident set it
    * does not read the fixed heap size back. The first collection lets
    * Spark's cleaner drop the blocks of unreachable RDDs and broadcasts,
    * which it does on its own thread; the second frees them. */
  def sampleLive(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    liveSamples += (mem.getHeapMemoryUsage.getUsed +
      mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def peakLiveMb: Double = (liveSamples :+ 0.0).max
}

object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  /** The calibration probe `graft.Bench` uses: a fixed pure-CPU
    * codegen'd sum over 16M rows, after one untimed warm-up. */
  def calib(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("sum((id % 65536) * (id % 63)) AS s")
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val pos = q * (v.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(v.length - 1, lo + 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
