package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev tool for one query at a time, over the tables under
  * `SPARK_GRAFT_SF_DIR` (default: the sf0.1 test data):
  *
  *   - `time <q> [n]`: run `q` n times (default 5) in one warm JVM, to
  *     isolate its cost from the full-suite run-order and page-cache
  *     effects [[Bench]] is exposed to;
  *   - `profile <q>`: one warm-up and one timed run, printing a per-job /
  *     per-stage wall breakdown of the timed run, so a query's seconds
  *     are attributable to stages instead of guessed;
  *   - `explain <q>`: print `q`'s formatted physical plan;
  *   - `explain --all <outDir> <suffix>`: write every declared query's
  *     formatted plan to `<outDir>/<name>_<suffix>.txt`.
  *
  * Usage: runMain graft.Dev time|profile|explain ... */
object Dev {
  private val usage =
    "usage: graft.Dev time <q> [n] | profile <q> | explain <q> | " +
      "explain --all <outDir> <suffix>"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-dev")
    spark.sparkContext.setLogLevel("WARN")
    // one run of `name` with Bench's per-query discipline, in seconds
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      CacheScope.drainWithCheckpoints(spark)
      sec
    }
    try args.toSeq match {
      case Seq("time", name, rest @ _*) =>
        val n = rest.headOption.fold(5)(_.toInt)
        val times = (0 until n).map(_ => run(name))
        println(f"$name: ${times.map(t => f"$t%.2f").mkString(" ")} " +
          f"min=${times.min}%.2f median=${times.sorted.apply(n / 2)}%.2f")
      case Seq("profile", name) =>
        run(name) // warm-up
        profile(spark, name, run(name))
      case Seq("explain", "--all", outDir, suffix) =>
        explainAll(spark, sfDir, outDir, suffix)
      case Seq("explain", name) =>
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    } finally spark.stop()
  }

  private final case class St(var name: String = "", var submit: Long = 0,
      var done: Long = 0, var tasks: Int = 0, var taskTimeMs: Long = 0,
      var runMs: Long = 0, var gcMs: Long = 0, var deserMs: Long = 0,
      var cpuMs: Long = 0)

  /** Runs `timed` under a listener and prints its jobs in order and its
    * 30 costliest stages. */
  private def profile(spark: SparkSession, name: String,
      timed: => Double): Unit = {
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Seq[Int])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs(e.jobId) = (e.time, 0L, e.stageIds)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { case (s, _, ids) =>
          jobs(e.jobId) = (s, e.time, ids) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo.stageId
        val st = stages.getOrElseUpdate(i, St())
        st.name = e.stageInfo.name.linesIterator.next().take(120)
        st.submit = e.stageInfo.submissionTime.getOrElse(0L)
        st.done = e.stageInfo.completionTime.getOrElse(0L)
        st.tasks = e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(e.stageId, St())
        if (e.taskInfo != null) st.taskTimeMs += e.taskInfo.duration
        if (e.taskMetrics != null) {
          st.runMs += e.taskMetrics.executorRunTime
          st.gcMs += e.taskMetrics.jvmGCTime
          st.deserMs += e.taskMetrics.executorDeserializeTime
          st.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sec = timed
    spark.sparkContext.removeSparkListener(listener)

    println(f"== $name timed run: $sec%.3f s, ${jobs.size} jobs, ${stages.size} stages ==")
    var lastEnd = 0L
    jobs.toSeq.sortBy(_._1).foreach { case (jid, (s, e, ids)) =>
      val gap = if (lastEnd > 0) s - lastEnd else 0L
      println(f"job $jid%3d  ${(e - s) / 1e3}%7.3f s  (driver gap before: ${gap / 1e3}%6.3f s)  stages=${ids.mkString(",")}")
      lastEnd = e
    }
    println("-- stages (wall desc) --")
    stages.toSeq.sortBy(-_._2.taskTimeMs).take(30).foreach { case (i, st) =>
      println(f"stage $i%4d  wall=${(st.done - st.submit) / 1e3}%7.3f s  taskSum=${st.taskTimeMs / 1e3}%7.3f s  run=${st.runMs / 1e3}%7.3f cpu=${st.cpuMs / 1e3}%7.3f gc=${st.gcMs / 1e3}%6.3f deser=${st.deserMs / 1e3}%6.3f  tasks=${st.tasks}%3d  ${st.name}")
    }
  }

  /** Writes every declared query's formatted plan; a query that fails
    * to plan is reported and skipped. */
  private def explainAll(spark: SparkSession, sfDir: String,
      outDir: String, suffix: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.all.map(_.name).foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain --all] $name failed: $e")
      } finally CacheScope.drainWithCheckpoints(spark)
    }
  }
}
