package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded from the benchmark's side of each layer boundary, and
  * Spark's own counters attributed to them.
  *
  * A span carries name, start, end, parent and the micro-batch or query
  * it belongs to. The span's name is set as a driver local property
  * while it is open, so the [[Counters]] listener can bill every job,
  * stage and task to the span that submitted it. Spans stay in memory
  * and are written out once, at the end of the run. */
final case class Span(id: Int, name: String, parent: Int, unit: String,
    startNs: Long, var endNs: Long = 0L) {
  def secs: Double = (endNs - startNs) / 1e9
}

final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile var unit: String = ""

  /** Times `body` as a span; a no-op wrapper when tracing is off. */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.map(_.id).getOrElse(-1)
      val s = spans.synchronized {
        val s = Span(spans.length, name, parent, unit, System.nanoTime())
        spans += s; s
      }
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Counters.SpanKey)
      stack.set(s :: stack.get)
      sc.setLocalProperty(Counters.SpanKey, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Counters.SpanKey, prevProp)
      }
    }

  def named(prefix: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  /** Self time: the span minus the time its direct children cover. */
  def selfSecs(s: Span): Double = {
    val kids = spans.synchronized(spans.filter(_.parent == s.id).toSeq)
    s.secs - kids.map(_.secs).sum
  }

  def write(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val rows = spans.synchronized(spans.toSeq).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start_s" -> (s.startNs - t0Ns) / 1e9,
        "end_s" -> (s.endNs - t0Ns) / 1e9, "self_s" -> selfSecs(s))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Json.mapper.writeValueAsBytes(rows))
  }
}

/** Per-stage Spark counters, each stage labelled with the span, the
  * micro-batch (`streaming.sql.batchId`, set by Structured Streaming)
  * and the batch-library query that submitted its job. */
final class Counters extends SparkListener {
  final class Stage(val span: String, val batch: String, val query: String) {
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    var done = false
  }

  val stages = mutable.HashMap.empty[Int, Stage]
  val jobs = mutable.HashMap.empty[Int, Job]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = prop(e.properties, Counters.SpanKey)
    val batch = prop(e.properties, "streaming.sql.batchId")
    val query = prop(e.properties, Counters.QueryKey)
    jobs(e.jobId) = Job(span, batch, query, e.time)
    e.stageIds.foreach(id =>
      stages.getOrElseUpdate(id, new Stage(span, batch, query)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages.get(e.stageInfo.stageId).foreach(_.done = true) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      Option(e.taskInfo).foreach(i => s.durations += i.duration)
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Totals over the stages and jobs `keep` selects by
    * (span, batch, query). */
  def totals(keep: (String, String, String) => Boolean): Map[String, Double] =
    synchronized {
      val ss = stages.values.filter(s => s.done && keep(s.span, s.batch, s.query))
      val js = jobs.values.filter(j => keep(j.span, j.batch, j.query))
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> ss.size.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ss.map(_.spill).sum.toDouble,
        "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "straggler_s" -> ss.map { s =>
          if (s.durations.isEmpty) 0.0
          else (s.durations.max - Stats.median(s.durations.map(_.toDouble).toSeq)) / 1000.0
        }.sum)
    }

  /** Union of the wall intervals of the selected jobs, in seconds. */
  def jobWallSecs(keep: Job => Boolean): Double = synchronized {
    val iv = jobs.values.filter(j => keep(j) && j.endMs >= 0)
      .map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)) / 1000.0
  }
}

final case class Job(span: String, batch: String, query: String,
    startMs: Long, var endMs: Long = -1L)

object Counters {
  val SpanKey = "perfbench.span"
  val QueryKey = "perfbench.query"
}
