package graft

import java.util.concurrent.{CompletionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The one way the engine overlaps independent Spark jobs from the
  * driver: the CDC pipeline's per-table merges and per-index views, and
  * [[CacheScope.eagerAll]]'s materializations. */
private[graft] object Concurrently {
  /** Runs `tasks` on worker threads that carry the calling thread's
    * active session and Spark local properties, waits for EVERY task, then
    * rethrows the first failure in task order, unwrapped. A single task
    * runs on the calling thread. */
  def apply(spark: SparkSession, tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = Executors.newFixedThreadPool(tasks.size)
      try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        tasks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t()))
          .map(f => Try(f.join())) // join: uninterruptible, awaits all
          .collectFirst { case Failure(e) => e }
          .foreach {
            case e: CompletionException if e.getCause != null => throw e.getCause
            case e => throw e
          }
      } finally pool.shutdown()
    }
}
