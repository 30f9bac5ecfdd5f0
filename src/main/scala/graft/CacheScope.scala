package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Tracked cache scope for batch query builders.
  *
  * Several builders persist an intermediate frame that feeds two or more
  * downstream branches of the SAME query (an exploded token table, a
  * shingle frame). persist is the right call — the expensive pass runs
  * once — but a bare `.persist` has no release point: the builder returns
  * a plan, the caller runs the action, and the cached blocks outlive the
  * query. Across a long session (the driver's 100-query bench JVM, or a
  * real long-lived engine serving many queries) those blocks accumulate
  * until the store thrashes — measured in round 4 as a 4-15× tail
  * inflation (q81 33.6s in-suite vs 5.2s isolated).
  *
  * The fix mirrors the streaming side's batch-scoped cache
  * (`BatchCtx.cache`, released when the batch closes): each query-
  * building method registers every persist here, and
  * every executor of a query (Bench, Dev, Verify, the test gates)
  * calls `drain()` once the action completes. Frames are released
  * non-blocking, lineage intact — on a cluster nothing is lost but the
  * blocks.
  *
  * A queue (not a set keyed by plan) on purpose: two executions of the
  * same builder produce distinct DataFrames whose plans the CacheManager
  * would de-duplicate; draining by reference unpersists whichever entry
  * is still live and is idempotent for the rest.
  */
object CacheScope {
  // Thread-local, not a global queue: an engine session serving
  // CONCURRENT queries (each on its own thread, the Spark pattern)
  // must not let one query's drain() release a frame another query is
  // mid-action on — a global queue made that a silent timing-dependent
  // recompute. The build→action→drain sequence of a query runs on one
  // caller thread (Bench, Verify, the gates), so per-thread scoping
  // releases exactly the caller's own frames.
  private val live =
    ThreadLocal.withInitial[ConcurrentLinkedQueue[DataFrame]](
      () => new ConcurrentLinkedQueue[DataFrame]())

  // Global weak registry backing the orphan sweep: the single-thread
  // build→action→drain contract is documented, not enforced, so a frame
  // persisted from a worker/future thread that never drains would hold
  // its blocks for the JVM lifetime. Entries are (weak frame ref, owning
  // thread); drain() releases any entry whose owner has died. Weak refs
  // keep the registry from pinning frames the thread-local queue already
  // released — once GC clears the referent the entry is dropped.
  private val registry = new ConcurrentLinkedQueue[
    (java.lang.ref.WeakReference[DataFrame], Thread)]()

  /** Persist `df` (MEMORY_AND_DISK, lineage kept — a lost executor
    * recomputes, unlike localCheckpoint) and register it for release at
    * the end of the current query's action. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    live.get().add(df)
    registry.add((new java.lang.ref.WeakReference(df), Thread.currentThread()))
    df
  }

  /** [[persist]], then materialize the cache EAGERLY with one count
    * before returning. For a shared frame whose consumers include
    * broadcast subqueries (a collected model, a broadcast stats row,
    * a broadcast dimension built off the same frame), lazy persist has
    * a duplication race: Spark executes broadcast exchanges on separate
    * threads, so every consumer job that starts before the first one
    * finishes MISSES the cache and recomputes the frame's full lineage
    * in parallel (measured on q102 at sf0.1: the md5+explode pass ran
    * 5×, 42 task-seconds for a 7.5 task-second plan). One eager action
    * serializes exactly one computation of the lineage; every
    * subsequent consumer — main job or broadcast thread — reads blocks.
    * At cluster scale the duplicated work is N× a full corpus pass, so
    * the one extra scheduling round-trip is the right trade wherever
    * the frame's lineage is expensive. */
  def eager(df: DataFrame): DataFrame = {
    val p = persist(df)
    p.count()
    p
  }

  /** [[persist]] each frame on the CALLER's scope, then materialize them
    * CONCURRENTLY (one blocking count per frame, [[Concurrently]]: every
    * count is awaited, then the first failure rethrown as is) — for
    * INDEPENDENT shared frames whose eager materializations would
    * otherwise serialize into back-to-back barriers (guide §2.6 "overlap
    * independent jobs": as one count's stage dwindles to stragglers the
    * other's tasks back-fill the idle cores). Registration happens on
    * the caller thread before any job starts, so drain() semantics are
    * exactly [[eager]]'s. Use only for frames with no data dependency on
    * each other; a dependent frame would race its input's cache exactly
    * like the broadcast-thread duplication [[eager]] exists to prevent. */
  def eagerAll(dfs: DataFrame*): Seq[DataFrame] = {
    val ps = dfs.map(persist)
    ps.headOption.foreach(h =>
      Concurrently(h.sparkSession, ps.map(df => () => { df.count(); () })))
    ps
  }

  /** Release every frame THIS THREAD persisted since its last drain,
    * then sweep orphans (frames whose owning thread died without
    * draining). Call after the query's action completes; non-blocking so
    * the release never bills wall-clock to the next query. */
  def drain(): Unit = {
    val q = live.get()
    var df = q.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = q.poll()
    }
    val it = registry.iterator()
    while (it.hasNext) {
      val (ref, owner) = it.next()
      val frame = ref.get()
      if (frame == null) it.remove()
      else if (!owner.isAlive) {
        frame.unpersist(blocking = false)
        it.remove()
      }
    }
  }

  /** [[drain]], plus reliable-checkpoint hygiene: delete the checkpoint
    * scope the finished query's iterative operators (star contraction,
    * label propagation, PageRank) wrote into, and re-arm a fresh one.
    *
    * Why: `checkpoint()` files are never deleted by Spark itself, and
    * the GC-driven `cleanCheckpoints` cleaner only fires when the
    * driver happens to collect the RDD reference — across a 100-query
    * bench JVM (warm-up + timed pass) the directories accumulated for
    * the process lifetime, inflating the checkpoint-heavy rows 5–7×
    * over their isolated cost (r5 VERDICT #2). After a query's action
    * completes its checkpointed RDDs are dead weight; the caller that
    * owns the query boundary deletes them deterministically.
    *
    * `setCheckpointDir(base)` appends a fresh UUID subdirectory, so
    * deleting the current scope and re-setting the PARENT both reclaims
    * the files and isolates the next query — queries never share a
    * scope, so the delete can never race a later query's checkpoint
    * writes. Callers serialize queries (Bench, Dev, Verify, the
    * test gates run one query at a time per process), which is the same
    * single-thread contract the cache scope already documents. */
  def drainWithCheckpoints(spark: SparkSession): Unit = {
    drain()
    val sc = spark.sparkContext
    sc.getCheckpointDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      try {
        val fs = p.getFileSystem(sc.hadoopConfiguration)
        fs.delete(p, true)
      } catch { case _: java.io.IOException => () } // hygiene must not fail the query
      sc.setCheckpointDir(p.getParent.toString)
    }
  }
}
