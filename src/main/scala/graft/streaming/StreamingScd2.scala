package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Temporal

/** SCD2 versioned-dimension maintenance — the continuous form of batch
  * q158: the sink holds one document per (entity, version) with
  * [valid_from, valid_to) event-time intervals and an is_current flag,
  * kept exact under CDC inserts, updates, OUT-OF-ORDER arrivals and
  * deletes. This is precisely the table Flink's temporal-table join
  * reads; the reference materializes only its latest-row projection
  * (the ES upsert sinks, flink-ddl.sql:96-109).
  *
  * The cases a batch build never faces, all handled by per-user rebuild:
  *  - a LATE event (ts before existing rows) renumbers every later
  *    version and re-points the neighbor's valid_to;
  *  - deleting a middle event re-glues the adjacent intervals
  *    [a,b) + [b,c) → [a,c) and shrinks the version count — the stale
  *    highest version numbers retract from the sink;
  *  - an entity losing its last event retracts its whole history.
  *
  * Per micro-batch (the [[StreamingAsOf]] rails):
  *   1. read-modify-write a per-user secondary projection (one bucketed
  *      [[ParquetKeyedTable]] row per user holding that user's live
  *      events) for exactly the touched users,
  *   2. rebuild those users' history rows by running the SAME
  *      [[Temporal.scd2Intervals]] operator the batch query uses —
  *      incremental and batch cannot drift,
  *   3. retract versions beyond the rebuilt count (pre-index length vs
  *      post-index length; an emptied user retracts 1..n_old).
  *
  * 100 TB posture: per-batch work is O(touched users' events) via
  * bucket-pruned lookups; nothing scans resident state. A user's index
  * row grows with its OWN change count — the same boundedness assumption
  * the batch window makes per partition key. Note the tie-break inside
  * one timestamp is the CDC key's STRING order here (the key is a
  * string in flight); the spec's batch recompute uses the same column,
  * so the contract is explicit.
  */
object StreamingScd2 {

  private def idxSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("events", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("ts", LongType),
      StructField("typ", StringType),
      StructField("value", DoubleType)))))))

  private val Name = "scd2_history"

  /** Continuous SCD2 history over a CDC `events`-shaped source
    * (primary-keyed; `user_id` is the entity key, `ts` a LONG event
    * time). Sink documents: id = "user:version", with (user, version,
    * event_id, event_type, value, valid_from, valid_to NULL-for-current,
    * is_current). */
  def scd2View(spark: SparkSession, stateDir: String): ViewDef = {
    val byUser =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-by-user")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("events")
      val preRows = ctx.cache(pre.rows("events", touched)
        .select(col("key"), col("user_id"), col("ts"), col("event_type"),
          col("value")))
      val postRows = ctx.cache(post.rows("events", touched)
        .select(col("key"), col("user_id"), col("ts"), col("event_type"),
          col("value")))

      val touchedUsers = ctx.cache(preRows.select(col("user_id"))
        .union(postRows.select(col("user_id")))
        .distinct().filter(col("user_id").isNotNull)
        .select(col("user_id").cast("string").as("key")))

      // 1. read-modify-write the per-user projection for touched users
      val sw = IncrementalAgg.swapMembers(byUser, idxSchema, touchedUsers,
        touched, postRows.select(
          col("user_id").cast("string").as("key"), col("key").as("id"),
          col("ts").cast("long").as("ts"), col("event_type").as("typ"),
          col("value").cast("double").as("value")), ctx)

      // 2. rebuild the touched users' history with the SAME operator
      // batch q158 uses
      val rebuilt = Temporal.scd2Intervals(
        sw.post.select(col("key").as("user"), col("id").as("event_id"),
          col("ts"), col("typ"), col("value")),
        userCol = "user", tsNsCol = "ts", idCol = "event_id")
      val upserts = rebuilt.select(
        concat(col("user"), lit(":"), col("version")).as("id"),
        col("user").as("user_id"), col("version"), col("event_id"),
        col("typ").as("event_type"), col("value"),
        col("valid_from_ns").as("valid_from"),
        col("valid_to_ns").as("valid_to"), col("is_current"))

      // 3. stale version numbers retract (n_new < v <= n_old; an
      // emptied user has no post entry → n_new = 0 retracts them all)
      val oldCounts = sw.pre.groupBy("key").agg(count(lit(1)).as("n_old"))
      val newCounts = sw.post.groupBy("key").agg(count(lit(1)).as("n_new"))
      val deletes = oldCounts
        .join(newCounts, Seq("key"), "left")
        .select(col("key"), col("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .filter(col("n_old") > col("n_new"))
        .select(col("key"),
          explode(sequence(col("n_new") + 1, col("n_old"))).as("v"))
        .select(concat(col("key"), lit(":"), col("v")).as("id"))
      (upserts, deletes)
    })
  }
}
