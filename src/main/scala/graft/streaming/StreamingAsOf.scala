package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.AsOf

/** The as-of join (q45) as a continuously-maintained attribution view:
  * the sink holds, for every CURRENT left-side event ("purchase"), the
  * same-key right-side event ("click") with the greatest ts ≤ its ts —
  * exactly what batch [[AsOf.asofBackward]] computes over the current
  * state. The hard part a batch join never faces: a LATE right-side
  * event must re-attribute already-emitted left rows, a right-side
  * delete must revert them, and a left-side update/delete must move or
  * retract its own attribution.
  *
  * Per micro-batch:
  *
  *   1. a per-key secondary projection (one bucketed [[ParquetKeyedTable]]
  *      row per join key holding that key's live events) is read for
  *      exactly the touched keys, batch events replace their old
  *      versions, and the updated rows merge back — the membership swap
  *      of [[IncrementalAgg.swapMembers]],
  *   2. attribution recomputes ONLY for the touched keys' events, by
  *      running the SAME carry-forward window operator the batch query
  *      uses over those keys' rows — incremental and batch can't drift,
  *   3. left events that disappeared (delete, or type change) retract.
  *
  * 100 TB posture: per-batch work is O(touched keys' events) via
  * bucket-pruned lookups; nothing scans resident state. A key's row
  * grows with ITS OWN event count — the same boundedness assumption any
  * per-key stream join makes. Commits carry the batchId → replay-safe.
  */
object StreamingAsOf {

  private def idxSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("events", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("ts", LongType),
      StructField("typ", StringType)))))))

  private val Name = "purchase_attribution"
  private val LeftType = "purchase"
  private val RightType = "click"

  /** Continuous as-of attribution over a CDC `events`-shaped source
    * (primary-keyed; `user_id` is the join key, `ts` a LONG event
    * time). Sink documents: (id = left event id, user_id, ts,
    * attributed right id + ts, nulls when nothing precedes). */
  def attributionView(spark: SparkSession, stateDir: String): ViewDef = {
    val byKey =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-by-key")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("events").select("key").distinct())
      val preRows = ctx.cache(pre.rows("events", touched)
        .select(col("key"), col("user_id"), col("ts"), col("event_type")))
      val postRows = ctx.cache(post.rows("events", touched)
        .select(col("key"), col("user_id"), col("ts"), col("event_type")))

      // 1. read-modify-write the per-key projection for touched keys:
      // resident events of those keys minus the touched event ids, plus
      // the touched events' post images
      val touchedKeys = ctx.cache(preRows.select(col("user_id"))
        .union(postRows.select(col("user_id")))
        .distinct().filter(col("user_id").isNotNull)
        .select(col("user_id").cast("string").as("key")))

      val allEvents = IncrementalAgg.swapMembers(byKey, idxSchema,
        touchedKeys, touched, postRows
          .filter(col("event_type").isin(LeftType, RightType))
          .select(col("user_id").cast("string").as("key"),
            col("key").as("id"), col("ts").cast("long").as("ts"),
            col("event_type").as("typ")), ctx).post

      // 2. re-attribute every left event of the touched keys with the
      // SAME operator the batch query uses
      val lefts = allEvents.filter(col("typ") === LeftType)
        .select(col("key").as("jk"), col("id").as("left_id"), col("ts"))
      val rights = allEvents.filter(col("typ") === RightType)
        .select(col("key").as("jk"), col("id"), col("ts"))
      val attributed = AsOf.asofBackward(lefts, rights, Seq("jk"),
        "ts", "ts", Seq("id" -> "right_id", "ts" -> "right_ts"))
      val upserts = attributed.select(
        col("left_id").as("id"), col("jk").as("user_id"), col("ts"),
        col("right_id"), col("right_ts"))

      // 3. left events that stopped being left events retract
      val deletes = preRows.filter(col("event_type") === LeftType)
        .select("key")
        .join(postRows.filter(col("event_type") === LeftType).select("key"),
          Seq("key"), "left_anti")
        .select(col("key").as("id"))
      (upserts, deletes)
    })
  }
}
