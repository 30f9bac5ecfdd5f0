package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuously-maintained Count-Min sketch over a CDC `documents`
  * source — the streaming form of batch q126's 4×256 token sketch, and
  * the LINEAR-sketch member of the streaming-state family: unlike HLL
  * registers ([[StreamingCardinality]], max-merge, grow-only), CMS
  * counters live in the turnstile model — an increment has an exact
  * inverse — so deletes and re-texted updates RETRACT exactly and the
  * maintained sketch equals a from-scratch sketch of the live corpus at
  * every instant (the spec pins cell-level equality against
  * [[graft.functions.CountMinAgg]] on the post-state, not just
  * estimates).
  *
  * Per batch: the signed token-cell delta (+1 per post-image occurrence,
  * −1 per pre-image occurrence, same md5 hex-slice cell addressing as
  * the batch aggregate — one arithmetic, two engines, three surfaces)
  * folds into a 1024-row keyed state table. Cost is O(|batch| tokens)
  * regardless of corpus or vocabulary size, state is BOUNDED at d·w
  * rows forever, and reads are bucket-pruned to the touched cells.
  * Replay-idempotent: deltas are computed from versioned pre/post state
  * images (not from envelope before-fields) and the state store skips
  * an already-applied batchId. */
object StreamingCms {

  /** Signed per-cell occurrence counts of `rows`' tokens: each token
    * occurrence lands in 4 cells (row r at md5 hex slice r mod 256) —
    * identical addressing to [[graft.functions.CountMinAgg]]. */
  private def cellCounts(rows: DataFrame, textCol: String,
      sign: Int): DataFrame =
    rows.select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .select(explode(array((0 until 4).map { r =>
        lit(r) * 256L +
          pmod(conv(substring(md5(col("tok")), 1 + 8 * r, 8), 16, 10)
            .cast("long"), lit(256L))
      }: _*)).as("cell"))
      .groupBy("cell").agg((count(lit(1)) * sign).as("d"))

  /** Sink documents: (id = cell index "0".."1023", r, b, cnt); a cell
    * whose counter returns to 0 is deleted from sink and state. */
  def cmsView(spark: SparkSession, stateDir: String): ViewDef = {
    val state = new ParquetKeyedTable(
      spark, s"$stateDir/cms-state", "key", 8)
    ViewDef("cms_sketch", (pre, post, batch, ctx) => {
      val touched = batch("documents").select("key").distinct()
      val delta = cellCounts(post.rows("documents", touched), "text", 1)
        .unionAll(cellCounts(pre.rows("documents", touched), "text", -1))
        .groupBy("cell").agg(sum("d").as("d_cnt"))
        .filter(col("d_cnt") =!= 0)
        .select(col("cell").cast("string").as("key"), col("d_cnt"))
      val IncrementalAgg.Folded(_, ups, dels) =
        IncrementalAgg.applyDeltas(state, delta, "cnt", ctx)
      (ups.select(col("key").as("id"),
        expr("CAST(key AS LONG) div 256").as("r"),
        pmod(col("key").cast("long"), lit(256L)).as("b"),
        col("cnt")),
        dels.select(col("key").as("id")))
    })
  }
}
