package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Curation

/** Continuously-maintained temperature-scaled mixture table — the
  * streaming form of batch q132: the sink always holds, per live
  * source, the natural token count, the α=0.5 sampling weight and the
  * implied epoch multiplier. Token counts per source are ± counters
  * (the [[IncrementalAgg]] discipline: post-image tokens add,
  * pre-image tokens subtract), so deletes and re-texted updates retract
  * exactly. One source's change moves EVERY source's weight (the
  * denominator is global), so each batch re-emits the whole table —
  * honest and cheap: the table is |sources|-bounded, and the arithmetic
  * is the SAME [[Curation.alphaMix]] fold the batch query runs (one
  * code path, pinned once).
  *
  * At 100 TB: per batch, O(|batch| tokens) narrow delta work + a
  * |sources|-row state read — the continuously-correct sampling-weight
  * table a training-data loader polls, maintained at ingest cost. */
object StreamingMix {

  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("n_tokens", LongType)))

  private def tokenCounts(rows: DataFrame, textCol: String,
      sign: Int): DataFrame =
    rows.groupBy(col("source"))
      .agg((sum(size(split(trim(col(textCol)), "\\s+")).cast("long")) * sign)
        .as("d"))

  /** Sink documents: (id = source, n_tokens, weight, epochs); a source
    * whose last document leaves retracts its sink row (and the other
    * rows re-weight). */
  def mixView(spark: SparkSession, stateDir: String): ViewDef = {
    val state = new ParquetKeyedTable(
      spark, s"$stateDir/mix-state", "key", 8)
    ViewDef("temperature_mix", (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val delta = tokenCounts(post.rows("documents", touched), "text", 1)
        .unionAll(tokenCounts(pre.rows("documents", touched), "text", -1))
        .groupBy("source").agg(sum("d").as("d_n_tokens"))
        .filter(col("d_n_tokens") =!= 0)
        .select(col("source").as("key"), col("d_n_tokens"))
      val folded = IncrementalAgg.applyDeltas(state, delta, "n_tokens", ctx)
      // the denominator is global → re-emit the whole (bounded) table
      val live = state.snapshot(stateSchema)
        .select(col("key").as("source"), col("n_tokens"))
      val upserts = Curation.alphaMix(live)
        .select(col("source").as("id"), col("n_tokens"),
          col("weight"), col("epochs"))
      val deletes = folded.dead.select(col("key").as("id"))
      (upserts, deletes)
    })
  }
}
