package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact retractive token counts over a document changelog — the
  * continuous form of q62's heavy-hitter report, and the exact-count
  * counterpart of [[StreamingCardinality]]'s grow-only sketch: deletes
  * and re-texted updates RETRACT here, so the maintained counts equal a
  * from-scratch count over the corpus's current images at every batch
  * boundary (the spec pins exactly that).
  *
  * State discipline: one bucketed [[ParquetKeyedTable]] keyed by token
  * holding its running count — the same ± ledger as IncrementalAgg, but
  * the "group" is a token produced by EXPLODING the row, so one row
  * transition contributes to many groups. Per batch:
  *
  *   Δ(token) = count in post-images of touched docs
  *            − count in pre-images of touched docs
  *
  * summed map-side per token (the shuffle carries (token, ±n), never
  * text), folded into the touched tokens' state rows via a bucket-pruned
  * read-modify-write; a token whose count reaches 0 is deleted from
  * state and sink. Per-batch cost is O(batch tokens) — corpus size never
  * appears. Commits are idempotent-by-batchId and deltas derive from the
  * pre-version rows, so a redelivered batch converges like every other
  * store in the pipeline.
  *
  * The sink carries every live token's current count (vocabulary-sized,
  * like the BM25 postings index — fine for a sink that is itself a keyed
  * store); the top-k READ prices the ordering at query time via
  * [[TokenCounts.topTokens]], which plans as TakeOrderedAndProject over
  * the state scan — per-partition top-k, the driver never sees the full
  * vocabulary. A read that must avoid the state scan entirely would keep
  * a bounded candidate set (space-saving sketch) next to the exact
  * ledger; at vocabulary scales (≪ corpus scale) the scan is the simpler
  * honest answer.
  */
object StreamingTopTokens {

  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("cnt", LongType)))

  /** Handle exposing the maintained view and its read path. */
  final class TokenCounts(spark: SparkSession, stateDir: String) {
    private val state =
      new ParquetKeyedTable(spark, s"$stateDir/token_counts-state")

    val view: ViewDef = ViewDef("token_counts", (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      def tokenCounts(rows: DataFrame, sign: Long): DataFrame =
        rows.select(explode(split(trim(col("text")), "\\s+")).as("key"))
          .groupBy("key").agg((count(lit(1)) * sign).as("d_cnt"))
      val deltas = tokenCounts(post.rows("documents", touched), 1L)
        .unionByName(tokenCounts(pre.rows("documents", touched), -1L))
      val IncrementalAgg.Folded(_, live, dead) =
        IncrementalAgg.applyDeltas(state, deltas, "cnt", ctx)
      (live.select(col("key").as("id"), col("key").as("token"),
        col("cnt")),
        dead.select(col("key").as("id")))
    })

    /** Current top-k (count DESC, token ASC) — TakeOrderedAndProject
      * over the state scan; matches batch q62's report shape. */
    def topTokens(k: Int): DataFrame =
      state.snapshot(stateSchema)
        .orderBy(col("cnt").desc, col("key"))
        .limit(k)
        .select(col("key").as("token"), col("cnt"))
  }

  /** Token-count view over the `documents` changelog, tokenized by
    * q62's whitespace split. */
  def tokenCounts(spark: SparkSession, stateDir: String): TokenCounts =
    new TokenCounts(spark, stateDir)
}
