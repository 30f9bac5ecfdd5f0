package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Continuous Johnson-Lindenstrauss projection over a CDC `embeddings`
  * source — the streaming form of batch q127: the sink holds, at every
  * instant, each live vector's 16 projected coordinates (one sink doc
  * per (vec, pos), id = "key:pos"). The Rademacher matrix is the SAME
  * plan-time constant the batch query uses ([[Similarity.jlSigns]] —
  * one code path), so the view is stateless: touched keys re-project
  * from post-state, deleted keys retract all 16 coordinate docs.
  * O(16·|batch|) narrow work; replay-idempotent for free.
  *
  * At 100 TB this is the continuously-maintained compressed companion
  * table an ANN cheap-filter reads — maintained at ingest cost, never
  * by re-projecting the corpus. */
object StreamingProjection {

  /** Sink documents: (id = "key:pos", vec_key, pos, coord). */
  def jlView(): ViewDef =
    ViewDef("jl_projection", (pre, post, batch, ctx) => {
      val affected = ctx.touched("embeddings")
      val upserts = post.rows("embeddings", affected)
        .select(col("key"),
          col("embedding").cast("array<double>").as("v"),
          explode(sequence(lit(1), lit(16))).as("pos"))
        .select(concat(col("key"), lit(":"), col("pos")).as("id"),
          col("key").as("vec_key"), col("pos"),
          Similarity.jlCoord(col("v"), col("pos")).as("coord"))
      // retraction: every (deleted key) × 16 position docs
      val deletes = affected
        .select(explode(sequence(lit(1), lit(16))).as("pos"), col("key"))
        .select(concat(col("key"), lit(":"), col("pos")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
}
