package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous data-quality counters — the streaming form of the q80
  * single-scan audit: each rule's violation count is maintained as a
  * retractive incremental aggregate over the CDC state, so an UPDATE
  * that fixes a bad row decrements its rule the moment the change
  * commits (and a rule whose count reaches zero leaves the sink — the
  * same count-0 retraction contract as the reference's stats views).
  *
  * Mechanism: one [[IncrementalAgg.view]] per rule, with the rule's
  * predicate as the GroupSpec's `live` gate — a state row contributes
  * (+1 on entry, −1 on exit) exactly while it violates. Each rule's
  * per-batch cost is O(batch) (pre/post rows of touched keys, bucket-
  * pruned), commits are idempotent-by-batchId like every store, and
  * all rules upsert into one shared `dq_view` index. With rules in the
  * hundreds, fold them into one multi-contribution pass (explode the
  * violated-rule set per row) instead of one view per rule; at a
  * handful the per-rule views keep each counter independently
  * replayable and testable.
  */
object StreamingDq {

  /** One ViewDef per (ruleName, violationPredicate) over `table`'s
    * materialized state rows. */
  def ruleViews(spark: SparkSession, stateDir: String, table: String,
      rules: Seq[(String, Column)]): Seq[ViewDef] =
    rules.map { case (name, pred) =>
      IncrementalAgg.view(spark, stateDir, s"dq_$name", table,
        IncrementalAgg.GroupSpec(
          Seq("g_rule" -> lit(name)),
          live = pred,
          amount = lit(1.0)),
        toDoc = m => m.select(col("key").as("id"),
          col("g_rule").as("rule"), col("cnt").as("n_bad")),
        index = "dq_view")
    }
}
