package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous snapshot diff — batch q163's continuous form (r12 VERDICT
  * #5): two LIVE versions of a corpus (each a CDC-materialized dynamic
  * table) with per-(change_class, source) doc counts maintained ± as
  * either side changes. The per-doc classification is exactly the batch
  * operator's: both sides reduce to (id, source, 128-bit content digest)
  * and full-outer join on id — but here only over THIS BATCH's touched
  * ids, against bucket-pruned pre/post state lookups, so per-batch cost
  * is O(batch) while the maintained output stays bounded by
  * classes × sources. A class emptying (its last doc reclassified)
  * leaves state and sink — the retraction contract.
  *
  * Delta rule per touched id: −(its class under the PRE states),
  * +(its class under the POST states); ids absent from both sides of a
  * state version contribute nothing there. The running counts live in
  * a ± counter store folded by [[IncrementalAgg.applyDeltas]], the one
  * fold every retractive view uses (versionBefore-pinned reads,
  * idempotent by batchId).
  */
object StreamingSnapshotDiff {

  /** @param tableA the v1 (baseline) corpus table name
    * @param tableB the v2 (candidate) corpus table name
    * @param idCol  shared doc identity column in both tables' state rows
    * @param sourceCol reporting dimension
    * @param textCol  content column the digest is taken over */
  def view(spark: SparkSession, stateDir: String,
      tableA: String = "docs_v1", tableB: String = "docs_v2",
      idCol: String = "doc_id", sourceCol: String = "source",
      textCol: String = "text"): ViewDef = {
    val aggTable =
      new ParquetKeyedTable(spark, s"$stateDir/snapshot_diff-agg")

    // (key, source, h) digest reduction of one side's state rows — the
    // 16-byte shuffle currency of the batch operator, never documents
    def digests(rows: DataFrame, side: String): DataFrame =
      rows.select(col("key"),
        col(sourceCol).cast("string").as(s"s_$side"),
        md5(col(textCol)).as(s"h_$side"))

    // per-id change class of one (vA, vB) state pair over touched ids
    def classes(a: DataFrame, b: DataFrame): DataFrame =
      digests(a, "a").join(digests(b, "b"), Seq("key"), "full_outer")
        .select(
          when(col("h_a").isNull, "added")
            .when(col("h_b").isNull, "removed")
            .when(col("h_a") =!= col("h_b"), "changed")
            .otherwise("unchanged").as("change_class"),
          coalesce(col("s_a"), col("s_b")).as("source"))

    def contrib(cls: DataFrame, sign: Int): DataFrame =
      cls.select(
        concat_ws("|", col("change_class"), col("source")).as("key"),
        col("change_class"), col("source"),
        lit(sign.toDouble).as("d_amt"), lit(sign.toLong).as("d_cnt"))

    ViewDef("snapshot_diff", (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch(tableA).select("key")
        .unionByName(batch(tableB).select("key")).distinct())
      val deltas = contrib(
        classes(post.rows(tableA, touched), post.rows(tableB, touched)), 1)
        .unionByName(contrib(
          classes(pre.rows(tableA, touched), pre.rows(tableB, touched)), -1))
      val IncrementalAgg.Folded(_, liveGroups, deadGroups) =
        IncrementalAgg.applyDeltas(aggTable, deltas, "cnt", ctx)
      (liveGroups.select(col("key").as("id"), col("change_class"),
        col("source"), col("cnt").as("n_docs")),
        deadGroups.select(col("key").as("id")))
    })
  }
}
