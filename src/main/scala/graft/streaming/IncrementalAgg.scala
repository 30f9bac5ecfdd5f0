package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental ± aggregation — the Spark-first re-expression of Flink's
  * retractive GROUP BY (the reference's "要加入撤回功能" stats sinks,
  * flink-ddl.sql:197-227, whose statements themselves run through
  * [[SqlInsert]]). Instead of re-aggregating affected groups against the
  * full materialized input per micro-batch (O(state scan) per batch),
  * each [[view]] — the group-aggregate streaming views (language and
  * source mixtures, drift, data-quality rules, k-anonymity, …) — keeps
  * its own RUNNING (sum, count) per group in a bucketed
  * [[ParquetKeyedTable]] and applies per-key deltas:
  *
  *   delta(batch) = Σ over touched keys k:
  *       + contribution(post-state row of k)   [row entering/updated]
  *       − contribution(pre-state row of k)    [row leaving/old image]
  *
  * Per-batch cost is O(batch): pre/post rows of touched keys come from
  * bucket-pruned lookups ([[ParquetKeyedTable.rowsForKeysAt]]), the delta
  * aggregation shuffles only batch-sized frames, and the running-agg merge
  * rewrites only the touched agg buckets. No step scans unaffected state.
  *
  * The deltas intentionally derive from the STATE transition (pre-row →
  * post-row), not from the envelope's `before` image: a malformed or
  * replica-identity-reduced `before` (or an op sequence like INSERT on an
  * existing key) would corrupt a running sum, while the state diff is
  * exact by construction — the same reason Flink aggregates consume the
  * changelog its own upsert materialization EMITS rather than raw inputs.
  *
  * A group whose running count reaches 0 is deleted from both the agg
  * state and the sink — the retraction contract (flink-ddl.sql:208: a
  * cancelled order's group disappears).
  *
  * The module owns the two state shapes every view-owned store uses:
  *   - a ± counter store (key, attrs…, measures…), folded by
  *     [[applyDeltas]]: a row lives while its count measure is > 0;
  *   - a group → members store (key, array of entries), maintained by
  *     [[swapMembers]]: the batch's touched docs leave their old
  *     entries and enter with their fresh ones.
  * Both read the pre-batch rows at `versionBefore(ctx.batchId)` and
  * merge with `ctx.batchId`, so a replayed batch reads the same rows,
  * returns the same frames and skips the already-committed merge.
  */
object IncrementalAgg {

  /** One measure set: SUM(amount) + COUNT(*) per group — the shape of
    * the reference's stats sinks (flink-ddl.sql:197-259). */
  final case class GroupSpec(
      groupCols: Seq[(String, Column)], // name -> expr over a state row
      live: Column,                     // row contributes iff
      amount: Column)                   // summed measure

  private[streaming] def aggSchema(gNames: Seq[String]): StructType =
    StructType(
      (StructField("key", StringType) +:
        gNames.map(StructField(_, StringType))) ++
        Seq(StructField("amt", DoubleType), StructField("cnt", LongType)))

  /** (key, groups..., d_amt, d_cnt) contributions of a set of state rows. */
  private[streaming] def contrib(rows: DataFrame, spec: GroupSpec,
      sign: Int): DataFrame = {
    val gNames = spec.groupCols.map(_._1)
    rows.filter(spec.live)
      .select(spec.groupCols.map { case (n, c) => c.cast("string").as(n) } :+
        spec.amount.cast("double").as("a"): _*)
      .filter(gNames.map(col(_).isNotNull).reduce(_ && _))
      .select((concat_ws("|", gNames.map(col): _*).as("key") +:
        gNames.map(col)) ++ Seq(
        (col("a") * sign).as("d_amt"), lit(sign.toLong).as("d_cnt")): _*)
  }

  /** [[applyDeltas]]'s result: `merged` = (key, attrs…, m…, o_m…) for
    * every key the deltas name, with each measure's new value `m` and
    * its pre-batch value `o_m` (0 for a new key); `live` = the merged
    * rows whose count measure is > 0, `dead` = (key) the others. */
  private[streaming] final case class Folded(
      merged: DataFrame, live: DataFrame, dead: DataFrame)

  /** Fold a delta frame (key, attrs…, d_m…) into a ± counter store
    * (key, attrs…, m…): deltas are summed per (key, attrs), added to the
    * old measures, attributes carry as coalesce(new, old), and a row
    * lives iff its `countCol` measure is > 0. Reads ONLY the touched keys'
    * rows (bucket-pruned) and merges only their buckets; live rows are
    * upserted, dead ones deleted.
    *
    * Replay safety: running sums are the one store a double-apply would
    * CORRUPT (±deltas are not value-idempotent), so the old rows pin
    * `versionBefore(batchId)` — identical on first delivery and on replay
    * after a partial crash — and the merge carries the batchId so an
    * already-committed store skips. The returned frames derive from
    * (pre-version rows + deltas), so they too are replay-identical. */
  private[streaming] def applyDeltas(
      store: ParquetKeyedTable, deltas: DataFrame, countCol: String,
      ctx: BatchCtx): Folded = {
    val (dNames, attrs) = deltas.columns.toSeq.filter(_ != "key")
      .partition(_.startsWith("d_"))
    val measures = dNames.map(_.stripPrefix("d_"))
    val summed = ctx.cache(deltas.groupBy(("key" +: attrs).map(col): _*)
      .agg(sum(dNames.head).as(dNames.head),
        dNames.tail.map(d => sum(d).as(d)): _*))
    val schema = StructType(StructField("key", StringType) +:
      (attrs ++ dNames).map(n => StructField(n.stripPrefix("d_"),
        summed.schema(n).dataType)))
    val old = store.rowsForKeysAt(store.versionBefore(ctx.batchId), schema,
        summed.select("key"))
      .select(col("key") +:
        schema.fieldNames.tail.map(n => col(n).as(s"o_$n")): _*)
    val merged = ctx.cache(summed.join(old, Seq("key"), "left")
      .select(col("key") +:
        (attrs.map(n => coalesce(col(n), col(s"o_$n")).as(n)) ++
          measures.flatMap { m =>
            val zero = lit(0).cast(schema(m).dataType)
            val o = coalesce(col(s"o_$m"), zero)
            Seq((o + coalesce(col(s"d_$m"), zero)).as(m), o.as(s"o_$m"))
          }): _*))
    val live = merged.filter(col(countCol) > 0)
    val dead = merged.filter(col(countCol) <= 0).select("key")
    store.merge(live.select(schema.fieldNames.map(col): _*), dead,
      ctx.batchId)
    Folded(merged, live, dead)
  }

  /** [[swapMembers]]' result: the affected groups' exploded entries
    * (key, owner, fields…) before (`pre`) and after (`post`) the batch,
    * both batch-cached, and `emptied` = (key) the affected groups left
    * with no entry. */
  private[streaming] final case class Swapped(
      pre: DataFrame, post: DataFrame, emptied: DataFrame)

  /** Membership swap of a group → members store (key, array): each
    * array element is its owner doc's key, or a struct whose first field
    * is that key. The `affected` groups' pre-batch rows are exploded,
    * the `touched` docs' entries dropped and the `fresh` ones — (key,
    * owner) or (key, struct fields…) — added; the affected groups are
    * then regrouped, the emptied ones deleted. Same replay pin and
    * batchId merge as [[applyDeltas]]. */
  private[streaming] def swapMembers(
      store: ParquetKeyedTable, schema: StructType, affected: DataFrame,
      touched: DataFrame, fresh: DataFrame, ctx: BatchCtx): Swapped = {
    val arr = schema.fieldNames(1)
    // entry columns, the stored element built from them, and the
    // exploded element's field `n`
    val (names, entry, field) = schema(arr).dataType match {
      case ArrayType(e: StructType, _) => (e.fieldNames.toSeq,
        struct(e.fieldNames.map(col): _*), (n: String) => col(s"e.$n"))
      case _ =>
        val owner = fresh.columns.filter(_ != "key").head
        (Seq(owner), col(owner), (_: String) => col("e"))
    }
    val cols = ("key" +: names).map(col)
    val pre = ctx.cache(store
      .rowsForKeysAt(store.versionBefore(ctx.batchId), schema, affected)
      .select(col("key"), explode(col(arr)).as("e"))
      .select(col("key") +: names.map(n => field(n).as(n)): _*))
    val post = ctx.cache(pre
      .join(touched.select(col("key").as(names.head)), Seq(names.head),
        "left_anti")
      .select(cols: _*).unionByName(fresh.select(cols: _*)))
    val rows = post.groupBy("key").agg(collect_list(entry).as(arr))
    val emptied = affected.join(rows.select("key"), Seq("key"), "left_anti")
    store.merge(rows, emptied, ctx.batchId)
    Swapped(pre, post, emptied)
  }

  /** Single-input incremental GROUP BY view: deltas from the pre→post
    * state transition of this batch's touched keys. `toDoc` shapes the
    * merged (key, groups..., amt, cnt) frame into sink documents with an
    * `id` column. */
  def view(
      spark: SparkSession, stateDir: String, name: String, table: String,
      spec: GroupSpec, toDoc: DataFrame => DataFrame,
      index: String = null): ViewDef = {
    val aggTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-agg")
    ViewDef(name, (pre, post, batch, ctx) => {
      val touched = batch(table).select("key").distinct()
      val deltas = contrib(post.rows(table, touched), spec, 1)
        .unionByName(contrib(pre.rows(table, touched), spec, -1))
      val folded = applyDeltas(aggTable, deltas, "cnt", ctx)
      (toDoc(folded.live), folded.dead.select(col("key").as("id")))
    }, index)
  }
}
