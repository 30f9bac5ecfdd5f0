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
  * The module is the one home of every view-owned store's replay
  * discipline: each shape pins the store's pre-batch version through
  * [[BatchCtx.pin]] before its one commit ([[commit]], the store merge
  * carrying `ctx.batchId`), so a replayed batch reads the same rows,
  * returns the same frames and skips the already-committed merge, and a
  * pinned read ([[preRows]], [[preSnapshot]]) sees the pre-batch rows
  * before or after the store's own merge. The shapes and their users:
  *   - [[applyDeltas]], a ± counter store (key, attrs…, measures…): a row
  *     lives while its count measure is > 0. [[view]]'s group aggregates
  *     (Agreement, Calibration, ClusterMonitor, Curation, DomainOccupancy,
  *     Dq, Drift, KAnonymity, Sharding), the counters of AucMonitor,
  *     Boilerplate, Cms, Datasheet, Decontamination, Dsir, HistQuantiles,
  *     Lm, Mix, SnapshotDiff, TokenBudget, TopTokens, VocabCoverage and
  *     VocabOverlap, and the single stats rows (Bm25 `corpus`, Datasheet
  *     `all`, Lm `corpus`);
  *   - [[swapMembers]], a group → members store (key, array of entries):
  *     the batch's touched docs leave their old entries and enter with
  *     their fresh ones. The postings and LSH buckets of Ann, Bm25,
  *     Boilerplate, ChunkDedup, Containment, Decontamination, Dedup (and
  *     its pair-state users), ExactDedup (and its fingerprint users:
  *     canonical, URL, Datasheet, PipelineCorpus), IvfPq, Novelty, Phash,
  *     SemDeDup, SubstrRemoval, SubstringDedup and Winnow; the AsOf and
  *     Scd2 indexes; and the DomainCap, PipelineCorpus and VocabCoverage
  *     ledgers, whose extra column rides inside the entry struct;
  *   - [[foldMembers]], a group → (member, count) store: ± counts folded
  *     per (group, member), a member living while its count is > 0.
  *     Zipf's vocabulary shards and VocabOverlap's token entries;
  *   - [[replaceRows]], a keyed store whose rows of the batch's keys are
  *     replaced wholesale. The per-doc indexes (Dedup sigs, Phash hashes,
  *     ChunkDedup docs, Bm25 dl, Dsir feats, EmbeddingDecon holdout), the
  *     Curation/FuzzyDecon/MultimodalCuration pair tables, the cluster
  *     label tables, VocabCoverage's head row and Cardinality's HLL rows.
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
    * the batch's pre-version — identical on first delivery and on replay
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
    val old = preRows(store, schema, summed.select("key"), ctx)
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
    commit(store, live.select(schema.fieldNames.map(col): _*), dead, ctx)
    Folded(merged, live, dead)
  }

  /** The pinned pre-batch rows of `keys` in `store` — read at the
    * version [[BatchCtx.pin]] recorded for this batch, so the read sees
    * the pre-batch rows whether it runs before or after the store's own
    * merge, and a replayed batch reads the same rows. */
  private[streaming] def preRows(store: ParquetKeyedTable,
      schema: StructType, keys: DataFrame, ctx: BatchCtx): DataFrame =
    store.rowsForKeysAt(ctx.pin(store), schema, keys)

  /** [[preRows]] of the whole store, for the stores a batch reads entire
    * (the cluster-label and pair tables). */
  private[streaming] def preSnapshot(store: ParquetKeyedTable,
      schema: StructType, ctx: BatchCtx): DataFrame =
    store.snapshotAt(ctx.pin(store), schema)

  /** A view-owned store's one commit of the batch: the pre-batch version
    * is pinned first, then the merge carries the batchId, so a store that
    * already committed this batch skips. Every shape commits here. */
  private def commit(store: ParquetKeyedTable, upserts: DataFrame,
      deletes: DataFrame, ctx: BatchCtx): Unit = {
    ctx.pin(store)
    store.merge(upserts, deletes, ctx.batchId)
  }

  /** Keyed replace: the rows of `keys` become `fresh` (key, fields… —
    * `schema`'s columns), a key with no fresh row is deleted. The
    * pre-batch rows of `keys` are [[preRows]] of the same keys, valid
    * before or after this commit. */
  private[streaming] def replaceRows(store: ParquetKeyedTable,
      schema: StructType, keys: DataFrame, fresh: DataFrame,
      ctx: BatchCtx): Unit =
    commit(store, fresh.select(schema.fieldNames.map(col): _*),
      keys.select("key").join(fresh.select("key"), Seq("key"), "left_anti"),
      ctx)

  /** The result of [[swapMembers]] and [[foldMembers]]: `affected` =
    * (key) the groups read and rewritten, their exploded entries (key,
    * fields…) before (`pre`) and after (`post`) the batch, all
    * batch-cached, and `emptied` = (key) the affected groups left with
    * no entry. */
  private[streaming] final case class Swapped(
      affected: DataFrame, pre: DataFrame, post: DataFrame,
      emptied: DataFrame)

  /** The affected groups (old ∪ fresh keys, batch-cached) and their
    * pinned pre-batch rows exploded to (key, fields…): an array of
    * structs explodes to its fields, an array of plain values to the
    * one column `owner`. */
  private def explodedPre(store: ParquetKeyedTable, schema: StructType,
      old: DataFrame, fresh: DataFrame, owner: String,
      ctx: BatchCtx): (DataFrame, DataFrame, Seq[String]) = {
    val arr = schema.fieldNames(1)
    val affected = ctx.cache(old.select("key")
      .union(fresh.select("key")).distinct())
    val exploded = preRows(store, schema, affected, ctx)
      .select(col("key"), explode(col(arr)).as("e"))
    val (names, fields) = schema(arr).dataType match {
      case ArrayType(e: StructType, _) =>
        (e.fieldNames.toSeq, e.fieldNames.toSeq.map(n => col(s"e.$n").as(n)))
      case _ => (Seq(owner), Seq(col("e").as(owner)))
    }
    (affected, ctx.cache(exploded.select(col("key") +: fields: _*)), names)
  }

  /** Regroup the affected groups' post-batch entries into `schema`'s
    * array column and commit; the groups with no entry are deleted. */
  private def regroup(store: ParquetKeyedTable, schema: StructType,
      affected: DataFrame, pre: DataFrame, post: DataFrame,
      names: Seq[String], ctx: BatchCtx): Swapped = {
    val entry = schema(schema.fieldNames(1)).dataType match {
      case ArrayType(_: StructType, _) => struct(names.map(col): _*)
      case _ => col(names.head)
    }
    val rows = post.groupBy("key")
      .agg(collect_list(entry).as(schema.fieldNames(1)))
    val emptied = affected.join(rows.select("key"), Seq("key"), "left_anti")
    commit(store, rows, emptied, ctx)
    Swapped(affected, pre, post, emptied)
  }

  /** Membership swap of a group → members store (key, array): each
    * array element is its owner doc's key, or a struct whose first field
    * is that key. The affected groups — the `old` groups the batch's docs
    * sat in ∪ the `fresh` entries' groups — are read pre-batch and
    * exploded, the `touched` docs' entries dropped and the `fresh` ones —
    * (key, owner) or (key, struct fields…) — added; the affected groups
    * are then regrouped, the emptied ones deleted. */
  private[streaming] def swapMembers(
      store: ParquetKeyedTable, schema: StructType, old: DataFrame,
      touched: DataFrame, fresh: DataFrame, ctx: BatchCtx): Swapped = {
    val owner = fresh.columns.filter(_ != "key").head
    val (affected, pre, names) =
      explodedPre(store, schema, old, fresh, owner, ctx)
    val cols = ("key" +: names).map(col)
    val post = ctx.cache(pre
      .join(touched.select(col("key").as(names.head)), Seq(names.head),
        "left_anti")
      .select(cols: _*).unionByName(fresh.select(cols: _*)))
    regroup(store, schema, affected, pre, post, names, ctx)
  }

  /** Nested ± fold of a group → (member, count) store (key, array of
    * structs whose last field is the count): `deltas` (key, member
    * fields…, d) are added to the affected groups' — `keys` ∪ the
    * deltas' groups — pre-batch counts per (group, member), an entry
    * lives while its count is > 0, and the groups are regrouped, the
    * emptied ones deleted. */
  private[streaming] def foldMembers(
      store: ParquetKeyedTable, schema: StructType, keys: DataFrame,
      deltas: DataFrame, ctx: BatchCtx): Swapped = {
    val (affected, pre, names) =
      explodedPre(store, schema, keys, deltas, "", ctx)
    val (members, cnt) = (names.init, names.last)
    val post = ctx.cache(pre.join(deltas, "key" +: members, "full_outer")
      .select(("key" +: members).map(col) :+
        (coalesce(col(cnt), lit(0L)) + coalesce(col("d"), lit(0L))).as(cnt): _*)
      .filter(col(cnt) > 0))
    regroup(store, schema, affected, pre, post, names, ctx)
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
      val touched = ctx.touched(table)
      val deltas = contrib(post.rows(table, touched), spec, 1)
        .unionByName(contrib(pre.rows(table, touched), spec, -1))
      val folded = applyDeltas(aggTable, deltas, "cnt", ctx)
      (toDoc(folded.live), folded.dead.select(col("key").as("id")))
    }, index)
  }
}
