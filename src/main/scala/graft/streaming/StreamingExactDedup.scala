package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental exact-duplicate groups — the streaming form of batch q20
  * (sha256 fingerprint groups with survivor + multiplicity), completing
  * the dedup family's streaming matrix (near-dup pairs, substring,
  * containment, winnowing and SemDeDup all have continuous forms; the
  * cheapest family member deserves one too). The sink holds, at every
  * instant, one document per LIVE fingerprint group: id = fp,
  * (fp, keep_id, dup_cnt) with keep_id = the group's minimum member key
  * — identical to batch q20 over the materialized corpus.
  *
  * State: fingerprint → member keys (one posting row per fp). Per batch:
  * the touched docs' pre/post fingerprints (a pure row function), a
  * bucket-pruned read of the affected fp rows, membership swap, merge
  * idempotent-by-batchId, and re-emit of exactly the affected groups —
  * groups the batch didn't touch cannot change. O(batch) everywhere;
  * a delete of the current survivor hands keep_id to the next-smallest
  * member, and an emptied group retracts its sink row. */
object StreamingExactDedup {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** Post-merge fingerprint-group state for one batch: `postMembers` =
    * (fp, member) of every group the batch touched, `emptied` = (key)
    * groups that lost their last member, `affectedMembers` = (key) all
    * pre ∪ post members of touched groups (the docs whose survivor
    * status may have flipped), and `losersAmong` = pruned post-merge
    * lookup resolving which of an ARBITRARY doc set are exact losers
    * (their group's minimum member is someone else). Factored out of
    * [[exactDedupView]] for the composed pipeline view. */
  private[streaming] final case class FpState(
      preMembers: DataFrame, postMembers: DataFrame, emptied: DataFrame,
      affectedMembers: DataFrame, losersAmong: DataFrame => DataFrame)

  /** `touched`: the batch's distinct keys, already persisted by the
    * caller — passed in (rather than recomputed here) so the composed
    * pipeline view's four stage helpers share ONE distinct + cached
    * copy per batch instead of four. `fpFn` is the row-local
    * fingerprint (default: raw sha256 == batch q20; the canonical view
    * passes md5 over [[graft.operators.Dedup.canonicalText]] == batch
    * q137) — the entire maintenance ladder is fingerprint-agnostic. */
  private[streaming] def maintainFpState(
      postings: ParquetKeyedTable, pre: StateAccess, post: StateAccess,
      touched: DataFrame, ctx: BatchCtx, textCol: String,
      fpFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        sha2(_, 256)): FpState = {
    def fps(rows: DataFrame): DataFrame = rows
      .select(col("key").as("doc_id"),
        fpFn(col(textCol)).as("fp"))

    val oldFps = ctx.cache(fps(pre.rows("documents", touched)))
    val newFps = ctx.cache(fps(post.rows("documents", touched)))

    val sw = IncrementalAgg.swapMembers(postings, postSchema,
      oldFps.select(col("fp").as("key")), touched,
      newFps.select(col("fp").as("key"), col("doc_id").as("member")),
      ctx)
    val preMembers = sw.pre.withColumnRenamed("key", "fp")
    val postMembers = sw.post.withColumnRenamed("key", "fp")

    val affectedMembers = preMembers.select(col("member").as("key"))
      .union(postMembers.select(col("member").as("key"))).distinct()
    val losersAmong = (docs: DataFrame) => {
      // post-merge postings (on replay the merge skipped, so `version`
      // is already the post state — the hLive pattern)
      val docFps = fps(post.rows("documents", docs))
      val members = postings.rowsForKeys(postSchema,
          docFps.select(col("fp").as("key")).distinct())
        .select(col("key").as("fp"), explode(col("members")).as("member"))
      docFps.join(members.groupBy("fp").agg(min("member").as("keep_id")),
          Seq("fp"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").as("key"))
    }
    FpState(preMembers, postMembers, sw.emptied, affectedMembers, losersAmong)
  }

  private val ExactName = "exact_dedup"

  def exactDedupView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$ExactName-post")

    ViewDef(ExactName, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val st = maintainFpState(postings, pre, post, touched, ctx, "text")
      val upserts = st.postMembers.groupBy("fp")
        .agg(min("member").as("keep_id"),
          count(lit(1)).as("dup_cnt"))
        .select(col("fp").as("id"), col("fp"), col("keep_id"),
          col("dup_cnt"))
      val deletes = st.emptied.select(col("key").as("id"))
      (upserts, deletes)
    })
  }

  private val CanonicalName = "canonical_dedup"

  /** Incremental CANONICAL-form dedup — the streaming form of batch
    * q137: groups keyed by md5 of the canonical text (NFC → lowercase →
    * whitespace-collapse, [[graft.operators.Dedup.canonicalText]] — one
    * shared Column so batch, streaming and oracle cannot drift), so a
    * case-only or re-encoded edit MOVES a document between groups while
    * raw q20 groups would both keep it. Same state machine as
    * [[exactDedupView]] via the fingerprint-agnostic ladder; the sink
    * additionally carries `n_raw_variants` (distinct RAW texts inside
    * the canonical group — the catches raw hashing misses), priced as
    * one bucket-pruned text read of exactly the touched groups'
    * members per batch. */
  def canonicalDedupView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$CanonicalName-post")

    ViewDef(CanonicalName, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val st = maintainFpState(postings, pre, post, touched, ctx, "text",
        fpFn = t => md5(graft.operators.Dedup.canonicalText(t)))
      // texts of the affected groups' CURRENT members — bucket-pruned,
      // O(touched groups' membership), never a corpus read
      val memberRows = post.rows("documents",
          st.postMembers.select(col("member").as("key")).distinct())
        .select(col("key").as("member"), col("text"))
      val upserts = st.postMembers.join(memberRows, "member")
        .groupBy("fp")
        .agg(min("member").as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct("text").as("n_raw_variants"))
        .select(col("fp").as("id"), col("fp").as("canon_hash"),
          col("keep_id"), col("n_copies"), col("n_raw_variants"))
      val deletes = st.emptied.select(col("key").as("id"))
      (upserts, deletes)
    })
  }
}
