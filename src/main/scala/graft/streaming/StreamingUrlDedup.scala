package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Provenance

/** Incremental URL-level dedup groups — the streaming form of batch
  * q147, riding [[StreamingExactDedup.maintainFpState]]'s
  * fingerprint-agnostic ladder (its postings swap through
  * [[IncrementalAgg.swapMembers]]) exactly as the canonical-dedup view
  * does: the fingerprint is the NORMALIZED synthetic URL (one code
  * path with batch — [[Provenance.syntheticUrl]] →
  * [[Provenance.normalizeUrl]], a pure function of the doc id, so a
  * delete retracts from exactly the URL group its insert entered). The
  * sink holds one document per live URL key: (url_key, keep_id,
  * n_copies, n_raw_variants), with n_raw_variants counting the
  * distinct RAW spellings currently alive in the group — re-derived
  * per batch from the group's members, bucket-pruned, never a corpus
  * read. In production the URL is a real column and the id-derivation
  * disappears; the ladder (postings state, survivor hand-off,
  * emptied-group retraction, replay idempotence) is unchanged. */
object StreamingUrlDedup {

  private val Name = "url_dedup"

  def urlDedupView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-post")
    def rawUrl(id: org.apache.spark.sql.Column) =
      Provenance.syntheticUrl(id.cast("long"))

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())
      // the fingerprint reads the doc's key (its id), not its text —
      // textCol = "key" feeds the ladder's fp function the id column
      val st = StreamingExactDedup.maintainFpState(
        postings, pre, post, touched, ctx, textCol = "key",
        fpFn = k => Provenance.normalizeUrl(rawUrl(k)))
      val upserts = st.postMembers
        .withColumn("url", rawUrl(col("member")))
        .groupBy("fp")
        // NUMERIC min, matching batch q147's min(doc_id): the CDC key is
        // a string, and a lexicographic min elects a different survivor
        // for mixed-width ids ("10" < "9") — r10 ADVICE
        .agg(min(col("member").cast("long")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          countDistinct("url").as("n_raw_variants"))
        .select(col("fp").as("id"), col("fp").as("url_key"),
          col("keep_id"), col("n_copies"), col("n_raw_variants"))
      val deletes = st.emptied.select(col("key").as("id"))
      (upserts, deletes)
    })
  }
}
