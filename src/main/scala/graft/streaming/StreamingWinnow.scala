package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental winnowing-fingerprint dedup over a GROWING corpus — the
  * streaming form of batch q105 (Schleimer et al. SIGMOD 2003 pairs via
  * [[graft.functions.WinnowedFingerprints]]), keeping every batch-dedup
  * family member paired with a continuous counterpart. The sink holds, at
  * every instant, exactly the pairs sharing ≥ `MinShared` fingerprints
  * whose CURRENT document frequency lies in [DfLo, DfHi] — identical to
  * what batch q105 computes over the materialized corpus.
  *
  * The subtlety the df cap adds over the containment view's fixed-prefix
  * trick: a fingerprint's capped-in/capped-out status is a CORPUS
  * statistic. When df crosses the cap boundary (2 ≤ df ≤ 10), pairs
  * among UNTOUCHED resident holders of that fingerprint gain or lose a
  * shared-fingerprint credit — the same moving-global-threshold hazard
  * [[StreamingBoilerplate]] handles for its 0.9·ndocs denominator. The
  * saving fact: df(f) can only change when some batch document enters or
  * leaves f's posting list, so every flip-capable fingerprint is an
  * AFFECTED KEY of the batch, and the complete re-score set is
  *
  *   R = batch docs ∪ (pre ∪ post) members of every affected posting
  *
  * — every changed pair has BOTH endpoints in R (a pair changes only
  * through a shared fingerprint whose posting or cap status changed, and
  * both endpoints hold that fingerprint). Re-scoring computes each R
  * doc's pair rows EXACTLY, at pre state (retract superset) and post
  * state (upserts): fingerprints recomputed from the doc's own text
  * (narrow, batch-pruned state reads), posting lookups pruned to those
  * fingerprints, cap evaluated on the CURRENT posting size. Unchanged
  * pairs recomputed incidentally upsert to the same value — idempotent.
  *
  * Per-batch cost: O(batch fingerprints + affected-posting members +
  * R's fingerprints) — nothing scans or re-fingerprints the resident
  * corpus. Posting lists store exact membership (a capped-out
  * fingerprint must re-emerge with the right members when docs leave),
  * the [[StreamingContainment]] full-postings precedent; the df cap
  * bounds JOIN fan-out (≤ dfHi·(dfHi−1)/2 pairs per fingerprint), not
  * state width — one boilerplate 8-gram's posting row is wide, but it is
  * read only when one of its holders changes.
  */
object StreamingWinnow {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  private val Name = "winnow_pairs"
  private val K = 8
  private val W = 4
  private val DfLo = 2
  private val DfHi = 10
  private val MinShared = 5

  /** Continuous winnowing-pairs view over a CDC `documents`-shaped
    * source. Sink documents: (id = "a|b", doc_a, doc_b, n_shared).
    * Constants match batch q105: k = 8, w = 4, df ∈ [2, 10], ≥ 5 shared. */
  def winnowView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-post")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val preV = postings.versionBefore(ctx.batchId)

      val touched = ctx.cache(batch("documents").select("key").distinct())

      def fps(rows: DataFrame): DataFrame = rows
        .select(col("key").as("doc_id"),
          explode(graft.functions.Winnow.fingerprints(col("text"), K, W))
            .as("fl"))
        .select(col("doc_id"), col("fl").cast("string").as("f"))

      val oldFps = ctx.cache(fps(pre.rows("documents", touched)))
      val newFps = ctx.cache(fps(post.rows("documents", touched)))

      val affected = ctx.cache(oldFps.select("f").union(newFps.select("f"))
        .distinct().withColumnRenamed("f", "key"))
      // postings update: batch docs leave old keys, enter new ones
      val sw = IncrementalAgg.swapMembers(postings, postSchema, affected,
        touched, newFps.select(col("f").as("key"), col("doc_id").as("member")),
        ctx)

      // complete re-score set: batch docs + every pre/post member of an
      // affected posting (the only docs whose pair rows can change)
      val rescore = ctx.cache(touched
        .union(sw.pre.select(col("member").as("key")))
        .union(sw.post.select(col("member").as("key")))
        .distinct())

      /** Exact q105 pair rows for the re-score docs against one state
        * side: fingerprints from the docs' own text, postings pruned to
        * those fingerprints, df cap on current posting size. `distinct`
        * on (pair, f) collapses the double emission when both endpoints
        * sit in R. */
      def score(docRows: DataFrame, postingsAt: DataFrame => DataFrame)
          : DataFrame = {
        val rfps = ctx.cache(fps(docRows))
        val keys = rfps.select(col("f").as("key")).distinct()
        val capped = postingsAt(keys)
          .filter(size(col("members")).between(DfLo, DfHi))
          .select(col("key").as("f"), explode(col("members")).as("member"))
        rfps.join(capped, "f")
          .filter(col("member") =!= col("doc_id"))
          .select(least(col("doc_id"), col("member")).as("doc_a"),
            greatest(col("doc_id"), col("member")).as("doc_b"), col("f"))
          .distinct()
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= MinShared)
      }

      val postScore = ctx.cache(score(post.rows("documents", rescore),
        ks => postings.rowsForKeys(postSchema, ks)))
      val preScore = score(pre.rows("documents", rescore),
        ks => postings.rowsForKeysAt(preV, postSchema, ks))

      val upserts = postScore.select(
        Keys.pair(col("doc_a"), col("doc_b")).as("id"),
        col("doc_a"), col("doc_b"), col("n_shared"))
      val deletes = preScore
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
