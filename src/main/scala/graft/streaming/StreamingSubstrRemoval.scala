package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental ExactSubstr span removal over a GROWING corpus — the
  * streaming form of batch q122 (Lee et al. 2022 window cut via
  * [[graft.functions.CharWindowGrams]]). The sink holds, at every
  * instant, one row per live document with its cleaned text (every
  * character covered by a 50-char window whose text CURRENTLY occurs at
  * ≥ 2 positions corpus-wide removed) — identical to what batch q122
  * computes over the materialized corpus.
  *
  * The retraction hazard is the dup-status flip: a window's "occurs
  * ≥ 2×" verdict is a CORPUS statistic, so a batch document introducing
  * the second occurrence of a window UN-COVERS nothing but COVERS a span
  * inside an UNTOUCHED resident — and a delete dropping the count back
  * to 1 must RESTORE the resident's cut span. The saving fact mirrors
  * [[StreamingWinnow]]'s df cap: the total occurrence count of a window
  * can change only when some batch doc enters or leaves its posting, so
  * every flip-capable window is an affected key of the batch, and the
  * complete re-emit set is
  *
  *   R = batch docs ∪ (pre ∪ post) members of every posting whose
  *       dup status (total ≥ 2) actually FLIPPED
  *
  * — an untouched doc's cut depends only on its OWN windows' dup
  * status, so members of affected-but-unflipped postings are skipped
  * entirely (their cleaned text cannot have changed). Re-emitting a doc
  * recomputes its windows from its own text, prunes the posting lookup
  * to those windows, and reruns the exact q122 interval fold
  * ([[graft.operators.Dedup.removeCovered]] — one code path with batch).
  *
  * Postings store per-member occurrence COUNTS (a window twice inside
  * one doc is already duplicated — multiplicity matters, membership
  * alone is not enough), keyed by the window text with exact members —
  * the [[StreamingContainment]] full-postings precedent. Per-batch cost:
  * O(batch windows + affected-posting members + R's windows); nothing
  * scans or re-windows the resident corpus.
  */
object StreamingSubstrRemoval {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StructType(Seq(
      StructField("m", StringType), StructField("c", LongType)))))))

  private val Name = "substr_removal"
  private val N = 50

  /** Continuous span-removal view over a CDC `documents`-shaped source.
    * Sink documents: (id = doc key, cleaned, n_removed). */
  def substrRemovalView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-post")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())

      def wins(rows: DataFrame): DataFrame = rows
        .select(col("key").as("doc_id"),
          posexplode(graft.functions.NGrams.charWindowGrams(col("text"), N))
            .as(Seq("i", "g")))

      def occ(rows: DataFrame): DataFrame = wins(rows)
        .groupBy("g", "doc_id").agg(count(lit(1)).as("c"))

      val oldOcc = ctx.cache(occ(pre.rows("documents", touched)))
      val newOcc = ctx.cache(occ(post.rows("documents", touched)))

      val affected = ctx.cache(oldOcc.select("g").union(newOcc.select("g"))
        .distinct().withColumnRenamed("g", "key"))
      // postings update: batch docs leave their old (member, count)
      // entries, enter with their new per-doc occurrence counts
      val sw = IncrementalAgg.swapMembers(postings, postSchema, affected,
        touched, newOcc.select(col("g").as("key"), col("doc_id").as("m"),
          col("c")), ctx)

      // dup status (Σ occurrence counts ≥ 2) flips only on affected
      // postings; only flipped postings can change an untouched doc's cut
      val preTot = sw.pre.groupBy("key").agg(sum("c").as("t0"))
      val postTot = sw.post.groupBy("key").agg(sum("c").as("t1"))
      val flipped = ctx.cache(preTot.join(postTot, Seq("key"), "full")
        .filter((coalesce(col("t0"), lit(0L)) >= 2) =!=
          (coalesce(col("t1"), lit(0L)) >= 2))
        .select("key"))

      val rescore = ctx.cache(touched
        .union(flipped.join(sw.pre, "key").select(col("m").as("key")))
        .union(flipped.join(sw.post, "key").select(col("m").as("key")))
        .distinct())

      // exact q122 rows for the re-emit docs at post state: windows from
      // the doc's own text, posting totals pruned to those windows, the
      // shared interval fold for the cut
      val docRows = ctx.cache(post.rows("documents", rescore)
        .select(col("key"), col("text")))
      val rw = ctx.cache(wins(docRows))
      val dupNow = postings
        .rowsForKeys(postSchema, rw.select(col("g").as("key")).distinct())
        .select(col("key").as("g"), explode(col("members")).as("mc"))
        .groupBy("g").agg(sum("mc.c").as("t"))
        .filter(col("t") >= 2)
        .select("g")
      val starts = rw.join(dupNow, "g")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("i"))).as("starts"))
      val cleaned =
        graft.operators.Dedup.removeCovered(col("text"), col("starts"), N)
      val upserts = docRows
        .join(starts, col("key") === col("doc_id"), "left")
        .select(col("key").as("id"), cleaned.as("cleaned"),
          (length(col("text")) - length(cleaned)).cast("long")
            .as("n_removed"))
      val deletes = rescore.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
