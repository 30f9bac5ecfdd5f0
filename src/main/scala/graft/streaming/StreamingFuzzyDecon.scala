package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental FUZZY decontamination — the streaming form of batch q100:
  * the sink holds, at every instant, each TRAIN-split document with at
  * least one holdout near-duplicate (jaccard ≥ θ on word 3-shingles)
  * over the CURRENT document state, with its holdout-partner count and
  * maximum verified similarity.
  *
  * Builds on the shared [[StreamingDedup.maintainPairState]] ladder (the
  * [[StreamingCuration]] pattern) plus a persistent pair table that also
  * stores the verified jaccard. The subtlety specific to THIS view is
  * that a document's contribution depends on its content-hash SPLIT, and
  * the split can change without any pair changing: a whitespace-only
  * text edit leaves the shingle set (hence every pair and signature)
  * intact while flipping md5(text) — so the affected set must include
  * the POST-state pair partners of every batch doc, not just the
  * endpoints of changed pair rows. Affected docs =
  * batch ∪ endpoints(pair delta) ∪ partners-of-batch(post pairs); each
  * is re-evaluated from pruned post-state reads. Per-batch cost is
  * O(batch + pair-delta + partner fan-out) against a
  * duplicate-density-sized pair table — never a corpus re-scan. All
  * merges carry the batchId → replay-idempotent.
  */
object StreamingFuzzyDecon {

  private def pairSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("doc_a", StringType),
    StructField("doc_b", StringType),
    StructField("j", DoubleType)))

  /** The q34/q100 content-hash split rule: bucket(md5(text)) < 90. */
  private def isTrain(text: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(text), 1, 8), 16, 10).cast("long"), lit(100L)) < 90

  private val Name = "fuzzy_decon"

  /** Continuous fuzzy-decontamination view over a CDC `documents`-shaped
    * source. Sink documents: (id = train doc key, n_holdout_neardups,
    * max_jaccard). Constants match batch q100. */
  def fuzzyDeconView(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): ViewDef = {
    val sigTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-sigs")
    val bucketTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-buckets")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")

      // 1. pair maintenance (shared ladder) + pair-table replace
      val delta = StreamingDedup.maintainPairState(
        sigTable, bucketTable, post, touched, ctx)
      IncrementalAgg.replaceRows(pairTable, pairSchema,
        delta.retractCandidates
          .select(Keys.pair(col("doc_a"), col("doc_b")).as("key")),
        delta.verified.select(Keys.pair(col("doc_a"), col("doc_b")).as("key"),
          col("doc_a"), col("doc_b"), col("jaccard").as("j")), ctx)

      // post-state pairs (duplicate-density-sized; on replay the merge
      // skipped and `version` is already the post state)
      val postPairs = ctx.cache(pairTable
        .snapshotAt(pairTable.version, pairSchema)
        .select("doc_a", "doc_b", "j"))

      // 2. affected docs: batch ∪ PRE- and POST-state pair partners of
      // batch docs. This covers every changed-pair endpoint (a pair can
      // only change through a touched doc's signature) AND the
      // no-pair-delta case where a whitespace-only edit flips the
      // content-hash split without touching a single shingle. Derived
      // from the pair-TABLE snapshots, not the in-flight delta frames —
      // the delta's verify-ladder lineage must not leak into every
      // downstream plan (it blows the plan tree up; the table reads are
      // file-rooted and shallow).
      def expand(pairs: DataFrame): DataFrame = pairs
        .select(col("doc_a").as("d"), col("doc_b").as("p"), col("j"))
        .union(pairs
          .select(col("doc_b").as("d"), col("doc_a").as("p"), col("j")))
      def partnersOfTouched(expanded: DataFrame): DataFrame = expanded
        .join(touched.withColumnRenamed("key", "d"), Seq("d"), "left_semi")
        .select(col("p").as("key"))
      val prePairs = IncrementalAgg.preSnapshot(pairTable, pairSchema, ctx)
        .select("doc_a", "doc_b", "j")
      val both = ctx.cache(expand(postPairs))
      val affected = ctx.cache(touched
        .union(partnersOfTouched(expand(prePairs)))
        .union(partnersOfTouched(both))
        .distinct())

      // 3. re-evaluate affected docs: their pairs, both endpoints' split
      // flags from pruned post-state text reads
      val mine = both.join(affected.withColumnRenamed("key", "d"),
        Seq("d"), "left_semi")
      val evalKeys = mine.select(col("d").as("key"))
        .union(mine.select(col("p").as("key")))
        .union(affected).distinct()
      val flags = ctx.cache(post.rows("documents", evalKeys)
        .select(col("key"), isTrain(col("text")).as("train")))
      val upserts = ctx.cache(mine
        .join(flags.select(col("key").as("d"), col("train").as("d_train")), "d")
        .join(flags.select(col("key").as("p"), col("train").as("p_train")), "p")
        .filter(col("d_train") && !col("p_train"))
        .groupBy(col("d").as("id"))
        .agg(count(lit(1)).as("n_holdout_neardups"),
          max(round(col("j"), 6)).as("max_jaccard")))
      val deletes = affected.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
