package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental benchmark decontamination over a growing CDC corpus — the
  * streaming form of batch q26: the sink holds, at every instant, each
  * TRAIN-split document sharing at least one word 5-gram with the
  * holdout (val ∪ test) splits of the CURRENT document state, with its
  * distinct shared-gram count. Split membership is the q34 content-hash
  * rule, so an update can move a document between splits and the view
  * follows.
  *
  * Two state tables (both md5-gram-keyed, bucket-pruned):
  *   - `hgrams`: gram → number of holdout docs containing it — the
  *     holdout gram SET with the reference counting needed to retract a
  *     gram exactly when its LAST holdout holder leaves,
  *   - `tgrams`: gram → train docs containing it — the inverted index
  *     that locates which RESIDENT train docs to re-score when a gram
  *     enters or leaves the holdout set.
  *
  * Per micro-batch, with B = created/updated/deleted docs:
  *   1. 5-gram ONLY B's pre and post images, classified into
  *      train/holdout by the content-hash split rule;
  *   2. ± the holdout gram counts; a gram whose count crosses zero in
  *      either direction is a TRANSITION — the only holdout-side events
  *      that can change any train doc's contamination;
  *   3. move B's train docs out of their old tgram postings into their
  *      new ones (read-modify-write of affected gram rows only);
  *   4. re-score exactly: B's docs ∪ the (state + batch) train holders
  *      of transitioned grams — each by a pruned hgrams lookup of its
  *      own gram set; docs scoring 0, leaving train, or deleted drop
  *      from the sink.
  *
  * 100 TB posture mirrors [[StreamingSubstringDedup]]: per-batch work is
  * O(|B| grams + transition fan-out), never a corpus re-scan; the
  * transition fan-out is the true data dependency (those docs' answers
  * changed), not an implementation artifact. All reads pin pre-batch
  * versions, both merges carry the batchId (idempotent replay), and the
  * re-score reads the post-merge hgrams version — identical on first
  * delivery and replay.
  */
object StreamingDecontamination {

  private val Name = "decontamination"
  /** Batch q26's word 5-grams, shared with the composed pipeline view. */
  private val GramN = 5

  private def cntSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType)))

  private def memberSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** The q34/q26 content-hash split rule: < 90 → train, else holdout. */
  private def isTrain(text: Column): Column =
    pmod(conv(substring(md5(text), 1, 8), 16, 10).cast("long"), lit(100L)) < 90

  /** Gram-state transition for one batch: `transHolders` = (key) the
    * RESIDENT train docs whose contamination answer may have changed
    * because a gram entered or left the holdout set, and `sharedCounts`
    * = post-merge scorer for an arbitrary doc set — (id, n_shared_grams)
    * for the train docs among them sharing ≥1 holdout gram. Factored
    * out of [[decontaminationView]] for the composed pipeline view. */
  private[streaming] final case class GramState(
      transHolders: DataFrame, sharedCounts: DataFrame => DataFrame)

  /** `touched`: the batch's distinct keys, already persisted by the
    * caller (shared across the composed pipeline's stage helpers). */
  private[streaming] def maintainGramState(
      hTable: ParquetKeyedTable, tTable: ParquetKeyedTable,
      pre: StateAccess, post: StateAccess,
      touched: DataFrame, ctx: BatchCtx): GramState = {
    // per-doc DISTINCT grams (wordShingles dedups) with the split tag
    def grams(docs: DataFrame): DataFrame = docs
      .select(col("key").as("doc"), isTrain(col("text")).as("train"),
        explode(graft.functions.NGrams.wordShingles(col("text"), GramN))
          .as("gram"))
      .select(col("doc"), col("train"), md5(col("gram")).as("g"))

      val preG = ctx.cache(grams(pre.rows("documents", touched)))
      val postG = ctx.cache(grams(post.rows("documents", touched)))

      // 2. holdout count ± — only grams whose holdout membership within
      // B changed can move the count
      val deltas = preG.filter(!col("train")).groupBy("g")
        .agg(count(lit(1)).as("pre_n"))
        .join(postG.filter(!col("train")).groupBy("g")
          .agg(count(lit(1)).as("post_n")), Seq("g"), "full_outer")
        .select(col("g").as("key"),
          (coalesce(col("post_n"), lit(0L)) - coalesce(col("pre_n"), lit(0L)))
            .as("d_cnt"))
        .filter(col("d_cnt") =!= 0)
      val hNew = IncrementalAgg.applyDeltas(hTable, deltas, "cnt", ctx).merged
      // grams entering or leaving the holdout set — the retraction /
      // discovery events for RESIDENT train docs
      val transitions = hNew
        .filter((col("o_cnt") > 0) =!= (col("cnt") > 0))
        .select(col("key").as("g"))

      // 3. train inverted-index maintenance (affected gram rows only)
      IncrementalAgg.swapMembers(tTable, memberSchema,
        preG.filter(col("train")).select(col("g").as("key")), touched,
        postG.filter(col("train")).select(col("g").as("key"), col("doc")), ctx)

    // the re-score set beyond B itself: every train holder of a
    // transitioned gram — resident holders from the PRE index (their
    // post rows are unchanged: they are not in B), batch holders from
    // postG
    val transHolders = IncrementalAgg
      .preRows(tTable, memberSchema, transitions.select(col("g").as("key")), ctx)
      .select(explode(col("members")).as("key"))
      .union(postG.filter(col("train"))
        .join(transitions, Seq("g"), "left_semi").select(col("doc").as("key")))

    val sharedCounts = (docs: DataFrame) => {
      val scoreG = grams(post.rows("documents", docs))
        .filter(col("train"))
      // post-merge holdout membership: identical on replay (merge skipped,
      // table already at the post-batch version)
      val hLive = hTable.rowsForKeys(cntSchema,
        scoreG.select(col("g").as("key")).distinct())
        .filter(col("cnt") > 0)
      scoreG
        .join(hLive.withColumnRenamed("key", "g"), Seq("g"), "left_semi")
        .groupBy("doc").agg(count(lit(1)).as("n_shared_grams"))
        .select(col("doc").as("id"), col("n_shared_grams"))
    }
    GramState(transHolders, sharedCounts)
  }

  /** Continuous decontamination view over a CDC `documents`-shaped
    * source. Sink documents: (id = doc key, n_shared_grams). Constants
    * match batch q26 (word 5-grams). */
  def decontaminationView(spark: SparkSession, stateDir: String): ViewDef = {
    val hTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-hgrams")
    val tTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-tgrams")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")
      val gs = maintainGramState(hTable, tTable, pre, post, touched, ctx)
      val affectedDocs = ctx.cache(touched
        .union(gs.transHolders).distinct())
      val upserts = ctx.cache(gs.sharedCounts(affectedDocs))
      val deletes = affectedDocs.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
