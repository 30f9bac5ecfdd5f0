package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental corpus-adaptive boilerplate scoring — the streaming form
  * of batch q94: the sink holds, at every instant, each live document's
  * token count, boilerplate-token count against its source's CURRENT
  * learned vocabulary (tokens with document frequency > 90% within the
  * source), and the resulting content ratio.
  *
  * What makes this view different from the gram-keyed family
  * ([[StreamingDecontamination]], [[StreamingBm25]]) is the GLOBAL
  * threshold: vocabulary membership is df(source, token) > 0.9 ·
  * ndocs(source), so a batch that only ADDS a document to a source can
  * flip membership for tokens the batch never touched (the denominator
  * moved). Affected-key enumeration therefore has two tiers:
  *
  *   - token tier (batch-sized): tokens whose df changed — their
  *     postings are read/merged bucket-pruned, exactly like the gram
  *     views;
  *   - source tier (vocabulary-sized): for each source with any doc
  *     change, the source's df rows are re-evaluated against the old
  *     and new denominators to find membership FLIPS. This is a scan of
  *     the source's vocabulary state — bounded by distinct tokens, never
  *     by corpus size (the honest cost of a corpus-relative threshold;
  *     at larger scale the upgrade is df-ratio bucketing so only rows
  *     near the moving threshold are read, the [[StreamingBm25]]
  *     shard pattern applied to the ratio dimension).
  *
  * Re-scored docs = batch docs ∪ post-state members of every flipped
  * token's posting — the true data dependency (those docs' boilerplate
  * counts changed), never a corpus re-scan. State merges carry the
  * batchId → replay-idempotent.
  */
object StreamingBoilerplate {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  private def ndSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType)))

  private def tokens(textCol: Column): Column =
    split(trim(textCol), "\\s+")

  /** Composite (source, token) state key. The source segment is base64-
    * encoded so a literal '|' in a source value can neither corrupt the
    * prefix parse in [[srcOfKey]] nor collide two distinct (src, tok)
    * pairs (ADVICE r5: a raw concat_ws silently mis-attributed such a
    * source's vocabulary rows). base64 emits no '|', so the first field
    * parses unambiguously; the token rides verbatim after the delimiter
    * (it is never parsed back out of the key, and a '|' inside it is
    * harmless because the prefix boundary is the FIRST '|'). */
  private def stKey(src: Column, tok: Column): Column =
    concat_ws("|", base64(encode(src, "UTF-8")), tok)

  private def srcOfKey(key: Column): Column =
    decode(unbase64(substring_index(key, "|", 1)), "UTF-8")

  private val Name = "boilerplate"
  private val Threshold = 0.9

  /** Continuous boilerplate view over a CDC `documents`-shaped source
    * with (doc key, source, text) rows. Sink documents:
    * (id, n_tokens, n_boiler, content_ratio). */
  def boilerplateView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-postings")
    val ndTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-ndocs")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")

      // distinct (source|token, doc) membership of the touched docs,
      // before and after
      def membership(docs: DataFrame): DataFrame = docs
        .select(col("key").as("doc"), col("source").as("src"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .select(col("doc"), col("src"),
          stKey(col("src"), col("tok")).as("st"))
      val preM = ctx.cache(membership(pre.rows("documents", touched)))
      val postM = ctx.cache(membership(post.rows("documents", touched)))

      // ndocs ± per source (an update may move a doc between sources)
      val preSrc = pre.rows("documents", touched)
        .select(col("key").as("doc"), col("source").as("src"))
      val postSrc = post.rows("documents", touched)
        .select(col("key").as("doc"), col("source").as("src"))
      val ndDeltas = preSrc.groupBy("src").agg(count(lit(1)).as("pre_n"))
        .join(postSrc.groupBy("src").agg(count(lit(1)).as("post_n")),
          Seq("src"), "full_outer")
        .select(col("src").as("key"),
          (coalesce(col("post_n"), lit(0L)) - coalesce(col("pre_n"), lit(0L)))
            .as("d_cnt"))
      val ndNew = IncrementalAgg.applyDeltas(ndTable, ndDeltas, "cnt", ctx)
        .merged.select(col("key").as("src"), col("o_cnt").as("old_nd"),
          col("cnt").as("new_nd"))
      val affectedSources = ndNew.select("src")

      // postings read-modify-write for the batch-touched (source, token)
      // keys only — bucket-pruned, the gram-view pattern
      IncrementalAgg.swapMembers(postings, postSchema,
        preM.select(col("st").as("key")), touched,
        postM.select(col("st").as("key"), col("doc")), ctx)

      // membership flips: evaluate the WHOLE vocabulary state of every
      // affected source against old and new (df, ndocs). Old df from the
      // pre posting version; new df from the post version (merge above
      // — or the already-committed state on replay).
      def dfOf(snapshot: DataFrame): DataFrame = snapshot
        .select(col("key").as("st"), size(col("members")).cast("long").as("df"),
          srcOfKey(col("key")).as("src"))
        .join(broadcast(affectedSources), Seq("src"), "left_semi")
      val oldDf = dfOf(IncrementalAgg.preSnapshot(postings, postSchema, ctx))
      val newDf = dfOf(postings.snapshot(postSchema))
      val flips = oldDf.withColumnRenamed("df", "old_df")
        .join(newDf.withColumnRenamed("df", "new_df"),
          Seq("st", "src"), "full_outer")
        .join(broadcast(ndNew), Seq("src"), "left")
        .select(col("st"),
          (coalesce(col("old_df"), lit(0L)) >
            lit(Threshold) * coalesce(col("old_nd"), lit(0L))).as("was"),
          (coalesce(col("new_df"), lit(0L)) >
            lit(Threshold) * coalesce(col("new_nd"), lit(0L))).as("is"))
        .filter(col("was") =!= col("is"))
        .select("st")

      // re-score: batch docs ∪ post-state members of flipped tokens
      val flipHolders = postings
        .rowsForKeys(postSchema, flips.withColumnRenamed("st", "key"))
        .select(explode(col("members")).as("key"))
      val affectedDocs = ctx.cache(touched.union(flipHolders).distinct())

      // per-doc counts against the CURRENT vocabulary: token instances
      // from post text, membership from the post df/ndocs state (pruned
      // by the docs' own token keys)
      val docToks = ctx.cache(post.rows("documents", affectedDocs)
        .select(col("key"), col("source").as("src"),
          explode(tokens(col("text"))).as("tok"))
        .select(col("key"), col("src"), col("tok"),
          stKey(col("src"), col("tok")).as("st")))
      val liveDf = postings.rowsForKeys(postSchema,
        docToks.select(col("st").as("key")).distinct())
        .select(col("key").as("st"),
          size(col("members")).cast("long").as("df"))
      val liveNd = ndTable.rowsForKeys(ndSchema,
        docToks.select(col("src")).distinct()
          .select(col("src").as("key")))
        .select(col("key").as("src"), col("cnt").as("nd"))
      val upserts = ctx.cache(docToks
        .join(liveDf, Seq("st"), "left")
        .join(broadcast(liveNd), Seq("src"), "left")
        .withColumn("boiler",
          coalesce(col("df"), lit(0L)) >
            lit(Threshold) * coalesce(col("nd"), lit(0L)))
        .groupBy(col("key").as("id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("boiler"), 1)).as("n_boiler"),
          round(lit(1.0) -
            count(when(col("boiler"), 1)).cast("double") / count(lit(1)), 6)
            .as("content_ratio")))
      val deletes = affectedDocs.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
