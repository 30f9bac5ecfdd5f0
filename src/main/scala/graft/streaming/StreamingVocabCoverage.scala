package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuous head-vocabulary coverage — the streaming form of batch
  * q119: the sink holds, at every instant, each live document's token
  * count, head-token occurrence count and coverage fraction, where the
  * head set is the CURRENT corpus's top-`topK` vocabulary. The hard
  * part is that the head set itself drifts as counts change: a token
  * entering or leaving the top-K changes the coverage of every doc
  * holding it, including docs no batch ever touched again.
  *
  * State, all bucket-pruned:
  *   - token occurrence counters ± (the [[StreamingZipf]] ledger
  *     class) — a batch adjusts exactly the tokens whose occurrence
  *     count within the batch's pre/post images changed;
  *   - a doc-SHARDED inverted index token|shard → member docs (the
  *     [[StreamingDomainCap]] ledger-shard pattern): head tokens are by
  *     definition the highest-df rows, so one giant posting array per
  *     token would concentrate a head transition's fan-out in a single
  *     state row — sharding by doc hash spreads it over bounded-width
  *     rows;
  *   - the current head set (one bounded row of topK tokens).
  *
  * Per batch: ± the touched tokens' counters; recompute the top-K over
  * the post-merge counter state (a VOCABULARY-sized rank — the honest
  * per-batch seam, shared with [[StreamingZipf]]'s per-language re-fit:
  * distinct tokens, never corpus rows, and the rank runs over the
  * aggregate); diff against the stored head set; re-score exactly the
  * batch docs ∪ the sharded-index holders of transitioned tokens (their
  * coverage genuinely changed — the fan-out is the data dependency, not
  * an artifact). All merges carry the batchId → replay-idempotent. */
object StreamingVocabCoverage {

  private def cntSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType)))

  private def memberSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StructType(Seq(
      StructField("doc", StringType),
      StructField("tok", StringType)))))))

  private def headSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("toks", ArrayType(StringType))))

  /** ± token occurrence-counter maintenance over (doc, tok) occurrence
    * frames of the batch's pre/post images. Returns (key = tok, cnt,
    * o_cnt) for every token whose count moved — zero-crossings in
    * this frame are the vocabulary-size deltas the streaming datasheet
    * consumes. Merge carries the batchId (replay-idempotent). */
  private[streaming] def maintainTokenCounters(cntTable: ParquetKeyedTable,
      preT: DataFrame, postT: DataFrame, ctx: BatchCtx): DataFrame = {
    val deltas = preT.groupBy("tok").agg(count(lit(1)).as("pre_n"))
      .join(postT.groupBy("tok").agg(count(lit(1)).as("post_n")),
        Seq("tok"), "full_outer")
      .select(col("tok").as("key"),
        (coalesce(col("post_n"), lit(0L)) - coalesce(col("pre_n"), lit(0L)))
          .as("d_cnt"))
      .filter(col("d_cnt") =!= 0)
    IncrementalAgg.applyDeltas(cntTable, deltas, "cnt", ctx).merged
  }

  private val Name = "vocab_coverage"
  private val MemberShards = 16

  def coverageView(
      spark: SparkSession, stateDir: String, topK: Int = 20): ViewDef = {
    val cntTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-cnt")
    val holdTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-members")
    val headTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-head")

    def shardKey(tok: Column, doc: Column): Column =
      Keys.pair(tok, pmod(xxhash64(doc), lit(MemberShards)))

    ViewDef(Name, (pre, post, batch, ctx) => {
      import spark.implicits._
      val touched = ctx.touched("documents")

      def toks(rows: DataFrame): DataFrame = rows
        .select(col("key").as("doc"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))

      val preT = ctx.cache(toks(pre.rows("documents", touched)))
      val postT = ctx.cache(toks(post.rows("documents", touched)))

      // 1. occurrence counters ±
      maintainTokenCounters(cntTable, preT, postT, ctx)

      // 2. sharded inverted-index maintenance: distinct (tok, doc) of
      // the touched docs move from their old shard rows to the new
      def shardRows(t: DataFrame): DataFrame = t.select("doc", "tok")
        .distinct()
        .select(shardKey(col("tok"), col("doc")).as("key"), col("doc"),
          col("tok"))
      IncrementalAgg.swapMembers(holdTable, memberSchema, shardRows(preT),
        touched, shardRows(postT), ctx)

      // 3. new head set over the post-merge counter state: a rank over
      // the vocabulary AGGREGATE (bounded rows), collected bounded
      // (topK tokens of driver metadata)
      val newHead = cntTable.snapshot(cntSchema)
        .orderBy(col("cnt").desc, col("key"))
        .limit(topK)
        .select(col("key")).collect().map(_.getString(0)).toSeq
      val headKey = Seq("head").toDF("key")
      val oldHead = IncrementalAgg.preRows(headTable, headSchema, headKey, ctx)
        .collect().headOption
        .map(_.getSeq[String](1)).getOrElse(Seq.empty)
      IncrementalAgg.replaceRows(headTable, headSchema, headKey,
        Seq(("head", newHead)).toDF("key", "toks"), ctx)
      val transToks = ((newHead.toSet -- oldHead.toSet) ++
        (oldHead.toSet -- newHead.toSet)).toSeq

      // 4. affected docs: the batch ∪ every holder of a transitioned
      // token (resident holders from the PRE index; batch holders from
      // postT)
      val transKeyDf = transToks.toDF("tok")
        .select(col("tok"),
          explode(sequence(lit(0), lit(MemberShards - 1))).as("sh"))
        .select(Keys.pair(col("tok"), col("sh")).as("key"))
      val resHolders = IncrementalAgg
        .preRows(holdTable, memberSchema, transKeyDf, ctx)
        .select(explode(col("members.doc")).as("key"))
      val batchHolders = postT
        .filter(col("tok").isin(transToks: _*))
        .select(col("doc").as("key"))
      val affectedDocs = ctx.cache(touched.union(resHolders).union(batchHolders)
        .distinct())

      // 5. re-score from post state against the new head literal
      val headLit = typedlit(newHead)
      val w = split(trim(col("text")), "\\s+")
      val upserts = ctx.cache(post.rows("documents", affectedDocs)
        .select(col("key").as("id"),
          size(w).cast("long").as("n_tok"),
          size(filter(w, x => array_contains(headLit, x))).cast("long")
            .as("n_head"))
        .select(col("id"), col("n_tok"), col("n_head"),
          round(col("n_head") * 1.0 / col("n_tok"), 6).as("coverage")))
      val deletes = affectedDocs.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
