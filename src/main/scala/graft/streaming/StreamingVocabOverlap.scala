package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental cross-source vocabulary-overlap matrix — the streaming
  * form of batch q104: the sink holds, at every instant, one document
  * per source pair with n_common ≥ 1 (id = "a|b", source_a, source_b,
  * n_common, jaccard) — identical to what batch q104 computes over the
  * materialized corpus.
  *
  * The exact-maintenance decomposition: a source's VOCABULARY membership
  * of a token is a refcount (how many of the source's docs contain it —
  * membership flips only at 0↔1), pairwise intersection counts are ±
  * maintainable from those flips (a token entering/leaving source S
  * changes n_common(S, o) exactly for the other sources o holding the
  * token), and vocabulary sizes are ± maintainable the same way. Three
  * state stores:
  *   - token rows: token → per-source doc refcounts (one bounded row per
  *     token — at most |sources| entries, the vocabulary-keyed store),
  *   - nv: source → vocabulary size (source-bounded),
  *   - pairs: "a|b" → n_common (source-pair-bounded).
  * nv and pairs hold RUNNING counters, so their reads pin the
  * pre-batch version ([[IncrementalAgg]]'s replay discipline) and
  * merges carry the batchId.
  *
  * Per batch: ± doc-distinct token deltas from the batch docs' pre/post
  * images; token rows of the AFFECTED tokens merge those refcounts and
  * yield membership flips; pair deltas per flipped token come from the
  * token's own pre/post source sets (pairs(post) − pairs(pre) — correct
  * when several sources flip the same token in one batch); finally the
  * sink re-emits every pair involving a flip-affected source — jaccard
  * depends on nv(a) and nv(b), so a source gaining a private token
  * changes ALL its pairs' jaccard even where n_common didn't move. The
  * pair/nv tables are source-bounded (the DoReMi-domain class), so that
  * re-emit reads bounded snapshots, never the corpus; per-batch cost is
  * O(batch tokens + affected token rows + |sources|²). */
object StreamingVocabOverlap {

  private def tokSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("source", StringType),
      StructField("cnt", LongType)))))))
  private def nvSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("nv", LongType)))
  private def pairSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("source_a", StringType),
    StructField("source_b", StringType),
    StructField("n_common", LongType)))

  private val Name = "vocab_overlap"

  def vocabOverlapView(spark: SparkSession, stateDir: String): ViewDef = {
    val tokTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-tok")
    val nvTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-nv")
    val pairTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-pairs")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.touched("documents")

      // doc-distinct (source, token) contributions of one state image
      def docTokens(rows: DataFrame, sign: Int): DataFrame = rows
        .select(col("key"), col("source"),
          explode(array_distinct(split(trim(col("text")), "\\s+")))
            .as("tok"))
        .select(col("source"), col("tok"), lit(sign.toLong).as("d"))

      val deltas = ctx.cache(docTokens(pre.rows("documents", touched), -1)
        .unionByName(docTokens(post.rows("documents", touched), 1))
        .groupBy("tok", "source").agg(sum("d").as("d"))
        .filter(col("d") =!= 0))

      // merged refcounts per (token, source); a non-positive count would
      // mean a corrupt envelope (state diff is exact, so the entry drops,
      // clamp-and-continue like IncrementalAgg)
      val byTok = deltas.withColumnRenamed("tok", "key")
      val tok = IncrementalAgg.foldMembers(tokTable, tokSchema, byTok, byTok,
        ctx)
      val preTok = tok.pre.withColumnRenamed("key", "tok")
      val postTok = tok.post.withColumnRenamed("key", "tok")

      // membership flips (0↔1 refcount transitions)
      val preSet = preTok.select("tok", "source")
      val postSet = postTok.select("tok", "source")
      val enters = ctx.cache(postSet.except(preSet))
      val leaves = ctx.cache(preSet.except(postSet))

      // nv merge: ± flips per source against the pinned pre-version
      val nvMerged = IncrementalAgg.applyDeltas(nvTable,
        enters.select(col("source").as("key"), lit(1L).as("d_nv"))
          .unionByName(leaves.select(col("source").as("key"),
            lit(-1L).as("d_nv"))), "nv", ctx).merged

      // pair deltas per affected token: pairs(post source set) − pairs(pre
      // source set) — handles several sources flipping one token at once
      def tokenPairs(s: DataFrame, sign: Int): DataFrame = {
        val a = s.select(col("tok"), col("source").as("sa"))
        val b = s.select(col("tok"), col("source").as("sb"))
        a.join(b, "tok").filter(col("sa") < col("sb"))
          .select(col("sa"), col("sb"), lit(sign.toLong).as("d"))
      }
      val pairs = IncrementalAgg.applyDeltas(pairTable, tokenPairs(postSet, 1)
        .unionByName(tokenPairs(preSet, -1))
        .groupBy("sa", "sb").agg(sum("d").as("d_n_common"))
        .filter(col("d_n_common") =!= 0)
        .select(Keys.pair(col("sa"), col("sb")).as("key"),
          col("sa").as("source_a"), col("sb").as("source_b"),
          col("d_n_common")), "n_common", ctx)

      // sink: re-emit every pair involving a flip-affected source from
      // the POST snapshots (both tables source-bounded). jaccard depends
      // on nv of BOTH endpoints, so pairs with unchanged n_common still
      // move when their source's vocabulary grows or shrinks.
      val affectedSources = nvMerged.select(col("key").as("source"))
      val pairsNow = pairTable.snapshotAt(pairTable.version, pairSchema)
      val nvNow = nvTable.snapshotAt(nvTable.version, nvSchema)
        .select(col("key"), col("nv"))
      val affectedPairs = pairsNow
        .join(affectedSources.withColumnRenamed("source", "source_a"),
          Seq("source_a"), "left_semi")
        .unionByName(pairsNow
          .join(affectedSources.withColumnRenamed("source", "source_b"),
            Seq("source_b"), "left_semi"))
        .distinct()
      val upserts = affectedPairs
        .join(nvNow.select(col("key").as("source_a"), col("nv").as("na")),
          "source_a")
        .join(nvNow.select(col("key").as("source_b"), col("nv").as("nb")),
          "source_b")
        .select(col("key").as("id"), col("source_a"), col("source_b"),
          col("n_common"),
          round(col("n_common") * 1.0 /
            (col("na") + col("nb") - col("n_common")), 6).as("jaccard"))
      // retract pairs whose intersection emptied this batch
      val deletes = pairs.dead.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
