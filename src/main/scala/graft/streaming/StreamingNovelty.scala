package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-document n-gram novelty maintained continuously — the streaming
  * form of batch q103: at every batch boundary the sink holds, for each
  * live document with at least one word `GramN`-gram, the fraction of
  * its distinct grams whose FIRST holder (minimum document key over the
  * CURRENT corpus) is this document.
  *
  * "First" is the minimum over the framework's string keys, so
  * ingestion-order semantics require an order-preserving key encoding
  * (zero-padded ids, time-sortable ULIDs — the usual CDC practice); the
  * batch query's numeric doc_id order is the same rule under any such
  * encoding.
  *
  * Why this needs real state maintenance and not just a per-batch map:
  * novelty credit MOVES. A new smaller-keyed document claiming a gram
  * strips the credit from the resident that held it; deleting a gram's
  * first holder hands the credit to the NEXT smallest resident — a doc
  * the batch never touched changes its answer in both cases. The
  * re-score set is therefore batch docs ∪ the old/new first holders of
  * every gram whose minimum moved — the true data dependency (those
  * docs' answers changed), bounded by batch gram fan-out, never a
  * corpus re-scan.
  *
  * State: one bucketed [[ParquetKeyedTable]] posting list gram → member
  * doc keys (the [[StreamingDecontamination]] inverted-index discipline;
  * gram-keyed, so state size tracks the distinct-gram vocabulary, and
  * every read here is bucket-pruned to the batch's own grams). Per
  * batch, with B = created/updated/deleted docs:
  *   1. distinct-gram the pre and post images of B only;
  *   2. read-modify-write the affected grams' posting rows (members of
  *      departed docs leave, B's post grams enter; emptied rows delete);
  *   3. grams whose min(members) moved name their old/new first holders;
  *   4. re-gram and re-score exactly B ∪ those holders against the
  *      post-merge postings: novel ⇔ doc == min(members). Docs with no
  *      grams or deleted drop from the sink.
  * Merges carry the batchId and deltas derive from pre-batch versions,
  * so a redelivered batch converges (replay idempotent).
  */
object StreamingNovelty {

  private val postingSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  private val Name = "novelty"
  private val GramN = 5

  /** Continuous novelty view over a CDC `documents`-shaped source.
    * Sink documents: (id = doc key, n_grams, n_novel, novel_frac). */
  def noveltyView(spark: SparkSession, stateDir: String): ViewDef = {
    val postings =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-postings")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())

      // per-doc DISTINCT grams (wordShingles dedups within a doc)
      def grams(docs: DataFrame): DataFrame = docs
        .select(col("key").as("doc"),
          explode(graft.functions.NGrams.wordShingles(col("text"), GramN))
            .as("gram"))
        .select(col("doc"), md5(col("gram")).as("g"))

      val preG = ctx.cache(grams(pre.rows("documents", touched)))
      val postG = ctx.cache(grams(post.rows("documents", touched)))

      // 2. posting-list maintenance on the affected grams only
      val affected = preG.select("g").union(postG.select("g"))
        .distinct().withColumnRenamed("g", "key")
      val sw = IncrementalAgg.swapMembers(postings, postingSchema, affected,
        touched, postG.select(col("g").as("key"), col("doc")), ctx)

      // 3. min movements hand novelty credit between docs the batch
      // never touched — their holders join the re-score set
      val minMoves = sw.pre.groupBy("key").agg(min("doc").as("old_min"))
        .join(sw.post.groupBy("key").agg(min("doc").as("new_min")),
          Seq("key"), "full_outer")
        .filter(!(col("old_min") <=> col("new_min")))
      val movedHolders = minMoves.select(col("old_min").as("key"))
        .union(minMoves.select(col("new_min").as("key")))
        .filter(col("key").isNotNull)
      val affectedDocs = ctx.cache(touched.union(movedHolders).distinct())

      // 4. re-score against the post-merge postings (identical on
      // replay: the merge was skipped, the table is already post-batch)
      val scoreG = ctx.cache(grams(post.rows("documents", affectedDocs)))
      val mins = postings.rowsForKeys(postingSchema,
        scoreG.select(col("g").as("key")).distinct())
        .select(col("key").as("g"), array_min(col("members")).as("first_doc"))
      val upserts = ctx.cache(scoreG.join(mins, Seq("g"))
        .groupBy("doc")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc").as("id"), col("n_grams"), col("n_novel"),
          round(col("n_novel") * 1.0 / col("n_grams"), 6).as("novel_frac")))
      val deletes = affectedDocs.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
