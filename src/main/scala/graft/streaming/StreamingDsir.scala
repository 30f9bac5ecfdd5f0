package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuous DSIR importance weighting — the streaming form of batch
  * q102, under the same read-time-pricing posture as
  * [[StreamingBm25]]'s idf and [[StreamingCuration]]'s mixture
  * normalizer: the log-ratio table λ depends on GLOBAL feature
  * distributions (target vs raw), so ANY batch shifts λ a little and
  * with it every document's log-weight. Maintaining materialized
  * weights would mean re-scoring the corpus per batch (the dishonest
  * move); instead the view maintains exactly the Σ-decomposable
  * inputs —
  *   - per-doc hashed-bigram counts (doc-keyed rows, replaced on
  *     touch, bucket-pruned),
  *   - the raw and target per-bucket count ledgers (± deltas from
  *     pre/post images, BOUNDED at the hash width: ≤ B rows each
  *     regardless of corpus size)
  * — and [[DsirWeights.score]] prices λ at read over the bounded
  * ledgers, joining it back onto stored doc features. Per-batch cost is
  * O(batch bigrams); the corpus appears only in the read that asks for
  * corpus-wide output.
  *
  * A document UPDATE that flips its language moves its counts between
  * the target and raw ledgers exactly (deltas derive from both images);
  * deletes retract. Ledger merges and doc-row replacement carry the
  * batchId — replay idempotent like every store in the pipeline.
  */
object StreamingDsir {

  private val cntSchema = StructType(Seq(
    StructField("key", StringType), StructField("cnt", LongType)))
  private val featSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("feats", ArrayType(StructType(Seq(
      StructField("b", LongType), StructField("c", LongType)))))))

  final class DsirWeights(spark: SparkSession, stateDir: String,
      buckets: Int) {
    private val docFeats =
      new ParquetKeyedTable(spark, s"$stateDir/dsir-docfeats")
    private val rawLedger =
      new ParquetKeyedTable(spark, s"$stateDir/dsir-raw")
    private val tgtLedger =
      new ParquetKeyedTable(spark, s"$stateDir/dsir-target")

    private def bucketOf(g: Column): Column =
      pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong))

    /** (doc key, target?, bucket, count) for a set of images. */
    private def featsOf(rows: DataFrame): DataFrame = rows
      .select(col("key"), (col("lang") === "en").as("tgt"),
        explode(graft.functions.NGrams.wordGrams(col("text"), 2)).as("g"))
      .groupBy(col("key"), col("tgt"), bucketOf(col("g")).as("b"))
      .agg(count(lit(1)).as("c"))

    val view: ViewDef = ViewDef("dsir", (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("documents").select("key").distinct())
      val preF = ctx.cache(featsOf(pre.rows("documents", touched)))
      val postF = ctx.cache(featsOf(post.rows("documents", touched)))

      // ± ledgers: raw counts every image, target counts target images
      def ledgerDeltas(filterTgt: Boolean): DataFrame = {
        def side(f: DataFrame, sign: Long) = {
          val r = if (filterTgt) f.filter(col("tgt")) else f
          r.groupBy("b").agg((sum("c") * sign).as("d"))
        }
        side(postF, 1L).unionByName(side(preF, -1L))
          .groupBy(col("b").cast("string").as("key"))
          .agg(sum("d").as("d_cnt")).filter(col("d_cnt") =!= 0)
      }
      IncrementalAgg.applyDeltas(rawLedger, ledgerDeltas(filterTgt = false),
        "cnt", ctx)
      IncrementalAgg.applyDeltas(tgtLedger, ledgerDeltas(filterTgt = true),
        "cnt", ctx)

      // replace touched docs' feature rows
      val newRows = ctx.cache(postF.groupBy("key")
        .agg(collect_list(struct(col("b"), col("c"))).as("feats")))
      val gone = touched.join(newRows.select("key"), Seq("key"), "left_anti")
      docFeats.merge(newRows, gone, ctx.batchId)

      // the sink carries per-doc feature inventory; weights are priced
      // at read (score) because λ is corpus-global
      val upserts = newRows.select(col("key").as("id"),
        size(col("feats")).as("n_feats"))
      (upserts, gone.select(col("key").as("id")))
    })

    /** Current importance log-weights: λ priced over the bounded
      * ledgers (≤ `buckets` rows each — a broadcast), joined onto the
      * stored per-doc counts. Same arithmetic as batch q102: add-one
      * smoothing, λ rounded to 6 and summed as count×DECIMAL. Returns
      * (id, logw) for every live doc with ≥1 bigram feature. */
    def score(): DataFrame = {
      val rf = rawLedger.snapshot(cntSchema)
        .select(col("key").cast("long").as("b"), col("cnt").as("rc"))
      val tf = tgtLedger.snapshot(cntSchema)
        .select(col("key").cast("long").as("b"), col("cnt").as("tc"))
      val tot = rf.agg(sum("rc").as("rn"))
        .crossJoin(tf.agg(coalesce(sum("tc"), lit(0L)).as("tn")))
      val lam = rf.join(tf, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          round(log((coalesce(col("tc"), lit(0L)) + 1.0) /
              (col("tn") + buckets.toDouble))
            - log((col("rc") + 1.0) / (col("rn") + buckets.toDouble)), 6)
            .cast("decimal(18,6)").as("lam"))
      docFeats.snapshot(featSchema)
        .select(col("key"), explode(col("feats")).as("f"))
        .select(col("key"), col("f.b").as("b"), col("f.c").as("c"))
        .join(broadcast(lam), "b")
        .groupBy("key")
        .agg(sum(col("c") * col("lam")).cast("double").as("logw"))
        .select(col("key").as("id"), col("logw"))
    }
  }

  /** DSIR view over the `documents` changelog; the target predicate is
    * batch q102's English slice, the default hash width 1024. */
  def weights(spark: SparkSession, stateDir: String,
      buckets: Int = 1024): DsirWeights =
    new DsirWeights(spark, stateDir, buckets)
}
