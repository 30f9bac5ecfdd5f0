package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Continuous embedding-space decontamination — the streaming form of
  * batch q140: the sink holds, at every instant, each live CORPUS
  * vector's nearest benchmark neighbor, rounded max cosine, and
  * above-threshold count against the live BENCHMARK set (keys ≡ 0 mod
  * 29, the batch split).
  *
  * Two cost tiers, by which side the batch touches:
  *
  *  - corpus-side events (the common case — corpora churn, benchmarks
  *    don't): re-score exactly the touched corpus keys against the
  *    benchmark state — O(|batch| × |benchmark| × dim) codegen'd dot
  *    products, no other row moves.
  *  - benchmark-side events: the family's global-input hazard (cf.
  *    [[StreamingBoilerplate]]'s corpus-relative df threshold) — a
  *    benchmark insert/delete/update can flip `nearest`/`n_near`/
  *    `contaminated` on corpus rows the batch never touched, so EVERY
  *    live corpus row re-scores. That full pass is the honest price of
  *    changing the benchmark, paid on the rare event rather than
  *    approximated away; the spec exercises both directions.
  *
  * The benchmark side is additionally maintained as its OWN bounded
  * state table (merged idempotent-by-batchId like every other store):
  * reading "the current benchmark" must not scan corpus-sized state per
  * batch, and at 100 TB the benchmark table is exactly the separate
  * bounded artifact a production pipeline broadcasts. */
object StreamingEmbeddingDecon {

  private val Name = "embedding_decon"
  private val Threshold = 0.4

  def deconView(spark: SparkSession, stateDir: String): ViewDef = {
    val holdSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("embedding", ArrayType(DoubleType))))
    val holdState = new ParquetKeyedTable(
      spark, s"$stateDir/$Name-holdout")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val isHold = pmod(col("key").cast("long"), lit(29)) === 0
      val touched = ctx.touched("embeddings")
      // the mod-29 split needs numeric keys; a key whose cast is null
      // would be neither benchmark nor corpus (null-false on BOTH
      // branches) and silently vanish from the sink — fail loudly
      // instead, the StreamingC4 numeric-key contract enforced
      val badKeys = touched.filter(col("key").cast("long").isNull)
      require(badKeys.isEmpty,
        s"$Name requires numeric keys for the benchmark split; got " +
          badKeys.limit(5).collect().map(_.getString(0)).mkString(", "))
      val holdTouched = ctx.cache(touched.filter(isHold))
      val benchmarkChanged = !holdTouched.isEmpty

      // benchmark-side state maintenance: touched holdout keys that are
      // live post-batch upsert their vector, dead ones delete
      val holdLive = post.rows("embeddings", holdTouched)
        .select(col("key"),
          col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      IncrementalAgg.replaceRows(holdState, holdSchema, holdTouched, holdLive,
        ctx)

      val holdNow = holdState.snapshot(holdSchema) // benchmark-sized
      val corpusRows =
        if (benchmarkChanged) {
          val all = ctx.cache(post("embeddings"))
          // the batch guard above only sees keys TOUCHED in this batch;
          // a non-numeric key that entered state before this view was
          // attached would be null on BOTH mod-29 branches and silently
          // vanish from the full-corpus pass — same contract, same
          // loud failure, checked on the one pass that reads everything
          val badState = all.select("key")
            .filter(col("key").cast("long").isNull)
          require(badState.isEmpty,
            s"$Name requires numeric keys; pre-existing state holds " +
              badState.limit(5).collect().map(_.getString(0))
                .mkString(", "))
          all.filter(!isHold)
        } else post.rows("embeddings", touched.filter(!isHold))
      val affectedIds =
        if (benchmarkChanged)
          corpusRows.select("key")
            .unionByName(touched.filter(!isHold)).distinct()
        else touched.filter(!isHold)

      // the batch q140 arithmetic verbatim: rounded cosine, struct-max
      // argmax with smallest-benchmark-id tie-break, integer-exact flag
      val scored = corpusRows
        .select(col("key"),
          col("embedding").cast(ArrayType(DoubleType)).as("cv"))
        .crossJoin(broadcast(holdNow.select(
          col("key").cast("long").as("hold_id"), col("embedding").as("hv"))))
        .select(col("key"), col("hold_id"),
          round(Similarity.cosine(col("cv"), col("hv")), 6).as("cos"))
      val upserts = scored.groupBy("key")
        .agg(max(struct(col("cos").as("c"), (-col("hold_id")).as("n")))
            .as("m"),
          count(when(col("cos") >= Threshold, lit(1))).as("n_near"))
        .select(col("key").as("id"), (-col("m.n")).as("nearest_holdout"),
          col("m.c").as("max_cos"), col("n_near"),
          (col("n_near") > 0).as("contaminated"))
      val deletes = affectedIds.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
