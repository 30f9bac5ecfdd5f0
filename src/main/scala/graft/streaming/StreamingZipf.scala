package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Continuously-maintained Zipf rank-frequency fit per language — the
  * streaming form of batch q108: the sink holds, at every instant, one
  * document per live language (id = lang, n_vocab, n_top, zipf_slope)
  * equal to what batch q108 computes over the materialized corpus.
  *
  * The decomposition: per-(lang, token) OCCURRENCE counts are exact ±
  * deltas of the batch docs' pre/post images (the corpus-scale part,
  * shuffle ∝ batch tokens); the fit itself is a function of a
  * language's VOCABULARY table, which is model-sized, so a touched
  * language's report is simply recomputed from its merged vocabulary —
  * the affected-key recomputation posture, with "key" = language. The
  * vocabulary state is sharded `lang|shard` rows ([[StreamingDomainCap]]
  * ledger pattern): a language's vocabulary spreads over `Shards`
  * bounded-width rows, and a batch reads exactly the touched languages'
  * shards — never another language's, never the corpus. Counter rows
  * are running sums: reads pin the pre-batch version and merges carry
  * the batchId (the [[IncrementalAgg]] replay discipline).
  *
  * Per-batch cost: O(batch tokens + touched languages' vocabulary).
  * The slope's rank window runs over ≤ |touched-lang vocabulary| rows —
  * the same bounded-window trade batch q108 documents.
  */
object StreamingZipf {

  private def vocabSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("lang", StringType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("tok", StringType),
      StructField("cnt", LongType)))))))

  private val Name = "zipf_fit"
  private val Shards = 64

  def zipfView(spark: SparkSession, stateDir: String): ViewDef = {
    val vocabTable =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-vocab")

    def shardKey(lang: Column, tok: Column): Column =
      Keys.pair(lang, pmod(xxhash64(tok), lit(Shards)))

    ViewDef(Name, (pre, post, batch, ctx) => {
      val preV = vocabTable.versionBefore(ctx.batchId)
      val touched = ctx.cache(batch("documents").select("key").distinct())

      def occurrences(rows: DataFrame, sign: Int): DataFrame = rows
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(col("lang"), col("tok"), lit(sign.toLong).as("d"))

      val deltas = ctx.cache(occurrences(pre.rows("documents", touched), -1)
        .unionByName(occurrences(post.rows("documents", touched), 1))
        .groupBy("lang", "tok").agg(sum("d").as("d"))
        .filter(col("d") =!= 0))

      // every touched language re-fits, whichever shards its deltas hit
      val touchedLangs = ctx.cache(deltas.select("lang").distinct())
      val shardKeys = touchedLangs
        .select(col("lang"), explode(sequence(lit(0), lit(Shards - 1)))
          .as("sh"))
        .select(Keys.pair(col("lang"), col("sh")).as("key"))

      val preVocab = vocabTable.rowsForKeysAt(preV, vocabSchema, shardKeys)
        .select(col("lang"), explode(col("entries")).as("e"))
        .select(col("lang"), col("e.tok").as("tok"), col("e.cnt").as("cnt"))
      val postVocab = ctx.cache(preVocab.join(deltas, Seq("lang", "tok"), "full_outer")
        .select(col("lang"), col("tok"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("c"))
        .filter(col("c") > 0))

      val rows = postVocab
        .groupBy(shardKey(col("lang"), col("tok")).as("key"), col("lang"))
        .agg(collect_list(struct(col("tok"), col("c").as("cnt")))
          .as("entries"))
        .select("key", "lang", "entries")
      val emptied = shardKeys.join(rows.select("key"), Seq("key"), "left_anti")
      vocabTable.merge(rows, emptied, ctx.batchId)

      // re-fit the touched languages from their merged vocabulary —
      // batch q108's own computation, on the bounded per-lang table
      val upserts = TextAnalysis.zipfOf(postVocab)
        .select(col("lang").as("id"), col("lang"), col("n_vocab"),
          col("n_top"), col("zipf_slope"))
      val deletes = touchedLangs.select(col("lang").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
