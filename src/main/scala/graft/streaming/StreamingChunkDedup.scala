package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Curation

/** Continuous shared-chunk detection — the streaming form of batch
  * q157: the sink holds, at every instant, exactly the 32-token/stride-
  * 24 chunk fingerprints shared by MORE THAN ONE document of the
  * CURRENT state, with occurrence/document counts and earliest carrier.
  *
  * Per micro-batch, with B = batch docs:
  *
  *   1. chunk ONLY B — post-state texts through batch q157's exact
  *      [[Curation.chunkHashes]] Column (one definition, no drift);
  *   2. retract via B's OLD chunk lists (a doc-keyed state table stores
  *      each doc's current fingerprint multiset — the doc-side index
  *      that makes update/delete retraction exact without re-chunking
  *      the resident corpus);
  *   3. the affected fingerprints (old ∪ new) re-derive their carrier
  *      sets from pruned chunk-state reads: drop the touched docs'
  *      entries, add B's, rebuild counts;
  *   4. fingerprints with ≥ 2 carriers upsert; ones that fell to a
  *      single carrier (or vanished) delete.
  *
  * 100 TB posture: per-batch work is O(B's chunks + affected
  * fingerprints' carrier lists); both state reads are bucket-pruned
  * (cost tracks the batch, not the corpus), and a fingerprint's carrier
  * list is duplicate-density-sized — corpus-wide boilerplate (a
  * license block on millions of pages) would make one hot key, which
  * is the same honest seam as the text pair ladder's hottest band.
  * Both merges carry the batchId → replay idempotent. */
object StreamingChunkDedup {

  private def docSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("hashes", ArrayType(StringType))))

  private def chunkSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("docs", ArrayType(StructType(Seq(
      StructField("d", StringType),
      StructField("c", IntegerType)))))))

  /** Continuous shared-chunk view over a CDC `documents`-shaped source.
    * Sink documents: (id = chunk_hash, n_docs, n_occ, first_doc) —
    * batch q157's shape, over q157's fixed 32-token/stride-24 windows. */
  def sharedChunkView(spark: SparkSession, stateDir: String): ViewDef =
    chunkView(spark, stateDir, "chunk_dedup", Curation.chunkHashes)

  /** Batch q169's content-defined chunking, continuous: the same
    * retraction machinery with [[Curation.cdcChunkHashes]] as the
    * digest rule — shared-chunk tracking that survives insertions,
    * since an edited doc's UNTOUCHED chunks keep their digests and
    * only the edited chunk's state entry changes. */
  def cdcChunkView(spark: SparkSession, stateDir: String): ViewDef =
    chunkView(spark, stateDir, "cdc_chunk_dedup", Curation.cdcChunkHashes)

  /** The shared-chunk view under `chunker`, which maps a text Column to
    * its array of chunk digests (the retraction machinery is chunking-
    * rule-agnostic — only the digest list changes). */
  private def chunkView(spark: SparkSession, stateDir: String, name: String,
      chunker: Column => Column): ViewDef = {
    val docTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-docs")
    val chunkTable =
      new ParquetKeyedTable(spark, s"$stateDir/$name-chunks")

    ViewDef(name, (pre, post, batch, ctx) => {
      val preDocV = docTable.versionBefore(ctx.batchId)

      val touched = ctx.cache(batch("documents").select("key").distinct())

      // 1. chunk ONLY the batch docs, through the batch query's path
      val newLists = ctx.cache(post.rows("documents", touched)
        .select(col("key"), chunker(col("text")).as("hashes")))
      val newContribs = newLists
        .select(col("key").as("d"), explode(col("hashes")).as("h"))
        .groupBy("d", "h").agg(count(lit(1)).cast("int").as("c"))

      // 2. the docs' OLD fingerprints, from the doc-side index
      val oldHashes = docTable.rowsForKeysAt(preDocV, docSchema, touched)
        .select(explode(col("hashes")).as("h")).distinct()

      // doc-index update: live docs' new lists (empty list rows kept —
      // a <32-token doc legitimately owns no chunks); vanished docs drop
      docTable.merge(newLists, touched.join(newLists.select("key"),
        Seq("key"), "left_anti"), ctx.batchId)

      // 3. rebuild the affected fingerprints' carrier sets
      val affected = ctx.cache(oldHashes
        .union(newContribs.select(col("h"))).distinct()
        .withColumnRenamed("h", "key"))
      val sw = IncrementalAgg.swapMembers(chunkTable, chunkSchema, affected,
        touched, newContribs.withColumnRenamed("h", "key"), ctx)

      // 4. shared fingerprints upsert; fallen/vanished ones delete
      val upserts = ctx.cache(sw.post.groupBy(col("key").as("id"))
        .agg(countDistinct("d").as("n_docs"),
          sum("c").cast("long").as("n_occ"),
          min(col("d").cast("long")).as("first_doc"))
        .filter(col("n_docs") > 1))
      val deletes = affected.select(col("key").as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
