package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Pq

/** Streaming IVF-PQ index maintenance — batch q99's composed cell layout
  * (cells carrying PQ codes) kept continuously up to date over a CDC
  * embeddings source, so a vector is ANN-searchable the micro-batch it
  * arrives and unfindable the batch it is deleted. The [[StreamingAnn]]
  * contract applied to the composed index (r5 VERDICT stretch #7).
  *
  * Model posture: the PQ codebooks and the IVF centroids are FROZEN
  * metadata, trained offline and passed in — the production pattern for
  * online index maintenance (re-training re-shards every cell; it is a
  * rebuild, not maintenance). Per micro-batch, with B = changed vectors:
  *
  *   1. encode ONLY B with the frozen codebooks (m codegen'd argmins per
  *      vector; resident codes are never re-encoded),
  *   2. B's pre-state rows locate the cells it must leave, its post-state
  *      rows (with their cell column) the cells it enters,
  *   3. the affected CELL rows — and only those — are read at their
  *      pre-batch version, rewritten without B, extended with B's new
  *      (vec, codes) entries, and merged back carrying the batchId —
  *      a redelivered batch replays idempotently
  *      ([[ParquetKeyedTable.merge]]).
  *
  * 100 TB posture: per-batch work is O(|B| × m + affected-cell
  * membership). At real scale a cell's membership is a partition of a
  * hive layout rather than one state row — the maintenance algebra
  * (leave/enter/rewrite-affected-only) is identical; the keyed table
  * keeps the test surface exact. [[search]] is the read path: frozen
  * centroids route each probe to its nprobe cells driver-side
  * (metadata-sized arithmetic, the q42/q99 pattern), ONLY those cells'
  * code rows are read (bucket-pruned point lookups), the ADC shortlist
  * costs m lookups per candidate, and the exact re-rank fetches only the
  * shortlisted raw vectors through the pipeline's keyed state lookup —
  * nothing corpus-sized is scanned at full precision, exactly q99's
  * plan shape against continuously-fresh state.
  */
object StreamingIvfPq {

  private[streaming] def cellSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StructType(Seq(
      StructField("vec_key", StringType),
      StructField("codes", ArrayType(IntegerType))))))))

  private val Name = "ivfpq_index"
  private val Shortlist = 10

  /** The cell store, opened the same way by the writer ([[indexView]])
    * and the readers ([[codesState]], [[search]]). */
  private def cells(spark: SparkSession, stateDir: String) =
    new ParquetKeyedTable(spark, s"$stateDir/$Name-cells")

  /** Continuous IVF-PQ cell maintenance over a CDC embeddings-shaped
    * source (primary-keyed, vector column + cell-assignment column).
    * Sink documents mirror the cell state: (id = cell, n_vectors,
    * members_csv sorted) — observable like every other view. */
  def indexView(
      spark: SparkSession, stateDir: String, model: Pq.Model): ViewDef = {
    val cellTable = cells(spark, stateDir)
    ViewDef(Name, (pre, post, batch, ctx) => {
      val touched = ctx.cache(batch("embeddings").select("key").distinct())

      // cells the batch vectors leave (pre image) and enter (post image;
      // a deleted key has no post row — it only leaves)
      val oldCells = pre.rows("embeddings", touched)
        .select(col("key").as("vec_key"),
          col("label").cast("string").as("cell"))
      val postRows = ctx.cache(post.rows("embeddings", touched)
        .select(col("key").as("vec_key"), col("embedding").as("v"),
          col("label").cast("string").as("cell")))
      // encode ONLY the batch's post vectors with the frozen codebooks
      val newEnc = ctx.cache(Pq.encode(model,
          postRows.select(col("vec_key").as("vec_id"), col("v")))
        .join(postRows.select(col("vec_key"), col("cell")),
          col("vec_id") === col("vec_key"))
        .select(col("vec_key"), col("cell"), col("codes")))

      val affected = oldCells.select("cell").union(newEnc.select("cell"))
        .distinct().withColumnRenamed("cell", "key")
      val sw = IncrementalAgg.swapMembers(cellTable, cellSchema, affected,
        touched, newEnc.withColumnRenamed("cell", "key"), ctx)

      val upserts = sw.post.groupBy(col("key").as("id"))
        .agg(count(lit(1)).as("n_vectors"),
          array_join(array_sort(collect_list("vec_key")), ",")
            .as("members_csv"))
      (upserts, sw.emptied.select(col("key").as("id")))
    })
  }

  /** Current (cell, vec_key, codes) rows of the maintained index —
    * the equality surface the spec pins against a frozen-model encode
    * of the corpus state. */
  def codesState(spark: SparkSession, stateDir: String): DataFrame = {
    val t = cells(spark, stateDir)
    t.snapshotAt(t.version, cellSchema)
      .select(col("key").as("cell"), explode(col("members")).as("m"))
      .select(col("cell"), col("m.vec_key").as("vec_key"),
        col("m.codes").as("codes"))
  }

  /** Routed ANN search against the maintained index — q99's read path
    * over live state. `probes`: (query_id: long, qv: array<double>);
    * `centroids`: the frozen (cell, centroid) routing table (metadata-
    * sized — collected driver-side like q42/q99); `fetchVectors`
    * resolves a single-column `key` frame to (key, `embedding`) rows — pass
    * the pipeline's keyed state lookup so the exact re-rank reads only
    * the shortlisted vectors. Output matches q99: (query_id, rank,
    * neighbor_id, d2), ties (d2 ASC, id ASC). */
  def search(spark: SparkSession, stateDir: String, model: Pq.Model,
      centroids: Seq[(String, Seq[Double])], probes: DataFrame,
      fetchVectors: DataFrame => DataFrame, topK: Int,
      nprobe: Int = 2): DataFrame = {
    val cellTable = cells(spark, stateDir)

    // driver-side routing over the frozen centroid table: euclidean to
    // match how PQ ranks candidates, ties to the smaller cell id — the
    // exact ivfPqSearch rule
    val probeRows = probes.select(col("query_id").cast("long"),
        col("qv").cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val sortedCents = centroids.sortBy(_._1)
    val routed = probeRows.flatMap { case (qid, qd) =>
      sortedCents.map { case (cell, c) =>
        val d2 = qd.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, cell)
      }.sortBy { case (d2, cell) => (d2, cell) }.take(nprobe)
        .map { case (_, cell) => (qid, cell, qd) }
    }.toSeq

    import spark.implicits._
    val routedDf = spark.createDataset(routed)
      .toDF("query_id", "cell", "qv")
    val probesT = routedDf.select(col("query_id"), col("cell"), col("qv"),
      Pq.distanceTable(model, col("qv")).as("dt"))

    // ONLY the probed cells' rows — bucket-pruned point lookups
    val members = cellTable
      .rowsForKeys(cellSchema, routedDf.select(col("cell").as("key")).distinct())
      .select(col("key").as("cell"), explode(col("members")).as("m"))
      .select(col("cell"), col("m.vec_key").as("vec_key"),
        col("m.codes").as("codes"))

    val d2adc = Pq.adcD2(model, col("dt"), col("codes"))
    val short = udaf(new graft.functions.TopKAggregator(topK * Shortlist))
    val shortlisted = members.join(broadcast(probesT), Seq("cell"))
      .filter(col("vec_key") =!= col("query_id").cast("string"))
      .select(col("query_id"), col("vec_key").cast("long").as("nid"),
        (-d2adc).as("score"))
      .groupBy("query_id")
      .agg(short(col("score"), col("nid")).as("top"))

    // exact re-rank: fetch ONLY the shortlisted raw vectors
    val shortIds = shortlisted
      .select(col("query_id"), explode(col("top.id")).as("nid"))
      .select(col("query_id"), col("nid").cast("string").as("vec_key"))
    val vecs = fetchVectors(shortIds.select(col("vec_key").as("key")).distinct())
      .select(col("key").as("vec_key"),
        col("embedding").cast(ArrayType(DoubleType)).as("nv"))
    val qvs = routedDf.select("query_id", "qv").distinct()
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.DotProduct(a, b)
    val topk = udaf(new graft.functions.TopKAggregator(topK))
    shortIds
      .join(broadcast(qvs), "query_id")
      .join(vecs, "vec_key")
      .select(col("query_id"),
        col("vec_key").cast("long").as("neighbor_id"),
        (-(dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("nv")) +
          dot(col("nv"), col("nv")))).as("score"))
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"),
        round(greatest(-col("col.score"), lit(0.0)), 6).as("d2"))
  }
}
