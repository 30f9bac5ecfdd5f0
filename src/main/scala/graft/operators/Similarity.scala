package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.TopKAggregator
import graft.sources.Tables

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float>, label) — approximate-nearest-neighbor family
  * of the LLM-pipeline north star.
  *
  * Three tiers, by scale posture:
  *  - q40 brute-force cosine top-k: the exactness baseline. Query side is
  *    broadcast (a handful of probe vectors), candidate side streams —
  *    O(N·Q) dot products with NO shuffle of the candidate set; top-k via
  *    a bounded custom Aggregator (map-side combine ships k rows per
  *    partition, not N).
  *  - q41 random-hyperplane LSH: 4 bands × 4 sign bits — candidates share
  *    a band bucket with the query, then exact cosine within candidates.
  *    Work ∝ bucket collisions.
  *  - q42 IVF-style partition search: per-label centroids (the testdata's
  *    `label` is the cluster assignment a k-means step would produce),
  *    query routes to its nearest centroid, exact search within that
  *    partition only — against a TRAIN-ONCE on-disk index (cells
  *    hive-partitioned by assignment + a k×dim centroid table), so each
  *    search is a partition-pruned scan of the probed cells, never a
  *    corpus pass.
  */
object Similarity {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Deterministic left-to-right double-precision dot product — the same
    * fold order the DuckDB oracle uses, so scores hash-match. Backed by
    * the codegen'd [[graft.functions.DotProduct]] expression (the
    * declarative aggregate/zip_with form runs interpreted per element and
    * dominated candidate verification at millions of pairs). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The deterministic hyperplane family the sign-LSH tiers share
    * (q41/q24 batch, [[graft.streaming.StreamingAnn]] incremental):
    * 16 planes of 64 dims, consumed as 4 bands × 4 sign bits. Entries
    * are MD5-DERIVED (the q134/q141 signature posture): coordinate
    * (j, d) of seed s is `(int(md5("s|j|d")[0:8]) % 2001 − 1000)/1000`
    * — uniform on [−1, 1] by exact integer arithmetic, so the planes
    * (and therefore the BANDING DECISION, not just the verified
    * results) are replayed bit-identically by the DuckDB oracle, which
    * is what moved q41/q24 off the no-oracle list in r11. A seeded-RNG
    * Gaussian family (the previous form) is statistically nicer but
    * exists only inside one JVM; for 64-dim sign-LSH the coordinate
    * distribution is immaterial — only the induced random directions
    * matter, and uniform cubes are the standard deterministic
    * stand-in. Same constant everywhere keeps every executor — and
    * every later BATCH of a streaming index — hashing with identical
    * planes. */
  def hyperplanes(seed: Int): Seq[Seq[Double]] =
    planeTables.getOrElseUpdate(seed,
      (0 until 16).map { j =>
        (0 until 64).map { d =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$seed|$j|$d".getBytes("UTF-8"))
          val h = java.lang.Long.parseLong(
            md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
          (h % 2001 - 1000) / 1000.0
        }
      })

  /** Per-seed plane tables are deterministic constants — computing one
    * runs 1024 MessageDigest+hex rounds, and callers (q24/q41 builds,
    * every streaming ANN batch) re-ask per invocation, so cache them. */
  private val planeTables =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[Seq[Double]]]

  /** The oracle's replay of [[hyperplanes]]+[[signBands]] for `seed`:
    * CTEs `pl(j, pv)` (the 16 planes as DOUBLE[]) and `sb(vec_id,
    * band_id, bh)` over CTE `e(vec_id, v)`, with the same band-hash
    * fold (bit j of a band weighted 2^(3−j%4)) and the same
    * left-to-right double dot product deciding each sign. */
  private def signBandsSql(seed: Int): String =
    s"""pl AS MATERIALIZED (SELECT CAST(u.j AS INT) AS j,
       |    list_transform(range(64), d ->
       |      (CAST(('0x' || substr(md5('$seed|' || CAST(u.j AS VARCHAR)
       |         || '|' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
       |       % 2001 - 1000) / 1000.0) AS pv
       |  FROM unnest(range(16)) AS u(j)),
       |sb AS MATERIALIZED (SELECT e.vec_id,
       |    CAST(pl.j // 4 AS INT) AS band_id,
       |    CAST(sum(CASE WHEN ${dSql("e.v", "pl.pv")} > 0
       |      THEN 1 << CAST(3 - pl.j % 4 AS INT) ELSE 0 END) AS INT) AS bh
       |  FROM e, pl GROUP BY 1, 2)"""
      // single-line: this fragment interpolates into templates that run
      // their OWN stripMargin afterwards, which would eat the leading
      // pipe of any continuation line starting with `||`
      .stripMargin.replace("\n", " ")

  /** `array<struct<band_id,bh>>`: 4 bands of 4 sign bits for vector `v`
    * against `planes`. The per-band fold runs over 4 elements only, so the
    * interpreted-HOF cost ceiling documented in
    * [[graft.functions.DotProduct]] doesn't bite — the O(dim) inner work
    * is the codegen'd dot product. */
  def signBands(v: Column, planes: Seq[Seq[Double]]): Column = {
    val planeCol = typedlit(planes)
    transform(sequence(lit(0), lit(3)), band =>
      struct(band.as("band_id"),
        aggregate(sequence(lit(0), lit(3)), lit(0),
          (acc, j) => {
            val p = element_at(planeCol, band * 4 + j + 1)
            acc * 2 + when(dot(v, p) > 0, 1).otherwise(0)
          }).as("bh")))
  }

  /** Probe set: the first `nq` vec_ids — deterministic, matches the
    * oracle's `vec_id < nq`. */
  private val NQ = 5
  private val K = 5

  private def topkWithin(scored: DataFrame): DataFrame = {
    val topk = udaf(new TopKAggregator(K))
    scored
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"),
        round(col("col.score"), 6).as("score"))
  }

  // ——— power-iteration machinery (q114 top component, q116 deflated
  // second component) — decimal-ledger FP discipline, see q114's doc ———

  private type JBD = java.math.BigDecimal
  private def r6d(x: Double): JBD =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)

  /** One distributed XᵀX·v pass: per-row dot against the iterate,
    * per-row contributions rounded to 12 decimals, exact per-dimension
    * decimal sums re-rounded to 6.
    *
    * r14 (the q129 move): each pass was a fresh DataFrame plan with the
    * iterate inlined as a literal — every power/deflation round paid
    * driver planning plus a cold whole-stage-codegen compile plus a
    * (pos, contrib) exchange. The pass now runs through ONE reusable
    * compiled mapPartitions over the cached vectors with BIT-IDENTICAL
    * arithmetic: the dot is DotProduct's left-to-right primitive loop;
    * round(d·x, 12) → decimal(38,12) replays Spark's two steps as
    * [[graft.operators.TextAnalysis.logregGradient]] does:
    * Round-on-double (`BigDecimal.valueOf → setScale(12, HALF_UP)`,
    * back to a double) then Cast (`valueOf → setScale(12, HALF_UP)`
    * again); the exact decimal partials merge order-free; and the
    * per-dimension tail replays
    * `round(sum.cast(double), 6).cast(decimal(18,6))` exactly
    * (valueOf/setScale twice). XtxPassSpec proves value equality
    * against the former plan on random vectors across chained rounds.
    * A pass = one cache-read job + a 64-value collect — no exchange,
    * no per-round planning or codegen. */
  private def xtxPass(e: DataFrame, vec: IndexedSeq[JBD]): IndexedSeq[JBD] =
    xtxPassRows(e.select(col("v")).queryExecution.toRdd, vec)

  private[operators] def xtxPassRows(
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      vec: IndexedSeq[JBD]): IndexedSeq[JBD] = {
    import java.math.{BigDecimal => B, RoundingMode => RM}
    val wv = vec.map(_.doubleValue).toArray
    val partials = rows.mapPartitions { it =>
      val acc = Array.fill(64)(B.ZERO)
      while (it.hasNext) {
        val arr = it.next().getArray(0)
        // a non-64-dim row contributed nothing in the plan form (the
        // dot's length-mismatch NULL poisoned every contribution)
        if (arr.numElements() == 64) {
          var d = 0.0
          var i = 0
          while (i < 64) { d += arr.getDouble(i) * wv(i); i += 1 }
          i = 0
          while (i < 64) {
            val c = B.valueOf(d * arr.getDouble(i))
              .setScale(12, RM.HALF_UP).doubleValue()
            acc(i) = acc(i).add(B.valueOf(c).setScale(12, RM.HALF_UP))
            i += 1
          }
        }
      }
      Iterator.single(acc)
    }.collect()
    val sums = Array.fill(64)(B.ZERO)
    partials.foreach { p =>
      var i = 0
      while (i < 64) { sums(i) = sums(i).add(p(i)); i += 1 }
    }
    (0 until 64).map { p =>
      val r1 = B.valueOf(sums(p).doubleValue)
        .setScale(6, RM.HALF_UP).doubleValue()
      B.valueOf(r1).setScale(6, RM.HALF_UP)
    }
  }

  /** Exact-decimal norm of a 6-rounded component vector → double. */
  private def normOf(ru: IndexedSeq[JBD]): Double =
    math.sqrt(ru.map(x => x.multiply(x)).reduce(_.add(_)).doubleValue)

  private val firstComponents = scala.collection.concurrent.TrieMap
    .empty[(String, String), (IndexedSeq[JBD], Double)]

  /** The converged (v₁, ‖u₅‖) of the 5-round power iteration over
    * `dir`'s embeddings — 64 doubles + a scalar of driver metadata, so
    * it rides the [[graft.BuildMetrics.memo]] rails like the other
    * train-once artifacts (r11 VERDICT #2: q116 was re-paying q114's
    * five corpus passes to recompute the identical iterate; at 100×
    * scale that redundant half is five full corpus scans). */
  private def firstComponent(s: SparkSession, dir: String,
      e: => DataFrame): (IndexedSeq[JBD], Double) =
    graft.BuildMetrics.memo(firstComponents,
        (graft.SessionMemo.key(s), dir), "power_v1") {
      var vec: IndexedSeq[JBD] = IndexedSeq.fill(64)(r6d(0.125))
      var norm = 0.0
      val frame = e
      for (_ <- 1 to 5) {
        val ru = xtxPass(frame, vec)
        norm = normOf(ru)
        vec = ru.map(x => r6d(x.doubleValue / norm))
      }
      (vec, norm)
    }

  private def dSql(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]))"

  /** Oracle CTEs: embeddings as doubles, the uniform start, and power
    * rounds `lo..hi` named c/u/n/v$t chained from v${lo-1}. */
  private def powerRoundsSql(lo: Int, hi: Int): String =
    (lo to hi).map { t =>
      s"""c$t AS MATERIALIZED (SELECT generate_subscripts(dd.v, 1) AS pos,
         |    CAST(round(dd.d * unnest(dd.v), 12) AS DECIMAL(38,12)) AS contrib
         |  FROM (SELECT e.v, ${dSql("e.v", s"v${t - 1}.vec")} AS d
         |        FROM e, v${t - 1}) dd),
         |u$t AS MATERIALIZED (SELECT pos,
         |    CAST(round(CAST(sum(contrib) AS DOUBLE), 6) AS DECIMAL(18,6)) AS u
         |  FROM c$t GROUP BY pos),
         |n$t AS MATERIALIZED (SELECT sqrt(CAST(sum(u * u) AS DOUBLE)) AS n
         |  FROM u$t),
         |v$t AS MATERIALIZED (SELECT list(round(CAST(u.u AS DOUBLE) / n.n, 6)
         |    ORDER BY u.pos) AS vec FROM u$t u, n$t n)""".stripMargin
    }.mkString(",\n")

  /** e + v0 + rounds 1..5 — the shared prefix of both oracles. */
  private def powerCtes5: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |v0 AS MATERIALIZED (SELECT list_transform(range(64), i -> 0.125) AS vec),
       |${powerRoundsSql(1, 5)}""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    /** Embedding-cluster diagnostics: per-label centroid, then each
      * vector's Euclidean distance to its cluster centroid — count /
      * mean / max per label. The balance-and-compactness report a
      * clustering or IVF-training step is judged by. Shape at scale: the
      * centroid pass and the distance pass each shuffle (label, pos,
      * value) triples — constant-width rows, 64× the vector count but
      * never the payload-bytes of a document corpus; at extreme scale the
      * second pass would broadcast the (tiny) centroid set and compute
      * distances with an array expression instead. Both engines sum the
      * same 64 squared deltas per vector and round after sqrt, so the
      * gate hash-matches. */
    QueryDef("q57_cluster_diagnostics",
      """WITH e AS (SELECT label, vec_id, unnest(embedding) AS v,
        |  generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |c AS (SELECT label, pos, avg(v) AS cv FROM e GROUP BY 1, 2),
        |d AS (SELECT e.label, e.vec_id, sum((e.v - c.cv) * (e.v - c.cv)) AS sq
        |      FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
        |      GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |round(avg(sqrt(sq)), 6) AS avg_dist,
        |round(max(sqrt(sq)), 6) AS max_dist
        |FROM d GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
      val c = e.groupBy("label", "pos").agg(avg("v").as("cv"))
      val d = e.join(broadcast(c), Seq("label", "pos"))
        .groupBy("label", "vec_id")
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("sq"))
      d.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(sqrt(col("sq"))), 6).as("avg_dist"),
          round(max(sqrt(col("sq"))), 6).as("max_dist"))
    },

    /** Exact cosine top-5 for 5 probe vectors. Oracle: same rounded score,
      * same (score DESC, vec_id ASC) tie order. */
    QueryDef("q40_cosine_topk",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ROUND(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1]*c.v[i+1])) /
         |    (sqrt(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1]*q.v[i+1]))) *
         |     sqrt(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*c.v[i+1])))), 6) AS score
         |  FROM e q JOIN e c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id)
         |SELECT query_id, rank, neighbor_id, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |WHERE rank <= $K""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("score"))
      topkWithin(scored)
    },

    /** Random-hyperplane LSH ANN: 16 deterministic hyperplanes as 4 bands
      * of 4 sign bits; a candidate that matches the query in ANY band is
      * scored exactly. Oracle-checked since r11 (no-oracle through r10):
      * the planes are md5-derived ([[hyperplanes]]), so the oracle
      * replays the ENTIRE approximate computation — plane values, sign
      * bits, band hashes, bucket join, exact rescoring, (score DESC, id)
      * top-k — bit-identically; the recall-vs-exact property stays in
      * SimilaritySpec. */
    QueryDef("q41_ann_lsh_topk",
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |${signBandsSql(7)},
         |qb AS (SELECT vec_id AS query_id, band_id, bh FROM sb
         |  WHERE vec_id < $NQ),
         |cand AS (SELECT DISTINCT qb.query_id, sb.vec_id AS neighbor_id
         |  FROM sb JOIN qb ON sb.band_id = qb.band_id AND sb.bh = qb.bh
         |  WHERE sb.vec_id <> qb.query_id),
         |sc AS (SELECT c.query_id, c.neighbor_id,
         |  ROUND(${dSql("q.v", "n.v")} /
         |    (sqrt(${dSql("q.v", "q.v")}) * sqrt(${dSql("n.v", "n.v")})), 6)
         |    AS score
         |  FROM cand c JOIN e q ON q.vec_id = c.query_id
         |    JOIN e n ON n.vec_id = c.neighbor_id)
         |SELECT query_id, rank, neighbor_id, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM sc)
         |WHERE rank <= $K""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").as("v"))
      // 4 bands × 4 sign bits per vector
      val sig = e.withColumn("bands", signBands(col("v"), hyperplanes(7)))
      val buckets = sig.select(col("vec_id"), col("v"),
        explode(col("bands")).as("b"))
        .select(col("vec_id"), col("v"), col("b.band_id"), col("b.bh"))

      val q = buckets.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("band_id").as("q_band"), col("bh").as("q_bh"))
      val candidates = buckets.join(broadcast(q),
        col("band_id") === col("q_band") && col("bh") === col("q_bh") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qv"),
          col("vec_id").as("neighbor_id"), col("v")).distinct()

      val scored = candidates.select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("v")), 6).as("score"))
      topkWithin(scored)
    },

    /** Embedding-cosine near-duplicate pairs (dedup-family member over
      * vectors): sign-LSH bucket candidates → exact cosine verify ≥ τ.
      * Approximate by nature (recall bounded by bucket probability at τ;
      * this corpus is geometrically near-random, see SimilaritySpec) —
      * and oracle-checked since r11 because the md5-derived planes let
      * DuckDB replay the banding decision itself (it goes band-join
      * like the engine, not all-pairs — same candidates, same verified
      * set). At 100 TB the bucket join IS the point: no n² pair scan. */
    QueryDef("q24_embedding_neardup",
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |${signBandsSql(11)},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sb a JOIN sb b ON a.band_id = b.band_id AND a.bh = b.bh
         |  WHERE a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  ROUND(${dSql("x.v", "y.v")} /
         |    (sqrt(${dSql("x.v", "x.v")}) * sqrt(${dSql("y.v", "y.v")})), 6)
         |    AS score
         |FROM cand c JOIN e x ON x.vec_id = c.vec_a
         |  JOIN e y ON y.vec_id = c.vec_b
         |WHERE ROUND(${dSql("x.v", "y.v")} /
         |    (sqrt(${dSql("x.v", "x.v")}) * sqrt(${dSql("y.v", "y.v")})), 6)
         |  >= 0.3""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").as("v"))
      val sig = e.withColumn("bands", signBands(col("v"), hyperplanes(11)))
      val buckets = sig.select(col("vec_id"), col("v"),
        explode(col("bands")).as("b"))
        .select(col("vec_id"), col("v"), col("b.band_id"), col("b.bh"))
      // candidates carry IDS ONLY through the join+distinct — shuffling
      // and hash-deduping rows that embed the float arrays costs ~6x
      // (measured); vectors join back once per surviving pair
      val slim = buckets.select(col("vec_id"), col("band_id"), col("bh"))
      val l = slim.as("l")
      val r = slim.as("r")
      val candidates = l.join(r,
        col("l.band_id") === col("r.band_id") &&
          col("l.bh") === col("r.bh") &&
          col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
        .distinct()
      // norms once per VECTOR, not per pair — the pair-side work is one
      // dot product + one division
      val withNorm = e.withColumn("norm", sqrt(dot(col("v"), col("v"))))
      val a = withNorm.select(col("vec_id").as("vec_a"),
        col("v").as("va"), col("norm").as("na"))
      val b = withNorm.select(col("vec_id").as("vec_b"),
        col("v").as("vb"), col("norm").as("nb"))
      candidates.join(a, "vec_a").join(b, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("score"))
        .filter(col("score") >= 0.3)
    },

    /** Exact embedding dedup: group by the full vector (identical floats),
      * emit the surviving id and multiplicity — vector-side q20. */
    QueryDef("q25_embedding_dedup",
      "SELECT min(vec_id) AS keep_id, count(*) AS dup_cnt " +
        "FROM embeddings GROUP BY embedding") { (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy(col("embedding"))
        .agg(min("vec_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .select("keep_id", "dup_cnt")
    },

    /** IVF-style search against the TRAIN-ONCE index of [[ivfIndexPath]]:
      * load the k×dim centroid table (model metadata, not corpus), route
      * each probe to its nearest centroid ON THE DRIVER (an NQ×k×dim
      * double fold — probes are the query side, inherently driver-known),
      * then exact top-k inside the probed cells only, served by a
      * PARTITION-PRUNED scan of the hive layout. The search plan touches
      * no corpus-wide pass: no posexplode, no centroid recompute — the
      * 100 TB shape where answering 5 probes reads 5 cell directories
      * (r4 VERDICT #4: the previous inline form shuffled corpus×dims
      * rows per query). Routing arithmetic replicates the codegen'd
      * DotProduct fold (left-to-right double accumulation, floats
      * widened), so routed cells — and therefore results — are identical
      * to the inline form's. nprobe=1; ties route to the smaller label.
      *
      * Oracle-checked since r6 (no-oracle through r5): the cells are the
      * GIVEN label column and the centroids are per-label means, so the
      * whole search is deterministic — per-label avg centroids, cosine
      * routing (score DESC, label ASC — the driver fold's strict `>`
      * keeps the first maximum), in-cell cosine top-k like q40. */
    QueryDef("q42_ivf_topk", {
      def d(a: String, b: String): String =
        s"list_sum(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]))"
      def cos(a: String, b: String): String =
        s"${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)}))"
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, unnest(v) AS val,
         |  generate_subscripts(v, 1) AS pos FROM e),
         |cents AS (SELECT label,
         |    list_transform(range(64), p -> avgs[CAST(p+1 AS INT)]) AS c FROM (
         |  SELECT label, array_agg(m ORDER BY pos) AS avgs FROM (
         |    SELECT label, pos, avg(val) AS m FROM ex GROUP BY 1, 2)
         |  GROUP BY label)),
         |pr AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQ),
         |route AS (SELECT query_id, label FROM (
         |  SELECT pr.query_id, cents.label,
         |    row_number() OVER (PARTITION BY pr.query_id ORDER BY
         |      ROUND(${cos("pr.qv", "cents.c")}, 6) DESC, cents.label ASC) AS rk
         |  FROM pr, cents) WHERE rk = 1),
         |sc AS (SELECT r.query_id, e.vec_id AS neighbor_id,
         |    ROUND(${cos("pr.qv", "e.v")}, 6) AS score
         |  FROM route r JOIN pr ON pr.query_id = r.query_id
         |  JOIN e ON e.label = r.label AND e.vec_id <> r.query_id)
         |SELECT query_id, rank, neighbor_id, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM sc)
         |WHERE rank <= $K""".stripMargin.replace("\n", " ")
    }) { (s, dir) =>
      val idx = ivfIndexPath(s, dir)
      // centroids sorted by label so ties resolve to the smaller label
      val cents = s.read.parquet(s"$idx/centroids")
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
      val probes = t(s, dir, "embeddings").filter(col("vec_id") < NQ)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      def dotD(a: IndexedSeq[Double], b: Seq[Double]): Double = {
        var acc = 0.0
        var i = 0
        val bi = b.toIndexedSeq
        while (i < a.length) { acc += a(i) * bi(i); i += 1 }
        acc
      }
      val routed = probes.map { case (qid, qv) =>
        val qd = qv.map(_.toDouble).toIndexedSeq
        val qn = math.sqrt(dotD(qd, qd))
        // routing score rounds to 6 on BOTH engine and oracle sides
        // before the argmax: each engine computes its own per-label
        // centroids (partial-agg avg vs sequential avg), and a last-ulp
        // centroid difference must not flip cell routing on a near-tie
        def r6(x: Double): Double = new java.math.BigDecimal(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        // strict > keeps the FIRST (smallest) label on ties — the
        // max_by(struct(cscore, -c_label)) rule of the inline form
        val best = cents.map { case (lbl, c) =>
          (r6(dotD(qd, c) / (qn * math.sqrt(dotD(c.toIndexedSeq, c)))), lbl)
        }.reduceLeft((a, b) => if (b._1 > a._1) b else a)._2
        (qid, best, qv)
      }
      import s.implicits._
      val routedDf = s.createDataset(routed.toSeq)
        .toDF("query_id", "probe_label", "qv")
      // partition-pruned: only the probed cells' directories are read
      val cells = s.read.parquet(s"$idx/cells")
        .filter(col("label").isin(routed.map(_._2).distinct.toSeq: _*))
      val scored = cells.join(broadcast(routedDf),
        col("label") === col("probe_label") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine(col("qv"), col("embedding")), 6).as("score"))
      topkWithin(scored)
    },

    /** Top principal direction of the embedding corpus by distributed
      * power iteration (von Mises): v ← normalize(XᵀXv), 5 rounds from
      * the uniform unit start — the PCA-direction diagnostic an
      * embedding pipeline reads before whitening or indexing decisions.
      * Shape at 100 TB: each round is ONE corpus pass — a per-row dot
      * against the broadcast iterate, then a 64-key partial-aggregated
      * per-dimension sum — and the iterate itself is 64 doubles of
      * driver metadata (the Lloyd-loop pattern; no vector ever leaves
      * the executors, no corpus re-read between dims). Cross-engine FP
      * discipline (the q111 ledger applied to linear algebra): per-row
      * contributions round to 12 decimals and sum as DECIMAL(38,12)
      * (order-independent), per-dim sums re-round to 6, the norm is the
      * exact decimal Σ of the 6-rounded components' squares, and each
      * new iterate rounds to 6 — so both engines iterate on IDENTICAL
      * values and the only shared double ops are sqrt/divide on equal
      * inputs. Output: (pos, loading, eigenvalue), eigenvalue = ‖u₅‖. */
    QueryDef("q114_top_component",
      s"""$powerCtes5
         |SELECT u.pos AS pos, round(CAST(u.u AS DOUBLE) / n.n, 6) AS loading,
         |  round(n.n, 6) AS eigenvalue
         |FROM u5 u, n5 n""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val (vec, norm) = firstComponent(s, dir,
        graft.CacheScope.persist(t(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))))
      import s.implicits._
      val ev = r6d(norm).doubleValue
      (0 until 64).map(p => (p + 1, vec(p).doubleValue, ev))
        .toDF("pos", "loading", "eigenvalue")
    },

    /** Second principal direction by DEFLATION: rerun the power
      * iteration with the rank-one-deflated operator
      * u = XᵀXw − λ₁·(v₁·w)·v₁, where (v₁, λ₁) are exactly q114's
      * 6-rounded outputs — the classic Hotelling step, showing the
      * iteration machinery composes beyond one component. Same
      * one-pass-per-round corpus shape as q114 (the deflation
      * correction is pure driver arithmetic on the 64-dim iterate,
      * never a corpus-side operator); same decimal ledger, with the
      * correction computed as the FIXED-ORDER double product
      * (λ₁·dp)·v₁ⱼ subtracted from the 6-rounded pass output and
      * re-rounded, so both engines see identical iterates. Output:
      * (pos, loading, eigenvalue), eigenvalue = ‖deflated u₁₀‖ ≈ λ₂. */
    QueryDef("q116_second_component", {
      val defl = (6 to 10).map { t =>
        val prev = if (t == 6) "v0" else s"w${t - 1}"
        s"""cc$t AS MATERIALIZED (SELECT generate_subscripts(dd.v, 1) AS pos,
           |    CAST(round(dd.d * unnest(dd.v), 12) AS DECIMAL(38,12)) AS contrib
           |  FROM (SELECT e.v, ${dSql("e.v", s"$prev.vec")} AS d
           |        FROM e, $prev) dd),
           |uu$t AS MATERIALIZED (SELECT pos,
           |    CAST(round(CAST(sum(contrib) AS DOUBLE), 6) AS DECIMAL(18,6)) AS u
           |  FROM cc$t GROUP BY pos),
           |dp$t AS MATERIALIZED (SELECT ${dSql("v5.vec", s"$prev.vec")} AS dp
           |  FROM v5, $prev),
           |aj$t AS MATERIALIZED (SELECT u.pos,
           |    CAST(round(CAST(u.u AS DOUBLE) -
           |      l1.l * dp$t.dp * v5.vec[u.pos], 6) AS DECIMAL(18,6)) AS u
           |  FROM uu$t u, l1, dp$t, v5),
           |nn$t AS MATERIALIZED (SELECT sqrt(CAST(sum(u * u) AS DOUBLE)) AS n
           |  FROM aj$t),
           |w$t AS MATERIALIZED (SELECT list(round(CAST(u.u AS DOUBLE) / n.n, 6)
           |    ORDER BY u.pos) AS vec FROM aj$t u, nn$t n)""".stripMargin
      }.mkString(",\n")
      s"""$powerCtes5,
         |l1 AS MATERIALIZED (SELECT round(n.n, 6) AS l FROM n5 n),
         |$defl
         |SELECT u.pos AS pos, round(CAST(u.u AS DOUBLE) / n.n, 6) AS loading,
         |  round(n.n, 6) AS eigenvalue
         |FROM aj10 u, nn10 n""".stripMargin.replace("\n", " ")
    }) { (s, dir) =>
      val e = graft.CacheScope.persist(t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")))
      // first component, exactly as q114 computes it — shared via the
      // power_v1 memo, so whichever of q114/q116 runs first pays the
      // five corpus passes and the other reads 64 doubles
      val (v1, n1) = firstComponent(s, dir, e)
      val l1 = r6d(n1).doubleValue
      // deflated iteration from the same uniform start
      var w: IndexedSeq[JBD] = IndexedSeq.fill(64)(r6d(0.125))
      var n2 = 0.0
      var adj: IndexedSeq[JBD] = w
      for (_ <- 1 to 5) {
        val ru = xtxPass(e, w)
        val dp = (0 until 64).map(j =>
          v1(j).doubleValue * w(j).doubleValue).sum
        adj = (0 until 64).map(j => r6d(
          ru(j).doubleValue - l1 * dp * v1(j).doubleValue))
        n2 = normOf(adj)
        w = adj.map(x => r6d(x.doubleValue / n2))
      }
      import s.implicits._
      val ev = r6d(n2).doubleValue
      (0 until 64).map(p => (p + 1, w(p).doubleValue, ev))
        .toDF("pos", "loading", "eigenvalue")
    },

    /** Greedy k-center CORESET selection (Sener & Savarese ICLR 2018 —
      * the coreset approach to data selection; the classic 2-approximation
      * of Gonzalez 1985): pick the lowest-id vector, then 7 more rounds of
      * "the vector farthest from every selected center", emitting the
      * selection order and each pick's distance-to-selected — the
      * diverse-subset primitive of data pruning (a budgeted corpus keeps
      * the coreset; `radius` is the covering-radius certificate that the
      * DROPPED data sits within √radius of a kept representative).
      *
      * Shape at 100 TB: k bounded corpus passes. The selected set is
      * driver metadata (k × 64 doubles — the power-iteration posture);
      * each round is one narrow map (min over ≤ k literal centers via the
      * codegen'd [[graft.functions.SqDist]]) and a top-1 argmax that
      * plans as TakeOrderedAndProject (per-partition top-1 partials, 32
      * rows to the driver — never a global sort). FP discipline: the
      * distance is the element-wise Σ(vᵢ−cᵢ)² fold in the SAME order as
      * the oracle's list_sum (the expanded ‖v‖²−2⟨v,c⟩+‖c‖² identity
      * rounds differently in the last ulp), and the min-distance is
      * rounded to 6 BEFORE the (md DESC, vec_id) rank on both engines —
      * the q42/q99 argmax discipline, so a last-ulp near-tie cannot flip
      * the selection. The oracle unrolls all 8 rounds as chained
      * MATERIALIZED CTEs (the q43/q97 trainer pattern); least() over
      * per-round rounded distances equals the engine's rounded min
      * because rounding is monotone. */
    QueryDef("q124_kcenter_coreset", {
      def dist(p: String, c: String) =
        s"round(list_sum(list_transform(range(64), j -> " +
          s"($p.v[j+1] - $c.v[j+1]) * ($p.v[j+1] - $c.v[j+1]))), 6)"
      val steps = (2 to 8).map { r =>
        val prev = s"m${r - 1}"
        s"""s$r AS MATERIALIZED (SELECT vec_id, v, md FROM $prev
           |  ORDER BY md DESC, vec_id LIMIT 1),
           |m$r AS MATERIALIZED (SELECT p.vec_id, p.v,
           |  least(p.md, ${dist("p", "c")}) AS md FROM $prev p, s$r c)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (SELECT p.vec_id, p.v, ${dist("p", "c")} AS md
         |  FROM e p, s1 c),
         |$steps
         |SELECT 1 AS sel_round, vec_id, CAST(0.0 AS DOUBLE) AS radius FROM s1
         |${(2 to 8).map(r =>
           s"UNION ALL SELECT $r AS sel_round, vec_id, md AS radius FROM s$r")
          .mkString(" ")}""".stripMargin.replace("\n", " ")
    }) { (s, dir) =>
      val e = graft.CacheScope.persist(t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")))
      def d2(c: Seq[Double]): Column =
        graft.functions.SqDist(col("v"), typedlit(c))
      val first = e.orderBy("vec_id").select("vec_id", "v").head()
      val centers = scala.collection.mutable.Buffer((1, first.getLong(0), 0.0))
      val centerVecs = scala.collection.mutable.Buffer[Seq[Double]](
        first.getSeq[Double](1).toIndexedSeq)
      for (r <- 2 to 8) {
        val md = round(centerVecs.map(d2).reduce(least(_, _)), 6)
        val far = e.select(col("vec_id"), col("v"), md.as("md"))
          .orderBy(col("md").desc, col("vec_id")).head()
        centers += ((r, far.getLong(0), far.getDouble(2)))
        centerVecs += far.getSeq[Double](1).toIndexedSeq
      }
      import s.implicits._
      centers.toSeq.toDF("sel_round", "vec_id", "radius")
    },

    /** Johnson-Lindenstrauss random projection 64 → 16 dims with a
      * DETERMINISTIC Rademacher (±1) matrix — the dimensionality-
      * reduction primitive under every cheap-filter ANN layout (project
      * once, candidate-filter in 16 dims at 1/4 the bytes and FLOPs,
      * exact re-rank in 64 — the sign-LSH of q41 is the 1-bit extreme of
      * the same idea). Sign(i,j) comes from md5("i|j") parity, so the
      * matrix is plan-time constant, reproducible cross-engine and
      * cross-run, and never stored: at 100 TB the "model" is 16 strings
      * of metadata, the projection is one narrow codegen'd map per row
      * ([[graft.functions.DotProduct]] against 16 literal sign rows —
      * no shuffle, no state, no UDF), and the output is 4× smaller than
      * the input, which is the point. The oracle replays the same md5
      * parity matrix and the same fixed-order double dot (the q114
      * cross-engine contract: sequential summation on identical inputs),
      * rounded once to 6. */
    QueryDef("q127_random_projection",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sg AS (SELECT CAST(u.j AS INT) AS pos, list_transform(range(1, 65),
        |    i -> CASE WHEN CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' ||
        |      CAST(u.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END) AS sgn
        |  FROM unnest(range(1, 17)) AS u(j))
        |SELECT e.vec_id, sg.pos,
        |  round(list_sum(list_transform(range(len(e.v)),
        |    i -> e.v[i+1] * sg.sgn[i+1])), 6) AS coord
        |FROM e, sg""".stripMargin.replace("\n", " ")) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"),
          explode(sequence(lit(1), lit(16))).as("pos"))
        .select(col("vec_id"), col("pos"),
          jlCoord(col("v"), col("pos")).as("coord"))
    },

    /** Embedding-space decontamination: every corpus vector scored
      * against the full HELD-OUT benchmark set (vec_id % 29 = 0 — the
      * deterministic stand-in for an eval suite's embedding table) by
      * exact cosine; reports the nearest benchmark neighbor, its
      * similarity, and how many benchmark vectors sit above the
      * contamination threshold. This is the semantic tier of the
      * decontamination ladder — q26/q87 catch verbatim gram overlap,
      * q100 catches lexical paraphrase, and THIS tier catches
      * embedding-space leakage (translations, heavy rewrites) that
      * shares no surface text at all — the eval-contamination
      * methodology of the Phi and GPT-4 technical reports.
      *
      * Shape at 100 TB: the benchmark side is BOUNDED (eval suites are
      * thousands of items, never corpus-scale), so it broadcasts and the
      * corpus makes ONE narrow pass — n·|benchmark| codegen'd
      * [[graft.functions.DotProduct]]s with no shuffle before the
      * per-vector agg; the argmax is a lexicographic struct max
      * (map-side combinable), never a window over the corpus. Past the
      * benchmark size where brute force pays, the q42/q99 IVF route
      * prefilters candidates — composable, not needed for exactness
      * here. Ties on the ROUNDED score break to the smallest benchmark
      * id in both engines (max over (score, −id)); the 0.4 threshold is
      * calibrated to this geometrically-near-random corpus (max
      * cross-split cosine ≈ 0.48). */
    QueryDef("q140_embedding_decon",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |h AS (SELECT vec_id, v FROM e WHERE vec_id % 29 = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 29 <> 0),
        |s AS (SELECT c.vec_id AS vec_id, h.vec_id AS hold_id,
        |    round(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*h.v[i+1])) /
        |      (sqrt(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*c.v[i+1]))) *
        |       sqrt(list_sum(list_transform(range(len(h.v)), i -> h.v[i+1]*h.v[i+1])))), 6) AS cos
        |  FROM c, h),
        |a AS (SELECT vec_id,
        |    max(struct_pack(c := cos, n := -hold_id)) AS m,
        |    count(*) FILTER (WHERE cos >= 0.4) AS n_near
        |  FROM s GROUP BY 1)
        |SELECT vec_id, -(m.n) AS nearest_holdout, (m.c) AS max_cos,
        |  n_near, n_near > 0 AS contaminated
        |FROM a""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val h = e.filter(pmod(col("vec_id"), lit(29)) === 0)
        .select(col("vec_id").as("hold_id"), col("embedding").as("hv"))
      val c = e.filter(pmod(col("vec_id"), lit(29)) =!= 0)
        .select(col("vec_id"), col("embedding").as("cv"))
      c.crossJoin(broadcast(h))
        .select(col("vec_id"), col("hold_id"),
          round(cosine(col("cv"), col("hv")), 6).as("cos"))
        .groupBy("vec_id")
        .agg(max(struct(col("cos").as("c"), (-col("hold_id")).as("n")))
            .as("m"),
          count(when(col("cos") >= 0.4, lit(1))).as("n_near"))
        .select(col("vec_id"), (-col("m.n")).as("nearest_holdout"),
          col("m.c").as("max_cos"), col("n_near"),
          (col("n_near") > 0).as("contaminated"))
    }
  )

  /** q127's deterministic Rademacher matrix (md5("i|j") parity), shared
    * with the streaming projection view — plan-time constant, never
    * stored. */
  private[graft] lazy val jlSigns: Seq[Seq[Double]] = (1 to 16).map { j =>
    (1 to 64).map { i =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$i|$j")
      if (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2 == 0) 1.0
      else -1.0
    }
  }

  /** Projected coordinate `pos` (1-based) of double-vector `v` — the
    * q127 arithmetic (fixed-order dot against the literal sign row,
    * rounded once to 6) as a reusable column. */
  private[graft] def jlCoord(v: org.apache.spark.sql.Column,
      pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(graft.functions.DotProduct(
      v, element_at(typedlit(jlSigns), pos)), 6)

  /** Session-scoped train-once IVF index for q42 (the [[KMeans.Model.save]]
    * posture applied to the label-partitioned corpus): one build pass
    * writes (a) a k×dim per-cell centroid table and (b) the corpus
    * hive-partitioned by cell assignment — after which every search is
    * metadata-load + pruned scan. The posexplode centroid pass over the
    * corpus happens HERE, once, amortized across all searches — exactly
    * like q43's training; searches only read its k×dim output. */
  private val ivfIndexes =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private[operators] def ivfIndexPath(s: SparkSession, dir: String): String =
    graft.BuildMetrics.memo(ivfIndexes,
        (graft.SessionMemo.key(s), dir), "ivf_index") {
      val path = graft.SessionMemo.tempDir("graft-ivf-index")
      val e = t(s, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos").agg(avg("col").as("m"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("cs"))
        .select(col("label"), col("cs.m").as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // one directory per cell; at scale also bucket WITHIN a cell so a
      // giant cell still splits into scan-parallel files
      e.write.mode("overwrite").partitionBy("label")
        .parquet(s"$path/cells")
      path
    }
}
