package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Deduplication operators over the `documents` table — the first
  * LLM-training-pipeline family (north star beyond reference parity;
  * the reference itself has no text tooling, SURVEY §2.4).
  *
  * Scale design (the point of each operator):
  *  - exact dedup: group by a 256-bit content hash, never by the full
  *    text — the shuffle moves 32-byte keys, not documents.
  *  - MinHash+LSH near-dup: banded signature buckets → candidate pairs →
  *    exact verify. NEVER all-pairs: candidate generation is a self-join
  *    on (band_id, band_hash) buckets, so work scales with collisions,
  *    not n². Verification joins back only the candidate doc ids.
  *  - SimHash: 64-bit signature; near-dup candidates via 4×16-bit band
  *    blocking (hamming ≤ 3 ⇒ at least one band equal), then exact
  *    hamming verify on the candidates.
  *  - character n-gram Jaccard: banded MinHash candidates over gram sets
  *    then exact relational verify — candidate volume tracks true
  *    similarity, not raw gram frequency.
  */
object Dedup {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Reuse point for a frame read by several downstream branches.
    * persist(MEMORY_AND_DISK) keeps the lineage, so on a real cluster a
    * lost executor RECOMPUTES the partitions instead of failing the job —
    * unlike localCheckpoint, whose truncated lineage has no fallback
    * (VERDICT r2 #4). Lazy is fine: the first action populates the cache
    * and every later branch reads it. Registered with CacheScope so the
    * blocks are released when the query's action completes (r4 VERDICT
    * #1: bare persists accumulated across the 84-query bench JVM). */
  private def materialize(df: DataFrame): DataFrame =
    graft.CacheScope.persist(df)

  /** Distinct word n-gram shingles of a text column (native expression —
    * the declarative transform/slice form ran interpreted per element and
    * dominated the near-dup queries; see graft.functions.NGrams). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.NGrams.wordShingles(text, n)

  /** |A∩B| / |A∪B| from two distinct-element arrays (integer set sizes →
    * one exact double division, identical across engines). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Exact-Jaccard verification of candidate pairs, relationally:
    * |A∩B| is a join-and-count over the exploded (doc_id, feature) frame
    * restricted to candidate docs — the shuffle carries (pair, count)s,
    * never the feature arrays, and nothing evaluates an O(|A|+|B|)
    * array-set expression per pair (which Catalyst would also duplicate
    * across the projection and filter). */
  private[graft] def verifyJaccard(candidates: DataFrame, exploded: DataFrame,
      featCol: String, threshold: Double): DataFrame = {
    val counts = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ea = exploded.select(col("doc_id").as("doc_a"),
      col(featCol).as("f"))
    val eb = exploded.select(col("doc_id").as("doc_b"),
      col(featCol).as("f"))
    val inter = candidates
      .join(ea, "doc_a")
      .join(eb, Seq("doc_b", "f"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Containment-threshold pairs over an exploded (doc_id, f) distinct-
    * feature frame via EXACT prefix filtering. Recall proof: order every
    * feature by the total order (corpus df, f). If containment(A→B) =
    * |A∩B|/|A| ≥ θ then |A∩B| ≥ ⌈θ·|A|⌉ (it is an integer), so at most
    * d = |A| − ⌈θ·|A|⌉ of A's features are missing from B, and among
    * A's first d+1 features in that order at least one is in B — the
    * candidate join on those prefix features misses NO qualifying pair.
    * Ordering by ascending document frequency makes the prefix features
    * the rarest ones, so the inverted-index join's collision volume
    * tracks rare-feature co-occurrence (true overlap), not corpus size —
    * the standard set-similarity-join bound. Cost anatomy at 100 TB:
    * df is one map-side-combinable agg over the exploded frame; the
    * per-doc rank window partitions by doc_id (each partition = one
    * doc's features, no global sort); the candidate join ships only
    * (prefix feature, doc_id) pairs; exact verification is the same
    * relational intersection count as [[verifyJaccard]] — pair counts,
    * never feature arrays, move through the verify shuffle. */
  private[graft] def containmentPairs(exploded: DataFrame,
      theta: Double): DataFrame = {
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = exploded.groupBy("f").agg(count(lit(1)).as("df"))
    val prefix = exploded.join(dfreq, "f")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("f"))))
      .join(sizes, "doc_id")
      // prefix length = n − min qualifying intersection + 1, where
      // min_i = ⌈θ·n⌉ (i ≥ θn over integer i). The ε guards the two
      // double-rounding failure modes: (1−θ)·n rounding DOWN past an
      // integer (θ=0.9, n=10: 0.0999…98·10 = 0.999…8 → floor 0, one
      // feature short — missed an exactly-0.9 pair in the gate) and
      // θ·n rounding UP past one (0.9·50 = 45.000…07 → ceil 46). i is
      // an integer and θ a small rational, so the true θn is either an
      // integer or ≥ 1/n away from one — 1e-9 cannot cross a boundary.
      .filter(col("rk") <=
        col("n") - ceil(col("n") * theta - lit(1e-9)) + 1)
      .select(col("doc_id").as("doc_a"), col("f"))
    val candidates = prefix
      .join(exploded.select(col("doc_id").as("doc_b"), col("f")), "f")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyContainment(candidates, exploded, theta)
  }

  /** Exact containment(A→B) = |A∩B|/|A| over DIRECTED candidate pairs,
    * relationally (the [[verifyJaccard]] shape: pair counts move through
    * the shuffle, never feature arrays) — shared by batch q83 and the
    * incremental [[graft.streaming.StreamingContainment]] view. */
  private[graft] def verifyContainment(candidates: DataFrame,
      exploded: DataFrame, theta: Double): DataFrame = {
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ea = exploded.select(col("doc_id").as("doc_a"), col("f"))
    val eb = exploded.select(col("doc_id").as("doc_b"), col("f"))
    candidates
      .join(ea, "doc_a")
      .join(eb, Seq("doc_b", "f"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        "doc_a")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("n_a")).as("containment"))
      .filter(col("containment") >= theta)
  }

  // deterministic universal-hash parameters for 64 MinHash permutations:
  // h_i(x) = (a_i * x + b_i) mod p over a base shingle hash reduced mod p.
  // p = 2^31-1 keeps a_i*x < 2^62 — no long overflow.
  private val P = 2147483647L
  private val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(64)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature columns m0..m63 for an exploded (doc_id, f)
    * frame: ONE single-buffer imperative aggregate per group
    * ([[graft.functions.MinHashAgg]] — the whole permutation family runs
    * in a tight JVM loop per input row), then the array unpacks into the
    * m0..m63 columns the banding/estimate stages consume. One map-side-
    * combinable shuffle keyed by doc_id, buffer = 64 longs per group.
    * Value-identity with the previous declarative 64-column
    * `min(pmod(h0*a+b, P))` form is pinned by MinHashAggSpec. */
  private[operators] def minhashSignature(
      exploded: DataFrame, featCol: String): DataFrame = {
    val h0 = pmod(xxhash64(col(featCol)), lit(P))
    val sig = exploded.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.sig(h0, perms, P).as("sig"))
    sig.select(col("doc_id") +:
      (0 until 64).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
  }

  /** The round-2 declarative signature form (64 independent
    * `min(pmod(...))` agg columns) — kept private to the equivalence
    * test, which pins [[minhashSignature]] value-identical to it. */
  private[operators] def minhashSignatureDeclarative(
      exploded: DataFrame, featCol: String): DataFrame = {
    val h0 = pmod(xxhash64(col(featCol)), lit(P))
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(h0 * lit(a) + lit(b), lit(P))).as(s"m$i")
    }
    exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Banded-LSH candidate pairs over a (checkpointed) signature frame:
    * nBands bands × bandRows signature rows — P(candidate | jaccard j) =
    * 1-(1-j^r)^b. Band geometry is the knob that positions the S-curve
    * against the verify threshold AND the corpus's background similarity:
    * r too small makes the background collide (measured here: r=2 over
    * char-grams with background j≈0.3 turned ~all of the n² pairs into
    * candidates), r too large loses recall at the threshold. */
  private def bandCandidates(sig: DataFrame, bandRows: Int,
      nBands: Int): DataFrame = {
    val bands = (0 until nBands).map { j =>
      val rows = (0 until bandRows).map(k => col(s"m${j * bandRows + k}"))
      struct(lit(j).as("band_id"),
        xxhash64((lit(j) +: rows): _*).as("bh"))
    }
    val buckets = sig.select(col("doc_id"),
      explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.bh"))
    val l = buckets.as("l")
    val r = buckets.as("r")
    l.join(r,
      col("l.band_id") === col("r.band_id") &&
        col("l.bh") === col("r.bh") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Signature-estimate prefilter: jaccard ≈ matching-minhash fraction
    * (64 integer comparisons per pair — codegen'd, no feature access).
    * Sits between banding and exact verification so the expensive
    * relational-intersection step only ever sees pairs already within
    * `minEst` of the threshold; the background (est sd ≈ 0.06 at 64
    * hashes) falls 3+ sd below every cutoff used here. */
  private def estimateFilter(candidates: DataFrame, sig: DataFrame,
      minEst: Double): DataFrame = {
    val sigArr = sig.select(col("doc_id"),
      array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
    candidates
      .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
        "doc_a")
      .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        "doc_b")
      .withColumn("est",
        aggregate(zip_with(col("sa"), col("sb"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x) / 64.0)
      .filter(col("est") >= minEst)
      .select("doc_a", "doc_b")
  }

  /** (doc_id, sig ARRAY<LONG>) signature frame — the storable form the
    * incremental/streaming dedup path keeps in its signature state table
    * ([[graft.streaming.StreamingDedup]]); same aggregate as
    * [[minhashSignature]], kept as the array instead of unpacking. */
  private[graft] def signatureArray(
      exploded: DataFrame, featCol: String): DataFrame = {
    val h0 = pmod(xxhash64(col(featCol)), lit(P))
    exploded.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.sig(h0, perms, P).as("sig"))
  }

  /** LSH band-bucket keys (`"<band>:<hash>"`, nBands entries) of an array
    * signature — hash-identical to [[bandCandidates]]'s banding, so a
    * batch signature lands in the same buckets a batch-mode run would. */
  private[graft] def bandKeys(sig: Column, bandRows: Int,
      nBands: Int): Column =
    array((0 until nBands).map { j =>
      val rows = (0 until bandRows).map(k =>
        element_at(sig, j * bandRows + k + 1))
      concat_ws(":", lit(j), xxhash64((lit(j) +: rows): _*))
    }: _*)

  /** Signature-estimate Jaccard (matching-minhash fraction) from two
    * array signatures — the streaming path's prefilter form. */
  private[graft] def estimateFromArrays(sa: Column, sb: Column): Column =
    aggregate(zip_with(sa, sb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x) / 64.0

  /** Full near-dup pipeline: band → estimate-prefilter → exact verify. */
  private[graft] def nearDupPairs(exploded: DataFrame, threshold: Double,
      bandRows: Int, nBands: Int): DataFrame = {
    val sig = materialize(minhashSignature(exploded, "f"))
    val candidates = bandCandidates(sig, bandRows, nBands)
    val prefiltered = estimateFilter(candidates, sig, threshold - 0.2)
    verifyJaccard(prefiltered, exploded, "f", threshold)
  }

  /** Session-scoped SHARED near-dup pair table over `documents` word
    * 3-shingles: the explode → MinHash → band → estimate → exact-verify
    * ladder built ONCE per (session, dir, threshold, band geometry) and
    * materialized to parquet — [[Similarity.ivfIndexPath]]'s train-once
    * posture applied to pair generation.
    *
    * Six queries consume the same verified pair set (q21 emits it, q36
    * clusters it, q79 re-scores it, q81 ranks it, q39 anti-joins its
    * clusters, q100 splits it), and before this memo each rebuilt the
    * ladder from scratch — measured in round 5 at 10–13 s cold per
    * rebuild, 57% of the visible bench total. That is also the honest
    * 100×-scale critique: a real pipeline computes the corpus pair table
    * once and every downstream consumer (cluster, rank, decontaminate,
    * curate) reads it; recomputing a corpus-wide LSH pass per consumer
    * multiplies the dominant shuffle bill by the consumer count. The
    * parquet form is exactly what a production run would persist between
    * pipeline stages — and a later session would [[s.read.parquet]] it
    * the way [[KMeans.loadModel]] reloads a saved model. */
  /** Session-scoped SHARED exploded feature frame (doc_id, f) over
    * `documents` — the corpus pass one level BELOW the pair table.
    * Three batch consumers each re-ran this explode from the raw scan
    * (the word3 pair-table build, q22's SimHash tally, q83's
    * containment prefix filter; char5 feeds the q23 ladder), which is
    * the same N-consumers-one-pass critique the pair/LM/classifier
    * memos already answer, one level down. Materialized once per
    * (session, dir, features) and billed as `shingle_frame_*` in the
    * bench build ledger; consumers read parquet — at 100 TB this IS
    * the tokenized-features table a production pipeline persists
    * between stages, and multiple parquet scans of it beat multiple
    * corpus-wide explodes (and hold no executor cache memory). */
  private val shingleFrames = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), String]

  private[graft] def sharedShingleFrame(s: SparkSession, dir: String,
      features: String = "word3"): DataFrame = {
    val path = graft.BuildMetrics.memo(shingleFrames,
      (graft.SessionMemo.key(s), dir, features), s"shingle_frame_$features") {
        val p = graft.SessionMemo.tempDir("graft-shingle-frame")
        val feat =
          if (features == "char5") graft.functions.NGrams.charGrams(col("text"), 5)
          else shingles(col("text"))
        // r13 opt: spread the explode (single scan split on the bench
        // corpus, F2) — the build parallelizes AND the memo parquet
        // lands as one file per task, so every consumer scan splits too
        Tables.spread(t(s, dir, "documents"))
          .select(col("doc_id"), explode(feat).as("f"))
          .write.mode("overwrite").parquet(p)
        p
      }
    s.read.parquet(path)
  }

  /** Session-scoped SHARED positional n-char window frame (doc_id, i, g)
    * over documents holding ≥ n code points — the windowed inverted
    * index both exact-substring consumers scan: q59 detects doc pairs
    * over its per-doc-distinct windows, q122 cuts the duplicated spans
    * at its positions. Before this memo each ran the corpus-chars-sized
    * window explode for itself — the same N-consumers-one-pass critique
    * the shingle/pair/LM memos answer, applied to the heaviest feature
    * frame in the repo (one row per corpus CHARACTER, not per word).
    * Billed as `window_frame_50` in the bench build ledger; at 100 TB
    * this is the materialized suffix-window index a production
    * ExactSubstr run persists once and every consumer (detect, cut,
    * audit) reads. */
  private val windowFrames = scala.collection.concurrent.TrieMap
    .empty[(String, String, Int), String]

  /** The frame is DF-PRUNED before it is written: only rows whose
    * window text occurs ≥ 2 times corpus-wide (over all positions)
    * survive. Both consumers are invariant to dropping singletons —
    * q122's covered-position set comes from exactly the ≥2-occurrence
    * windows, and a df-1 window can never produce a q59 pair — while
    * the materialized artifact shrinks from one row per corpus
    * CHARACTER (50× text inflation: the round-7 full frame cost q59
    * MORE than its inline explode had) to one row per duplicated
    * position. The full explode and its one corpus-wide count shuffle
    * happen HERE, once, billed to the build ledger; consumers read a
    * duplicates-sized parquet. */
  private[graft] def sharedWindowFrame(s: SparkSession, dir: String,
      n: Int = 50): DataFrame = {
    val path = graft.BuildMetrics.memo(windowFrames,
      (graft.SessionMemo.key(s), dir, n), s"window_frame_$n") {
        val p = graft.SessionMemo.tempDir("graft-window-frame")
        // the frame explodes to one row per corpus CHARACTER, so it is
        // exploded TWICE from the (small, persisted) document set rather
        // than persisted itself — re-running the native CharWindowGrams
        // loop is far cheaper than caching ~50× the corpus text
        // (measured: persisting the full positional frame made this
        // build 9.4s at sf0.1; two explodes off cached docs avoid it)
        val docs = graft.CacheScope.persist(
          Tables.spread(t(s, dir, "documents"))
            .filter(length(col("text")) >= n)
            .select(col("doc_id"), col("text")))
        def explode0 = docs.select(col("doc_id"),
          posexplode(graft.functions.NGrams.charWindowGrams(col("text"), n))
            .as(Seq("i", "g")))
        val dup = explode0.groupBy("g").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select("g")
        explode0.join(dup, "g").select("doc_id", "i", "g")
          .write.mode("overwrite").parquet(p)
        p
      }
    s.read.parquet(path)
  }

  private val pairTables = scala.collection.concurrent.TrieMap
    .empty[(String, String, Double, Int, Int, String), String]

  /** `features`: "word3" (word 3-shingles, the q21 family) or "char5"
    * (character 5-grams, q23) — part of the memo key because the two
    * ladders run over different exploded feature frames. */
  private[graft] def sharedNearDupPairs(s: SparkSession, dir: String,
      threshold: Double = 0.8, bandRows: Int = 2,
      nBands: Int = 32, features: String = "word3"): DataFrame = {
    val path = graft.BuildMetrics.memo(pairTables,
      (graft.SessionMemo.key(s), dir, threshold, bandRows, nBands, features), s"neardup_pair_table_$features") {
        val p = graft.SessionMemo.tempDir("graft-neardup-pairs")
        // the exploded frame comes from the session feature-frame memo:
        // the signature AND verify branches inside this build (and q22/
        // q83 outside it) all scan the same parquet instead of each
        // re-running the corpus explode (the r6 persist released the
        // blocks at build end; the parquet form also survives ACROSS
        // builds with different band geometry over the same features)
        nearDupPairs(sharedShingleFrame(s, dir, features),
          threshold, bandRows, nBands)
          .write.mode("overwrite").parquet(p)
        p
      }
    s.read.parquet(path)
  }

  /** Session-scoped cluster table over [[sharedNearDupPairs]]: the star
    * contraction also runs ONCE per (session, dir, geometry) — q36 emits
    * it and q39's survivor anti-join reads it, the same one-artifact-many-
    * consumers posture as the pair table (a production dedup pipeline
    * materializes cluster assignments exactly once per corpus build). */
  private val clusterTables = scala.collection.concurrent.TrieMap
    .empty[(String, String, Double, Int, Int), String]

  private[graft] def sharedNearDupClusters(s: SparkSession, dir: String,
      threshold: Double = 0.8, bandRows: Int = 2,
      nBands: Int = 32): DataFrame = {
    val path = graft.BuildMetrics.memo(clusterTables,
      (graft.SessionMemo.key(s), dir, threshold, bandRows, nBands), "neardup_cluster_table") {
        val p = graft.SessionMemo.tempDir("graft-neardup-clusters")
        val pairs = sharedNearDupPairs(s, dir, threshold, bandRows, nBands)
          .select("doc_a", "doc_b")
        clusterPairsStar(pairs).write.mode("overwrite").parquet(p)
        p
      }
    s.read.parquet(path)
  }

  /** Session-scoped md5-MinHash SIGNATURE table over the word-3 shingle
    * frame — the cross-engine-replayable signature artifact q134
    * calibrates and q141 bands for incremental dedup. At 16 salted
    * digests per shingle occurrence this is the most compute-dense
    * per-feature pass in the repo, so its consumers must not each pay
    * it (the pair/LM/classifier memo lesson); billed as `md5_sigs` in
    * the bench build ledger. At 100 TB this parquet IS the signature
    * store a production pipeline persists and ships between systems —
    * which is exactly why it is md5-derived and not xxhash64: any
    * engine that can md5 recomputes and verifies it bit-identically. */
  private val md5SigTables = scala.collection.concurrent.TrieMap
    .empty[(String, String), String]

  private[graft] def sharedMd5Signatures(s: SparkSession,
      dir: String): DataFrame = {
    val path = graft.BuildMetrics.memo(md5SigTables,
      (graft.SessionMemo.key(s), dir), "md5_sigs") {
        val p = graft.SessionMemo.tempDir("graft-md5-sigs")
        sharedShingleFrame(s, dir, "word3")
          .groupBy("doc_id")
          .agg(graft.functions.Md5MinHashAgg.signature(col("f"), 16)
            .as("sig"))
          .write.mode("overwrite").parquet(p)
        p
      }
    s.read.parquet(path)
  }

  /** The canonical text form shared by q137 and its spec — Unicode NFC
    * ([[graft.functions.UnicodeNormalize]]) → lowercase → trim →
    * whitespace runs collapsed to one space. One Column definition so
    * the engine, the oracle's mirror, and the tests cannot drift. */
  private[graft] def canonicalText(text: Column): Column =
    regexp_replace(trim(lower(graft.functions.UnicodeNormalize(text, "NFC"))),
      "\\s+", " ")

  val queries: Seq[QueryDef] = Seq(

    /** Exact dedup by content hash: one row per distinct text with the
      * surviving (minimum) doc id and the duplicate count. */
    QueryDef("q20_dedup_exact",
      "SELECT sha256(text) AS fp, min(doc_id) AS keep_id, " +
        "count(*) AS dup_cnt FROM documents GROUP BY 1") { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
    },

    /** MinHash+LSH near-duplicate pairs, exact-verified at jaccard ≥ 0.8
      * on word 3-shingles. Bands: 32 bands × 2 rows — P(candidate | j) =
      * 1-(1-j²)^32, i.e. a ≥0.8 pair is missed with probability < 1e-14,
      * so the verified output equals the exact all-pairs answer (which is
      * what the DuckDB oracle computes — the oracle may go O(n²), the
      * engine must not). */
    QueryDef("q21_minhash_lsh",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.sh, b.sh)) * 1.0 /
        |         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      // word-shingle background similarity is near zero → permissive
      // r=2 × 32 bands: P(miss | j≥0.8) < 1e-14, few false candidates.
      // Served from the session-scoped shared pair table — this query's
      // output IS the table the other five consumers read
      sharedNearDupPairs(s, dir, 0.8, bandRows = 2, nBands = 32)
    },

    /** SimHash near-duplicate detection: 60-bit signature = sign bits of
      * the per-bit tally of feature-hash bit vectors; candidates blocked
      * on 4×15-bit bands (hamming ≤ 3 guarantees ≥1 equal band by
      * pigeonhole), then exact hamming verify ≤ 3. The feature hash is an
      * md5 prefix, so the DuckDB oracle computes the IDENTICAL signatures
      * exhaustively — the banded engine must reproduce the exact pair set.
      * Features are word 3-shingles, not bare words: this corpus shares
      * one small vocabulary, so word-set signatures would collapse. */
    QueryDef("q22_simhash_pairs",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3]))) AS f FROM w),
        |h AS (SELECT doc_id, CAST(('0x'||substr(md5(f),1,15)) AS BIGINT) AS hv FROM sh),
        |bits AS (SELECT doc_id, k, SUM(CASE WHEN (hv >> CAST(k AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(60)) AS k) ks GROUP BY doc_id, k),
        |sig AS (SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS simhash
        |        FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      // reads the session feature-frame memo instead of re-exploding
      // the corpus (shared with q83 and the word3 pair-table build)
      val words = sharedShingleFrame(s, dir)
        .withColumn("h",
          conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long"))
      // per-bit tally: bit k contributes +1 if set else -1
      val bitSums = (0 until 60).map { k =>
        sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$k")
      }
      // cached: both sides of the band self-join (and the hamming
      // verify) reuse the signatures instead of recomputing the whole
      // scan→shingle→md5→tally pipeline per branch. r14: EAGER — the
      // join's two map stages materialize concurrently and raced the
      // lazy persist, each recomputing the 60-aggregate tally pipeline.
      val sig = graft.CacheScope.eager(
        words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"),
            (0 until 60).map(k =>
              when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(0L))
              .reduce(_.bitwiseOR(_)).as("simhash")))

      val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band_id"),
          shiftright(col("simhash"), j * 15).bitwiseAND(0x7fffL)
            .as("bh"))): _*)).as("band"))
        .select(col("doc_id"), col("simhash"),
          col("band.band_id"), col("band.bh"))

      val l = banded.as("l")
      val r = banded.as("r")
      val candidates = l.join(r,
        col("l.band_id") === col("r.band_id") &&
          col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          col("l.simhash").as("sim_a"), col("r.simhash").as("sim_b"))
        .distinct()
      candidates
        .withColumn("hamming",
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    },

    /** Character 5-gram Jaccard near-dup: banded MinHash-LSH candidates
      * over the gram sets, then exact char-gram Jaccard ≥ 0.7 verify.
      * (A frequency/"rare-gram" blocking variant was measured first: on
      * this shared-vocabulary corpus only ~2k distinct grams exist, so
      * "rare" grams own hundreds of docs each and blocking degenerated to
      * 1.7M candidate pairs — MinHash sampling is frequency-independent.)
      * The oracle computes the same measure exhaustively. */
    QueryDef("q23_ngram_jaccard",
      """WITH g AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(text)-4,0)),
        |        i -> substr(text, CAST(i+1 AS INT), 5))) AS gs FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.gs, b.gs)) * 1.0 /
        |         (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.gs, b.gs)) * 1.0 /
        |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.7
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      // char-gram background similarity ≈ 0.3 on this corpus → tighter
      // r=4 × 16 bands keeps the background out of the candidate set
      // (P(cand | 0.31) ≈ 0.14) while P(miss | j≥0.9) < 1e-7; the
      // estimate prefilter then drops the surviving background before
      // the exact verify. Session-memoized like the word-shingle ladder
      // (its own feature set → its own table)
      sharedNearDupPairs(s, dir, 0.7, bandRows = 4, nBands = 16,
        features = "char5")
    },

    /** Edit-distance verified fuzzy pairs: the LSH near-dup candidates
      * re-scored with character-level Levenshtein on 80-char prefixes —
      * the "same doc, small edits?" check set-similarity cannot make
      * (Jaccard is blind to order: shuffled words score 1.0; edit
      * distance is not). Cost discipline: Levenshtein is O(len²) per
      * pair, so it NEVER runs corpus-wide — only on the already-banded,
      * already-Jaccard-verified pair set (work ∝ duplicates), and only
      * on bounded prefixes. Both engines share the textbook Levenshtein
      * definition, so the gate hash-matches the distances; the oracle
      * pays O(n²) for the same pair set, the engine must not. */
    QueryDef("q79_edit_distance",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8)
        |SELECT p.doc_a, p.doc_b,
        |       CAST(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) AS BIGINT) AS edit_dist
        |FROM pairs p
        |JOIN documents da ON p.doc_a = da.doc_id
        |JOIN documents db ON p.doc_b = db.doc_id
        |WHERE levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) <= 20
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val pairs = sharedNearDupPairs(s, dir).select("doc_a", "doc_b")
      val prefixes = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 80).as("pre"))
      pairs
        .join(prefixes.select(col("doc_id").as("doc_a"), col("pre").as("pa")),
          "doc_a")
        .join(prefixes.select(col("doc_id").as("doc_b"), col("pre").as("pb")),
          "doc_b")
        .withColumn("edit_dist", levenshtein(col("pa"), col("pb")).cast("long"))
        .filter(col("edit_dist") <= 20)
        .select("doc_a", "doc_b", "edit_dist")
    },

    /** Near-dup CLUSTERS: survivor selection needs components, not pairs
      * (a∼b, b∼c must keep ONE of {a,b,c}). Pairs from the q21 LSH
      * pipeline; components by min-label propagation over the pair graph
      * iterated TO A FIXPOINT — each round is a join+agg on the (tiny
      * relative to the corpus) edge set, labels only decrease, and the
      * loop stops when a round changes no label, so a duplicate chain of
      * ANY diameter clusters correctly (a fixed round count would
      * silently split deep chains). Output: (doc_id, cluster_id = min doc
      * id of its component) for every clustered doc. */
    QueryDef("q36_dedup_clusters",
      """WITH RECURSIVE
        |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |  UNION SELECT doc_a, doc_a FROM pairs
        |  UNION SELECT doc_b, doc_b FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      sharedNearDupClusters(s, dir)
    },

    /** PageRank over the near-dup graph (10 damped iterations, d=0.85):
      * centrality INSIDE duplicate clusters — a survivor-selection
      * signal that prefers the most-connected variant (the min-id rule
      * of q36/q39 is arbitrary; rank prefers the version most others
      * resemble). Iterative-graph shape at scale: each iteration is one
      * join+agg ∝ EDGES of the (duplicate-sized, corpus-independent)
      * pair graph — the Pregel/GraphX contribution-passing pattern in
      * plain DataFrames, with each iteration's ranks CHECKPOINTED so
      * the logical plan stays one iteration deep. The
      * symmetric edge set has no dangling nodes, so no rank leaks. The
      * oracle runs the SAME 10 iterations as mechanically unrolled
      * CTEs; 1e-16 summation-order noise cannot reach the rounded 6th
      * decimal. */
    QueryDef("q81_pagerank", {
      val base =
        """w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
          |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
          |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
          |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM s a JOIN s b ON a.doc_id < b.doc_id
          |  WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
          |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
          |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          |  UNION ALL SELECT doc_b, doc_a FROM pairs),
          |d AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
          |nodes AS (SELECT DISTINCT u AS node FROM e),
          |nn AS (SELECT count(*) AS n FROM nodes),
          |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
          .stripMargin
      val iters = (1 to 10).map { i =>
        s"r$i AS (SELECT e.v AS node, (SELECT 0.15 / n FROM nn) + 0.85 * " +
          s"sum(r${i - 1}.rank / d.deg) AS rank " +
          s"FROM e JOIN r${i - 1} ON e.u = r${i - 1}.node " +
          "JOIN d ON e.u = d.u GROUP BY e.v)"
      }.mkString(", ")
      (s"WITH $base, $iters " +
        "SELECT node AS doc_id, round(rank, 6) AS rank FROM r10")
        .replace("\n", " ")
    }) { (s, dir) =>
      val pairs = sharedNearDupPairs(s, dir).select("doc_a", "doc_b")
      // edges/deg stay LAZY off the memo parquet (re-scanning the pair
      // table is cheaper than two eager checkpoint jobs — r12
      // watchlist); only the frame the LOOP iterates on is
      // checkpointed. Reliable checkpoint, not persist: persist caches
      // DATA but the LOGICAL plan keeps nesting — by iteration 10 the
      // optimizer re-plans a tree holding every prior round (measured:
      // heap exhaustion), while checkpoint() truncates lineage per
      // round (same discipline and rationale as starContract's loop)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = graft.CacheScope.persist(
        edges.groupBy("u").agg(count(lit(1)).as("deg")))
      val n = deg.count() // |nodes| of the dup graph: bounded driver scalar
      // out-degree rides the edge: joined ONCE here and checkpointed, so
      // each iteration is a single join+agg instead of two joins. deg is
      // carried as-is (not pre-divided to 1/deg) so the per-contribution
      // arithmetic stays rank/deg — bit-identical to the oracle's CTEs;
      // a pre-divided weight would introduce ULP drift multiplied 10×.
      // Size-adaptive round parallelism — the starContract discipline
      // (r11 #3) applied to THIS loop (r12 watchlist: q81 drifted
      // 2.91→3.50s committed; the dup graph at sf0.1 is a few hundred
      // edges paying 10 rounds of full-width shuffle cadence). ~4M
      // edges per partition, restored in finally so callers never
      // inherit the narrow width. At corpus scale a billion-pair graph
      // still gets its 250+ partitions. r13 opt: the edge frame itself
      // is COALESCED to that width before the checkpoint — it
      // previously kept the pair table's 2×-unioned map partitioning,
      // so all 10 rounds scheduled 64 map tasks over a few hundred
      // edges (measured: 2-5 task-seconds of pure scheduling overhead
      // per round at sf0.1); now map width = shuffle width = the
      // size-derived value on every scale.
      val confKey = "spark.sql.shuffle.partitions"
      val prevWidth = s.conf.get(confKey)
      val width = math.max(1L,
        math.min(1L << 14, 2L * pairs.count() / 4000000L + 1L))
      val contribEdges = edges.join(deg, "u")
        .coalesce(width.toInt).checkpoint()
      var ranks = deg.select(col("u").as("node"), lit(1.0 / n).as("rank"))
      try {
        s.conf.set(confKey, width.toString)
        for (i <- 1 to 10) {
          val next = contribEdges
            .join(ranks.withColumnRenamed("node", "u"), "u")
            .groupBy(col("v").as("node"))
            .agg((lit(0.15 / n) + lit(0.85) * sum(col("rank") / col("deg")))
              .as("rank"))
          // every 2nd round is deep enough: the blow-up is exponential
          // in UNBOUNDED nesting; depth ≤ 2 keeps planning flat and
          // drops half the checkpoint I/O; the remaining cost is the
          // LSH pair pipeline plus 10 genuine join+agg rounds
          ranks = if (i % 2 == 0 || i == 10) next.checkpoint() else next
        }
      } finally s.conf.set(confKey, prevWidth)
      ranks.select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
    },

    /** Exact-substring duplication: document pairs sharing at least one
      * identical 50-character window, with the count of shared distinct
      * windows — the exact-overlap detector of the dedup literature
      * (long verbatim runs mean copied text even when the documents as a
      * whole differ). Unlike the probabilistic members of this family
      * (q21–q23) this one is EXACT and needs no verify step: the window
      * IS the evidence. Shape at scale: the self-join is keyed on the
      * 50-char window itself — (doc_id, window) rows, never full texts —
      * and join work is ∝ window collisions (true shared runs), never
      * n². (Hashing windows to md5 first, as the streaming form's STATE
      * table does for fixed-width keys, was measured 3× slower here: the
      * per-window digest dominates the narrower shuffle.) Window
      * extraction is the native [[graft.functions.CharGrams]] tight
      * loop. */
    QueryDef("q59_substring_dup",
      """WITH s AS (SELECT doc_id, unnest(CASE WHEN length(text) <= 50 THEN [text]
        |      ELSE list_distinct(list_transform(range(length(text)-49),
        |        i -> substr(text, i+1, 50))) END) AS g FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_windows
        |FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin.replace("\n", " ")) { (s, dir) =>
      // keyed self-join on the window string (the collect-members-and-
      // pair-within-group alternative was measured 2× slower here:
      // collect_list gets no map-side combine, and the join side hashes
      // fast). Windows come from the SESSION window-frame memo shared
      // with q122 (one corpus explode, two consumers): per-doc distinct
      // over the positional frame — map-side combinable, and rows of a
      // doc are colocated in the parquet it reads — plus the oracle's
      // whole-string edge for docs shorter than one window
      val wins = sharedWindowFrame(s, dir, 50)
      // r14 (guide §2.4): one window-keyed repartition feeds the
      // distinct (hash(g) clusters every (doc_id, g) duplicate) AND both
      // self-join sides, so the former two shuffles of the window table
      // (one for distinct on (doc_id, g), one re-keying by g for the
      // join) collapse into this single exchange; EAGER because the
      // join's two map stages otherwise race the lazy cache and each
      // recompute the distinct. The short-doc rows ride the same
      // exchange (they produce no window rows, so the distinct cannot
      // merge across the union).
      val grams = graft.CacheScope.eager(
        wins.select("doc_id", "g")
          .unionByName(t(s, dir, "documents")
            .filter(length(col("text")) < 50)
            .select(col("doc_id"), col("text").as("g")))
          .repartition(col("g"))
          .distinct())
      val a = grams.select(col("doc_id").as("doc_a"), col("g"))
      val b = grams.select(col("doc_id").as("doc_b"), col("g"))
      a.join(b, Seq("g"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared_windows"))
    },

    /** Asymmetric containment pairs: (doc_a, doc_b) where ≥ 90% of
      * doc_a's word 3-shingles appear in doc_b — the "document A is a
      * near-subset of document B" detector (quoted articles, boilerplate
      * wrappers, expanded revisions). Jaccard-family operators (q21–q23)
      * are structurally blind to this: a short doc fully contained in a
      * 10× longer one has jaccard ≤ 0.1 and sails under every symmetric
      * threshold, and MinHash banding on whole-set signatures misses the
      * pair for the same reason. Candidate generation here is EXACT
      * prefix filtering (the ssjoin literature's canonical trick), not
      * LSH — see [[containmentPairs]] for the pigeonhole recall proof —
      * so the gate can hash-match an exhaustive oracle with no
      * probabilistic miss budget at all.
      *
      * Feature choice is LOAD-BEARING for the prefix filter's cost
      * bound, and we measured it on this corpus: char-5-grams here have
      * median df = 292 of 5000 docs (5.8% — one shared vocabulary), so
      * even each doc's RAREST grams collide corpus-wide and the
      * candidate set degenerates to all-pairs (11.9M of a possible
      * 12.5M at sf0.1 — the verify join then OOMs). Word 3-shingles
      * have median df = 9: candidates drop 90× (133K) and track true
      * overlap. The prefix-filter bound assumes a heavy-tailed df
      * distribution; pick features rare enough that "rarest per doc"
      * means something, or the filter silently stops filtering. Same
      * lesson as q22/q23's feature notes, now with the failure mode
      * measured instead of avoided. */
    QueryDef("q83_containment",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS gs FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.gs, b.gs)) * 1.0 / len(a.gs) AS containment
        |FROM g a JOIN g b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.gs, b.gs)) * 1.0 / len(a.gs) >= 0.9
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      // the session feature-frame memo replaces the per-run explode;
      // containmentPairs' several branches scan the same parquet
      containmentPairs(sharedShingleFrame(s, dir), 0.9)
    },

    /** Winnowing fingerprint near-dup pairs (Schleimer et al. SIGMOD
      * 2003 — the MOSS algorithm; see
      * [[graft.functions.WinnowedFingerprints]]): each doc reduces to
      * ~2/(w+1) of its char-8-gram hashes via per-window minima, with
      * the guarantee that any verbatim run ≥ w+k−1 = 11 chars shares a
      * selected hash; pairs sharing ≥ 5 surviving fingerprints are the
      * plagiarism-style partial-overlap channel — position-robust where
      * q59's fixed 50-char windows need long exact runs, and
      * order-sensitive where the Jaccard family (q21/q23) is blind to
      * rearrangement.
      *
      * Shape at 100 TB: fingerprint-keyed equi-join — the banded-LSH
      * candidate class. The df cap (keep 2 ≤ df ≤ 10) is the honest
      * posting-cap discipline: a fingerprint held by MANY docs is
      * boilerplate evidence, not pairwise-duplication evidence, and
      * capping it bounds per-key pair fan-out at df·(df−1)/2 — without
      * it one ubiquitous 8-gram manufactures a quadratic bucket (the
      * q83 char-gram df lesson, applied before it bites). Counts are
      * exact integers; no FP in the gate. */
    QueryDef("q105_winnow_dup",
      """WITH h AS (SELECT doc_id,
        |    list_transform(range(greatest(length(text) - 8 + 1, 0)),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i+1 AS INT), 8)), 1, 8)) AS BIGINT)) AS hs
        |  FROM documents),
        |fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(greatest(len(hs) - 4 + 1, 1)),
        |    p -> list_min(hs[CAST(p+1 AS INT):CAST(p+4 AS INT)])))) AS f
        |  FROM h WHERE len(hs) > 0),
        |df AS (SELECT f, count(*) AS d FROM fp GROUP BY 1),
        |kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN df USING (f)
        |  WHERE df.d BETWEEN 2 AND 10)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin
        .replace("\n", " ")) { (s, dir) =>
      val fp = materialize(t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Winnow.fingerprints(col("text"), 8, 4))
            .as("f")))
      val kept = fp.join(
        fp.groupBy("f").agg(count(lit(1)).as("d"))
          .filter(col("d").between(2, 10)),
        Seq("f"))
        .select("doc_id", "f")
      val a = kept.select(col("doc_id").as("doc_a"), col("f"))
      val b = kept.select(col("doc_id").as("doc_b"), col("f"))
      a.join(b, Seq("f"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
    },

    /** Per-source dedup audit: for every source, how many documents,
      * how many sit in at least one near-dup pair, and the duplicate
      * rate — the observability rollup a corpus operator reads after
      * every build (dedup reports in the RedPajama/Dolma mold). Another
      * free reader of the session-scoped shared pair table: the
      * engine's incremental cost is one pair-endpoint distinct + a
      * broadcast-sized per-source aggregate; the oracle re-derives the
      * pair set all-pairs as usual. */
    QueryDef("q106_dedup_report",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |dup AS (SELECT DISTINCT doc_id FROM
        |  (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(dup.doc_id) AS BIGINT) AS n_dup_docs,
        |  round(count(dup.doc_id) * 1.0 / count(*), 6) AS dup_rate
        |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
        |GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val pairs = sharedNearDupPairs(s, dir, 0.8, bandRows = 2, nBands = 32)
      val dupDocs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
        .withColumn("dup", lit(1L))
      t(s, dir, "documents").select("doc_id", "source")
        .join(dupDocs, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("dup")).as("n_dup_docs"),
          round(count(col("dup")) * 1.0 / count(lit(1)), 6).as("dup_rate"))
    },

    /** Near-dup cluster-SIZE histogram — the giant-cluster hazard gauge
      * the dedup audit was missing (r6 VERDICT stretch #8): how many
      * clusters of each size the corpus produced. A fat tail here is the
      * early warning for exactly the failure mode [[KMeans.bandedPairs]]
      * and the pair table's df caps guard against — one template/
      * boilerplate family chaining thousands of docs into a single
      * component, where per-cluster work (re-scoring, survivor
      * selection) goes quadratic. Cost: two bounded aggregates over the
      * session-shared cluster table (cluster-keyed count, then
      * size-keyed count — shuffle ∝ cluster count, then ∝ distinct
      * sizes), plus the size of the LARGEST cluster joined in as the
      * headline number via a 1-row broadcast. */
    QueryDef("q118_cluster_sizes",
      s"""WITH RECURSIVE ${Curation.clusterCtes},
         |cs AS (SELECT cluster_id, count(*) AS cluster_size
         |  FROM clusters GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST((SELECT max(cluster_size) FROM cs) AS BIGINT) AS max_size
         |FROM cs GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val sizes = sharedNearDupClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      val mx = sizes.agg(max("cluster_size").as("max_size"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(mx))
    },

    /** ExactSubstr span REMOVAL (Lee et al. 2022, arXiv:2107.06499 —
      * "Deduplicating Training Data Makes Language Models Better"): cut
      * from every document each character covered by a 50-char window
      * whose text occurs at ≥ 2 positions corpus-wide, emitting the
      * cleaned text. This is the surgical sibling of q59: q59 DETECTS
      * doc pairs sharing verbatim runs, this one EDITS the duplicated
      * runs out while keeping the unique remainder — the pretraining
      * recipe (the paper removes the repeated span, not the document).
      * Lee et al. find spans via a corpus suffix array; the relational
      * equivalent is the windowed inverted index: a window occurring
      * twice is exactly a duplicated 50+-char run's witness, and the
      * union of duplicated windows covers the same characters the
      * suffix-array method removes for runs ≥ 50.
      *
      * Shape at 100 TB: positions explode ∝ corpus chars; duplicated
      * windows are one count(*)≥2 agg keyed by the window text (the q59
      * join key discipline — the shuffle ships (window, count) partials,
      * map-side combined); each doc's removal set comes back as ONE
      * sorted start array (bounded by doc length), and the cut itself is
      * a per-row left-to-right interval fold — no second corpus shuffle,
      * no per-character rows in the engine (the oracle may go per-char;
      * the engine must not). All outputs are strings/integers — no FP.
      * Window starts are 0-based ([[graft.functions.CharWindowGrams]]
      * array index = start); chars covered by start s are s..s+49. */
    QueryDef("q122_substr_removal",
      """WITH pos AS (SELECT doc_id, text, CAST(u.i AS INT) AS i
        |    FROM documents, unnest(range(length(text)-49)) AS u(i)
        |    WHERE length(text) >= 50),
        |w AS (SELECT doc_id, i, substr(text, i+1, 50) AS g FROM pos),
        |dup AS (SELECT g FROM w GROUP BY g HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, list_sort(list(i)) AS starts FROM w
        |    WHERE g IN (SELECT g FROM dup) GROUP BY doc_id),
        |ch AS (SELECT d.doc_id, CAST(u.p AS INT) AS p,
        |    substr(d.text, CAST(u.p AS INT), 1) AS c,
        |    len(list_filter(coalesce(ds.starts, []),
        |      s -> s+1 <= u.p AND u.p <= s+50)) > 0 AS cov
        |  FROM documents d LEFT JOIN ds USING (doc_id),
        |    unnest(range(1, length(d.text)+1)) AS u(p)),
        |agg AS (SELECT doc_id,
        |    coalesce(string_agg(c, '' ORDER BY p) FILTER (WHERE NOT cov), '') AS cleaned,
        |    count(*) FILTER (WHERE cov) AS n_removed
        |  FROM ch GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.cleaned, d.text) AS cleaned,
        |  CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN agg a USING (doc_id)"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the positional frame comes from the session window-frame memo
      // shared with q59 — both exact-substring consumers read ONE
      // materialized corpus explode
      // the memo's contract: every surviving row's window occurs ≥ 2
      // times corpus-wide, so the covered positions are simply ALL of
      // the frame's positions — no dup re-count needed
      val wins = sharedWindowFrame(s, dir, 50)
      val starts = wins
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("i"))).as("starts"))
      val cleaned = removeCovered(col("text"), col("starts"), 50)
      docs.join(starts, Seq("doc_id"), "left")
        .select(col("doc_id"), cleaned.as("cleaned"),
          (length(col("text")) - length(cleaned)).cast("long")
            .as("n_removed"))
    },

    /** MinHash estimator calibration: for every verified near-dup pair
      * (the q21 answer, read from the session pair table), the EXACT
      * word-3-shingle Jaccard next to the 64-slot MinHash ESTIMATE
      * (matching-slot fraction) — the q126/q130 sketch-calibration
      * posture applied to similarity. The production ladder thresholds
      * on signatures it persists and ships between systems; this
      * harness is the report that says how far those signature-space
      * decisions sit from set-space truth (64 slots → σ ≈
      * √(j(1−j)/64) ≈ 0.05 at j = 0.8, so banding at 0.8 must
      * exact-verify — which is precisely what the q21 ladder does, and
      * why: this query is the evidence for that design).
      *
      * Signatures here come from [[graft.functions.Md5MinHashAgg]] — the
      * digest-derived permutation family (64 = 16 salted md5s × 4 hex
      * slices, element-wise min, map-side combined) — NOT the xxhash64
      * [[graft.functions.MinHashAgg]] the ladder itself uses: xxhash64
      * isn't replayable outside Spark, so ladder signatures are oracled
      * via the exact pair set only, while THESE signature values are
      * bit-identical in any md5-capable engine and the oracle
      * hash-matches the estimates themselves. Min over the feature
      * MULTISET equals min over the set, so no distinct is needed
      * beyond the shared frame's.
      *
      * Shape at 100 TB: one pass over the shared shingle frame for the
      * signature aggregate (8 KiB per doc group, map-side combined), a
      * pair-table-sized join — ∝ duplicates, never n² — and per-pair
      * slot comparison on 64-long arrays. */
    QueryDef("q134_minhash_calibration",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
        |f AS (SELECT doc_id, unnest(sh) AS f FROM s),
        |hm AS (SELECT doc_id, CAST(u.j AS INT) AS j,
        |    md5(CAST(u.j AS VARCHAR) || '|' || f) AS hx
        |  FROM f, unnest(range(16)) AS u(j)),
        |sl AS (SELECT doc_id, j, CAST(r.r AS INT) AS r,
        |    min(CAST(('0x' || substr(hx, CAST(8*r.r+1 AS INT), 8)) AS BIGINT)) AS mn
        |  FROM hm, unnest(range(4)) AS r(r) GROUP BY 1, 2, 3),
        |sig AS (SELECT doc_id, list(mn ORDER BY j, r) AS sig FROM sl GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jx
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |e AS (SELECT p.doc_a, p.doc_b, round(p.jx, 6) AS jaccard_exact,
        |    round(len(list_filter(range(64),
        |      i -> sa.sig[CAST(i+1 AS INT)] = sb.sig[CAST(i+1 AS INT)])) / 64.0, 6)
        |      AS jaccard_est
        |  FROM p JOIN sig sa ON p.doc_a = sa.doc_id
        |    JOIN sig sb ON p.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, jaccard_exact, jaccard_est,
        |  round(abs(jaccard_exact - jaccard_est), 6) AS abs_err
        |FROM e""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val sig = sharedMd5Signatures(s, dir)
      val pairs = sharedNearDupPairs(s, dir, 0.8)
      val matches = aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => (x === y).cast("int")),
        lit(0), (acc, m) => acc + m)
      pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
          "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard_exact"),
          round(matches.cast("double") / 64.0, 6).as("jaccard_est"))
        .select(col("doc_a"), col("doc_b"), col("jaccard_exact"),
          col("jaccard_est"),
          round(abs(col("jaccard_exact") - col("jaccard_est")), 6)
            .as("abs_err"))
    },

    /** Corpus-wide keep-first LINE dedup — the RefinedWeb/CCNet line-
      * granularity pass (Penedo 2023 §4.2; Wenzek 2020 hash-dedupes
      * paragraphs across shards keeping first occurrence): every
      * repeated line survives only at its globally-first position (min
      * (doc_id, line_idx)); later occurrences are cut from their
      * documents. This removes boilerplate (nav bars, cookie banners,
      * license headers) that whole-document dedup (q20) and span
      * removal (q122) both miss: the line repeats across THOUSANDS of
      * otherwise-distinct documents, each of which survives document
      * dedup, and may be shorter than q122's 50-char window. "Lines"
      * here are fixed 10-word chunks — this corpus's text carries no
      * newlines (TESTDATA.md), so the chunking stands in for the
      * newline split exactly like q128's synthetic line derivation; the
      * operator is split-function-agnostic.
      *
      * Shape at 100 TB: one explode ∝ corpus tokens/10, one count-like
      * agg keyed by line text (map-side combinable min over the
      * composite (doc, idx) key), one line-keyed join back, one per-doc
      * reassembly agg bounded by doc length. The first-occurrence rule
      * is a pure min — no window over the corpus, no global sort; ties
      * impossible (the composite key is unique). A hot line (millions
      * of occurrences) is just a heavy reduce key — AQE skew handling
      * applies, and the join back ships one 8-byte keep_key per
      * distinct line, not the occurrence list. */
    QueryDef("q135_line_dedup",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |l AS (SELECT doc_id, CAST(u.i AS INT) AS li,
        |    array_to_string(ws[CAST(u.i*10+1 AS INT) : CAST(u.i*10+10 AS INT)], ' ') AS line
        |  FROM w, unnest(range((len(ws)+9)//10)) AS u(i)),
        |k AS (SELECT line, min(doc_id*1000000 + li) AS keep_key FROM l GROUP BY 1)
        |SELECT l.doc_id,
        |  coalesce(string_agg(line, ' ' ORDER BY li) FILTER (WHERE doc_id*1000000+li = k.keep_key), '') AS cleaned,
        |  count(*) FILTER (WHERE doc_id*1000000+li <> k.keep_key) AS n_removed
        |FROM l JOIN k USING (line) GROUP BY 1"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      val ws = split(trim(col("text")), "\\s+")
      // r13 opt: lines feeds the keep-key aggregate AND the join probe —
      // unpersisted it was computed twice (two ~0.5s single-split scans
      // at sf0.1); eager runs the explode once. r14 (the q59 move): the
      // cached frame is repartitioned by LINE, so the keep-key
      // aggregate and both sides of the line join run with no further
      // exchange — only the final per-doc rebuild re-keys.
      val lines = graft.CacheScope.eager(
        t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), ((size(ws) + 9) / 10).cast("int") - 1),
            i => array_join(slice(ws, i * 10 + 1, lit(10)), " ")))
            .as(Seq("li", "line")))
        .repartition(col("line")))
      val key = col("doc_id") * 1000000L + col("li")
      val first = lines.groupBy("line").agg(min(key).as("keep_key"))
      lines.join(first, "line")
        .groupBy("doc_id")
        .agg(
          coalesce(array_join(transform(
            sort_array(collect_list(
              when(key === col("keep_key"),
                struct(col("li"), col("line"))))),
            _.getField("line")), " "), lit("")).as("cleaned"),
          count(when(key =!= col("keep_key"), lit(1))).as("n_removed"))
    },

    /** Cross-source shingle-set Jaccard by KMV (k-minimum-values)
      * sketch, calibrated against the exact overlap — the
      * sketch-vs-truth report of q134/q126/q130 applied to SET
      * similarity between whole sources (Beyer SIGMOD'07): each
      * source's distinct word-3-shingle set is summarized as its 64
      * smallest md5-derived hash values ([[graft.functions.KmvAgg]]
      * — bounded buffer, min-k over the raw multiset, no per-group
      * DISTINCT), and pairwise Jaccard is estimated purely from sketch
      * arithmetic: J ≈ |KMV(A∪B) ∩ A ∩ B| / |KMV(A∪B)| where the union
      * sketch is the bottom-64 of the two sketches' merge. When the
      * union holds < 64 values the sketch IS the exact union and the
      * estimator collapses to exact — which is why the denominator is
      * the union-sketch LENGTH, not k (the token-level variant of this
      * query degenerates that way on this corpus's 31-token shared
      * vocabulary; shingles give a 1063–1462-value universe per source
      * and honest sketch behavior, mean |err| ≈ 0.016 measured).
      *
      * Shape at 100 TB: sketches ship 8·64 bytes per source — cross-
      * SYSTEM set-overlap matrices (every shard pair, every snapshot
      * pair) become |sources|²-row array arithmetic with NO token-level
      * pair join; the exact side here is the calibration harness, one
      * shingle-keyed source-set agg bounded by |sources| per key (the
      * q104 discipline, never doc×doc). md5-derived hashes make sketch
      * values bit-identical in any engine (the q134 posture), so the
      * DuckDB oracle hash-matches the ESTIMATES. */
    QueryDef("q136_kmv_jaccard",
      """WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_transform(range(greatest(len(w)-2,0)),
        |      i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS g FROM w)),
        |h AS (SELECT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS hv FROM g),
        |sk AS (SELECT source, (list_sort(list(DISTINCT hv)))[1:64] AS sk FROM h GROUP BY 1),
        |n AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b,
        |  round(i.i * 1.0 / (na.n + nb.n - i.i), 6) AS jacc_exact,
        |  round(len(list_filter(u.u, x -> list_contains(sa.sk, x) AND list_contains(sb.sk, x)))
        |    * 1.0 / len(u.u), 6) AS jacc_est
        |FROM inter i
        |JOIN n na ON na.source = i.src_a JOIN n nb ON nb.source = i.src_b
        |JOIN sk sa ON sa.source = i.src_a JOIN sk sb ON sb.source = i.src_b,
        |LATERAL (SELECT (list_sort(list_distinct(sa.sk || sb.sk)))[1:64] AS u) u"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      // Every statistic here derives from ONE non-distinct (source, g)
      // pass over the session shingle frame with NO distinct shuffle
      // anywhere — the three consumers each dedup for free:
      //  - per-shingle source BITMASK via bit_or (OR absorbs repeats);
      //  - the KMV sketch via min-k (the bounded buffer dedups);
      //  - per-source distinct-shingle counts read OFF the bounded mask
      //    table (sum of mask counts whose bit is set), never a
      //    countDistinct over the corpus.
      // The previous shape (distinct → per-shingle sorted source SET →
      // interpreted struct per (shingle, pair)) spent 3.0 s of its
      // 3.5 s on 2M struct allocations at sf0.1; here the shingle-keyed
      // shuffle ships one 8-byte partial OR per (partition, shingle)
      // and the C(S,2) pair explode runs over distinct source
      // COMBINATIONS (bounded, a few hundred rows), each pair weighted
      // by its mask count. Sources index into the mask in sorted order,
      // so bit order == lexicographic order and pairs come out
      // src_a < src_b exactly like the oracle's self-join. The sorted
      // source list is a bounded driver fetch (the DoReMi posture);
      // past 63 sources the mask widens to an array of longs —
      // documented, not needed here.
      // r13 opt: fs / sk / masks all feed BROADCAST consumers of the
      // final assembly — lazily persisted, the broadcast threads raced
      // the caches and recomputed the shingle join in parallel
      // (measured: a 13-task-second stage for a 2.5-task-second plan
      // at sf0.1). Eager persists serialize one computation of each.
      val docsrc = t(s, dir, "documents").select("doc_id", "source")
      val fs = graft.CacheScope.eager(sharedShingleFrame(s, dir, "word3")
        .join(docsrc, "doc_id").select(col("source"), col("f").as("g")))
      val srcArr = docsrc.select("source").distinct().orderBy("source")
        .collect().map(_.getString(0)).toSeq
      require(srcArr.size <= 63,
        s"source bitmask holds <= 63 sources, got ${srcArr.size} " +
          "(widen to array-of-longs masks past that)")
      val pow2 = typedlit((0 until 63).map(1L << _))
      val srcLit = typedlit(srcArr)
      val idxMap = typedlit(srcArr.zipWithIndex.toMap)
      val hv = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
      // r14: sk and masks are independent aggregates of the cached
      // shingle frame — materialized CONCURRENTLY (eagerAll) instead of
      // as two sequential eager barriers
      val Seq(sk, masks) = graft.CacheScope.eagerAll(
        fs.select(col("source"), hv.as("hv"))
          .groupBy("source")
          .agg(graft.functions.KmvAgg.bottomK(col("hv"), 64).as("sk")),
        fs.select(col("g"), element_at(pow2,
            element_at(idxMap, col("source")) + 1).as("bit"))
          .groupBy("g").agg(bit_or(col("bit")).as("mask"))
          .groupBy("mask").agg(count(lit(1)).as("c")))
      val setBits = filter(sequence(lit(0), lit(srcArr.size - 1)),
        b => col("mask").bitwiseAND(element_at(pow2, b + 1)) =!= 0)
      // r14: n is ≤|sources| rows but feeds TWO broadcast consumers
      // (na, nb) — unpersisted, each broadcast thread re-ran its
      // explode+groupBy lineage over the cached mask table concurrently
      // (two of the four 32-task broadcast stages in the final
      // assembly). Eager keeps the broadcast builds to a ≤63-row cache
      // read.
      val n = graft.CacheScope.eager(masks.withColumn("bs", setBits)
        .select(explode(col("bs")).as("bi"), col("c"))
        .groupBy("bi").agg(sum("c").as("n"))
        .select(element_at(srcLit, col("bi") + 1).as("source"), col("n")))
      val inter = masks
        .withColumn("bs", setBits)
        .select(col("c"), explode(flatten(transform(col("bs"), (x, i) =>
          transform(slice(col("bs"), i + 2, size(col("bs"))),
            y => struct(element_at(srcLit, x + 1).as("src_a"),
              element_at(srcLit, y + 1).as("src_b")))))).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(sum("c").as("i"))
      val u = slice(sort_array(array_distinct(
        concat(col("sk_a"), col("sk_b")))), 1, 64)
      val matches = size(filter(col("u"),
        x => array_contains(col("sk_a"), x) && array_contains(col("sk_b"), x)))
      inter
        .join(n.select(col("source").as("src_a"), col("n").as("na")), "src_a")
        .join(n.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
        .join(broadcast(sk.select(col("source").as("src_a"), col("sk").as("sk_a"))), "src_a")
        .join(broadcast(sk.select(col("source").as("src_b"), col("sk").as("sk_b"))), "src_b")
        .withColumn("u", u)
        .select(col("src_a"), col("src_b"),
          round(col("i") * lit(1.0) / (col("na") + col("nb") - col("i")), 6)
            .as("jacc_exact"),
          round(matches.cast("double") / size(col("u")), 6).as("jacc_est"))
    },

    /** Canonical-form exact dedup: documents are normalized to a
      * canonical text — Unicode NFC ([[graft.functions.UnicodeNormalize]],
      * UAX #15), lowercase, trimmed, whitespace runs collapsed — and
      * THEN hashed and grouped, so byte-UNidentical trivial re-encodings
      * (combining-mark vs precomposed forms of the same glyphs,
      * case-only edits, reflowed whitespace) land in one group where
      * q20's raw sha256 sees distinct texts. This is the "exact_norm"
      * tier every web pipeline runs between raw-hash dedup and MinHash
      * (CCNet normalizes before paragraph hashing, RefinedWeb before
      * document hashing): it removes the mass of trivially-reencoded
      * copies at exact-dedup cost, leaving the similarity ladder only
      * true edits.
      *
      * Shape at 100 TB: identical to q20 — canonicalization is a narrow
      * per-row map (the NFC pass short-circuits via
      * `Normalizer.isNormalized` on already-normal text, the common
      * case), and the shuffle moves 32-hex-char hashes, never documents.
      * `n_raw_variants` counts DISTINCT RAW texts per canonical group —
      * rows where it exceeds 1 are exactly the catches raw hashing
      * misses (`DedupSpec` pins them on planted NFD/case/whitespace
      * variants; on this ASCII corpus the groups coincide with q20's,
      * and the oracle still verifies the full normalize→hash→group path
      * through DuckDB's own `nfc_normalize`). */
    QueryDef("q137_canonical_dedup",
      """WITH c AS (SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g')) AS canon_hash
        |  FROM documents)
        |SELECT canon_hash, min(doc_id) AS keep_id, count(*) AS n_copies,
        |  count(DISTINCT text) AS n_raw_variants,
        |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM c GROUP BY 1"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      // doc_ids is a comma-joined STRING, sorted numerically before the
      // stringify: the gate's pandas comparator cannot sort/hash LIST
      // columns, so scalar it is — library callers wanting the array can
      // split(',') losslessly (doc_id is numeric, no escaping needed)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          md5(canonicalText(col("text"))).as("canon_hash"))
        .groupBy("canon_hash")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct(col("text")).as("n_raw_variants"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("doc_ids"))
    },

    /** Incremental snapshot dedup: a NEW document batch (odd doc_ids —
      * standing in for today's crawl shard) near-dup-matched against the
      * EXISTING corpus (even doc_ids) without ever pairing new×new or
      * old×old — the production shape for continuous corpus growth,
      * where each arriving shard is checked against everything already
      * admitted but the admitted corpus never re-pairs with itself.
      * Banding reads the session md5-MinHash signature table
      * ([[sharedMd5Signatures]], 64 slots) as 16 bands × 4 rows; a new
      * doc joins an old doc on any equal band (at j = 0.8 the miss
      * probability is (1−0.8⁴)¹⁶ ≈ 8·10⁻⁴), then exact word-3-shingle
      * Jaccard verifies each candidate on the shared frame. Output:
      * every verified (new, old) pair — the admission gate's evidence
      * rows.
      *
      * Shape at 100 TB: the existing corpus contributes its (band, doc)
      * postings ONCE — persisted alongside the signature store exactly
      * like this memo's parquet — and a day's batch explodes only its
      * own 16 bands and probes; per-batch work ∝ batch size +
      * collisions, never corpus size. This is the batch form of what
      * [[graft.streaming.StreamingDedup]] maintains continuously.
      * Signatures are md5-derived (the q134 posture), so the BANDING
      * DECISION itself — not just the verified pair set — is replayed
      * bit-identically by the oracle. */
    QueryDef("q141_incremental_dedup",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM w),
        |f AS (SELECT doc_id, unnest(sh) AS f FROM s),
        |hm AS (SELECT doc_id, CAST(u.j AS INT) AS j,
        |    md5(CAST(u.j AS VARCHAR) || '|' || f) AS hx
        |  FROM f, unnest(range(16)) AS u(j)),
        |sl AS (SELECT doc_id, j, CAST(r.r AS INT) AS r,
        |    min(CAST(('0x' || substr(hx, CAST(8*r.r+1 AS INT), 8)) AS BIGINT)) AS mn
        |  FROM hm, unnest(range(4)) AS r(r) GROUP BY 1, 2, 3),
        |b AS (SELECT doc_id, j, list(mn ORDER BY r) AS band FROM sl GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        |  FROM b n JOIN b o ON n.j = o.j AND n.band = o.band
        |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
        |v AS (SELECT cand.new_id, cand.old_id,
        |    len(list_intersect(a.sh, e.sh)) * 1.0 /
        |      (len(a.sh) + len(e.sh) - len(list_intersect(a.sh, e.sh))) AS j
        |  FROM cand JOIN s a ON a.doc_id = cand.new_id
        |    JOIN s e ON e.doc_id = cand.old_id)
        |SELECT new_id, old_id, round(j, 6) AS jaccard FROM v WHERE j >= 0.8"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      val sig = sharedMd5Signatures(s, dir)
      val bands = sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          j => slice(col("sig"), j * 4 + 1, lit(4)))).as(Seq("j", "band")))
      val newB = bands.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id").as("doc_a"), col("j"), col("band"))
      val oldB = bands.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("doc_b"), col("j"), col("band"))
      val cand = newB.join(oldB, Seq("j", "band"))
        .select("doc_a", "doc_b").distinct()
      verifyJaccard(cand, sharedShingleFrame(s, dir, "word3"), "f", 0.8)
        .select(col("doc_a").as("new_id"), col("doc_b").as("old_id"),
          round(col("jaccard"), 6).as("jaccard"))
    },

    /** Quality-aware survivor selection — the dedup family's POLICY
      * upgrade over min-id: within each near-dup cluster keep the
      * highest-QUALITY member (ties → lower doc_id), the rule
      * production pipelines actually ship (RefinedWeb/Dolma keep the
      * best rendering of a page — min-id keeps whichever copy crawled
      * first, which is often the truncated or boilerplate-wrapped
      * one). q39's composed build uses min-id (cheap, join-free);
      * this emits the policy table that swaps in for it: per cluster,
      * the argmax member by (quality, -doc_id) struct-max — the
      * q140/q142 tie posture, exact because quality is the 6-rounded
      * score both engines share.
      *
      * Shape at 100 TB: one narrow quality projection joined onto the
      * session cluster memo (cluster table ∝ duplicate density, not
      * corpus), then a cluster-keyed bounded aggregate — the argmax is
      * map-side combinable, so a giant template cluster ships one
      * struct per map partition, never its member list. */
    QueryDef("q151_survivor_policy",
      s"""WITH RECURSIVE ${Curation.clusterCtes},
         |q AS (SELECT c.cluster_id, c.doc_id,
         |    ${TextAnalysis.qualityScoreSql} AS quality
         |  FROM clusters c JOIN documents USING (doc_id))
         |SELECT cluster_id, count(*) AS n_members,
         |  -((max(struct_pack(q := quality, negid := -doc_id))).negid)
         |    AS survivor_id,
         |  (max(struct_pack(q := quality, negid := -doc_id))).q
         |    AS survivor_quality
         |FROM q GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val quality = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      sharedNearDupClusters(s, dir)
        .join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality").as("q"),
            (-col("doc_id")).as("negid"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (-col("m.negid")).as("survivor_id"),
          col("m.q").as("survivor_quality"))
    },

    /** Sorted-neighborhood entity resolution (Hernández–Stolfo) over the
      * customer dimension — record linkage for STRUCTURED rows, the
      * missing counterpart to the document-text dedup family (q21/q79
      * block on content shingles; dimension tables block on a sort
      * key). Candidates are each record's w=3 successors in sort order
      * WITHIN a blocking prefix of the key, matched on edit-distance ≤ 2
      * plus segment equality.
      *
      * Scale: the naive method sorts the whole table globally — a
      * single-partition Window at Spark scale. Blocking on a sort-key
      * prefix makes the window PARTITIONED (hash shuffle on the block,
      * sort within), so the plan is one Exchange + one in-partition
      * sort, candidate volume is exactly w·n, and block granularity is
      * the knob that bounds per-partition width at 100 TB. No join
      * against the table itself, no all-pairs anywhere. */
    QueryDef("q159_entity_match",
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |    substr(c_name, 1, 15) AS blk FROM customer),
        |n AS (
        |  SELECT key_a, name_a, seg_a, bal_a, key_b, name_b, seg_b, bal_b FROM (
        |    SELECT c_custkey AS key_a, c_name AS name_a, c_mktsegment AS seg_a,
        |      c_acctbal AS bal_a, lead(c_custkey,1) OVER w AS key_b,
        |      lead(c_name,1) OVER w AS name_b, lead(c_mktsegment,1) OVER w AS seg_b,
        |      lead(c_acctbal,1) OVER w AS bal_b
        |    FROM c WINDOW w AS (PARTITION BY blk ORDER BY c_name))
        |  UNION ALL
        |  SELECT key_a, name_a, seg_a, bal_a, key_b, name_b, seg_b, bal_b FROM (
        |    SELECT c_custkey AS key_a, c_name AS name_a, c_mktsegment AS seg_a,
        |      c_acctbal AS bal_a, lead(c_custkey,2) OVER w AS key_b,
        |      lead(c_name,2) OVER w AS name_b, lead(c_mktsegment,2) OVER w AS seg_b,
        |      lead(c_acctbal,2) OVER w AS bal_b
        |    FROM c WINDOW w AS (PARTITION BY blk ORDER BY c_name))
        |  UNION ALL
        |  SELECT key_a, name_a, seg_a, bal_a, key_b, name_b, seg_b, bal_b FROM (
        |    SELECT c_custkey AS key_a, c_name AS name_a, c_mktsegment AS seg_a,
        |      c_acctbal AS bal_a, lead(c_custkey,3) OVER w AS key_b,
        |      lead(c_name,3) OVER w AS name_b, lead(c_mktsegment,3) OVER w AS seg_b,
        |      lead(c_acctbal,3) OVER w AS bal_b
        |    FROM c WINDOW w AS (PARTITION BY blk ORDER BY c_name)))
        |SELECT key_a, key_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS name_dist,
        |  round(abs(bal_a - bal_b), 2) AS bal_gap
        |FROM n WHERE key_b IS NOT NULL AND seg_a = seg_b
        |  AND levenshtein(name_a, name_b) <= 2
        |""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("blk").orderBy("c_name")
      val nbr = struct(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"), substring(col("c_name"), 1, 15).as("blk"))
        // one Window computes all w successor structs; explode after, so
        // the window expressions sit in a plain projection
        .select(col("c_custkey").as("key_a"), col("c_name").as("name_a"),
          col("c_mktsegment").as("seg_a"), col("c_acctbal").as("bal_a"),
          array((1 to 3).map(k => lead(nbr, k).over(w)): _*).as("nbrs"))
        .select(col("key_a"), col("name_a"), col("seg_a"), col("bal_a"),
          explode(col("nbrs")).as("b"))
        .filter(col("b.key").isNotNull && col("seg_a") === col("b.seg"))
        .withColumn("name_dist",
          levenshtein(col("name_a"), col("b.name")).cast("long"))
        .filter(col("name_dist") <= 2)
        .select(col("key_a"), col("b.key").as("key_b"), col("name_dist"),
          round(abs(col("bal_a") - col("b.bal")), 2).as("bal_gap"))
    },

    /** Blocking-quality audit — the governance metrics a pipeline
      * computes BEFORE trusting a cheap blocking scheme over the
      * verified LSH ladder: PAIRS COMPLETENESS (what fraction of the
      * true near-dup pairs does the candidate set catch) and REDUCTION
      * RATIO (what fraction of the n·(n−1)/2 all-pairs space it prunes)
      * — the two standard record-linkage blocking metrics
      * (Christen 2012). The scheme under audit is q159's
      * sorted-neighborhood recipe applied to documents (block =
      * 12-char text prefix, neighborhood w = 3, ordered by (text,
      * doc_id) — the id tie-break makes equal-text runs deterministic);
      * ground truth is the q21 pair table (exact-verified
      * jaccard ≥ 0.8). A high reduction ratio with low completeness is
      * the trap this audit exists to catch: prefix blocking prunes
      * 99.9%+ of the pair space but misses near-dups whose edits touch
      * the prefix.
      *
      * Scale: candidates come from one block-partitioned window (q159's
      * shape); truth is the memoized duplicate-density pair table; the
      * all-pairs denominator is ARITHMETIC (n from a count), never
      * materialized. Output is ONE row. */
    QueryDef("q170_blocking_audit",
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 12) AS blk FROM documents),
        |c0 AS (SELECT doc_id AS a,
        |    lead(doc_id, 1) OVER (PARTITION BY blk ORDER BY text, doc_id) AS b FROM d
        |  UNION ALL
        |  SELECT doc_id, lead(doc_id, 2) OVER (PARTITION BY blk ORDER BY text, doc_id) FROM d
        |  UNION ALL
        |  SELECT doc_id, lead(doc_id, 3) OVER (PARTITION BY blk ORDER BY text, doc_id) FROM d),
        |cand AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |  FROM c0 WHERE b IS NOT NULL),
        |wt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2,0)),
        |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS sh FROM wt),
        |tr AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |m AS (SELECT (SELECT count(*) FROM d) AS n,
        |  (SELECT count(*) FROM tr) AS n_true,
        |  (SELECT count(*) FROM cand) AS n_cand,
        |  (SELECT count(*) FROM cand JOIN tr USING (a, b)) AS n_caught)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(n_true AS BIGINT) AS n_true_pairs,
        |  CAST(n_cand AS BIGINT) AS n_candidates, CAST(n_caught AS BIGINT) AS n_caught,
        |  CASE WHEN n_true = 0 THEN NULL
        |    ELSE round(CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS completeness,
        |  round(1.0 - CAST(n_cand AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0), 6) AS reduction_ratio
        |FROM m""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("blk").orderBy("text", "doc_id")
      val cand = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          substring(col("text"), 1, 12).as("blk"))
        .select(col("doc_id"),
          array((1 to 3).map(k => lead(col("doc_id"), k).over(w)): _*)
            .as("nbrs"))
        .select(col("doc_id"), explode(col("nbrs")).as("nb"))
        .filter(col("nb").isNotNull)
        .select(least(col("doc_id"), col("nb")).as("a"),
          greatest(col("doc_id"), col("nb")).as("b"))
        .distinct()
      val truth = sharedNearDupPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val nDocs = t(s, dir, "documents")
        .agg(count(lit(1)).as("n"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nCaught = cand.join(truth, Seq("a", "b"))
        .agg(count(lit(1)).as("n_caught"))
      nDocs.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCand))
        .crossJoin(broadcast(nCaught))
        .select(col("n").as("n_docs"), col("n_true").as("n_true_pairs"),
          col("n_cand").as("n_candidates"), col("n_caught"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_caught").cast("double") /
              col("n_true").cast("double"), 6)).as("completeness"),
          round(lit(1.0) - col("n_cand").cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double") /
              lit(2.0)), 6).as("reduction_ratio"))
    }
  )

  /** Text with every character covered by an n-char window starting at
    * one of `starts` (sorted ascending, 0-based) removed — the q122 cut,
    * shared with [[graft.streaming.StreamingSubstrRemoval]]. A
    * left-to-right fold over the sorted starts: append the gap before
    * each interval, extend the covered end; per-row work ∝ the doc's
    * duplicated windows, not its length. NULL/absent starts (no
    * duplicated window) yield the text unchanged. */
  private[graft] def removeCovered(text: Column, starts: Column,
      n: Int): Column = {
    val st = coalesce(starts, array().cast("array<int>"))
    aggregate(
      st,
      struct(lit(0).as("end"), lit("").as("out")),
      (acc, sc) => struct(
        greatest(acc("end"), sc + n).as("end"),
        concat(acc("out"),
          when(sc > acc("end"), text.substr(acc("end") + 1, sc - acc("end")))
            .otherwise(lit(""))).as("out")),
      acc => concat(acc("out"),
        when(length(text) > acc("end"),
          text.substr(acc("end") + 1, length(text) - acc("end")))
          .otherwise(lit(""))))
  }

  /** Connected components of an undirected pair graph by min-label
    * propagation to a fixpoint: per round, label(u) ← min over neighbors
    * (incl. self) of label(v). Labels are monotonically non-increasing
    * over a finite set, so termination is guaranteed in ≤ diameter
    * rounds; the loop CHECKS convergence (no label changed) instead of
    * assuming a diameter bound. The cap is a pure runaway guard — it can
    * only bind on a graph whose component diameter exceeds it, far past
    * anything a dedup corpus produces (and large-star/small-star would be
    * the O(log n)-round upgrade if one ever did). */
  def clusterPairs(pairs: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val edges = materialize(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .union(pairs.select(col("doc_a").as("u"), col("doc_a").as("v")))
        .union(pairs.select(col("doc_b").as("u"), col("doc_b").as("v")))
        .distinct())

    // per-round frames use reliable checkpoint(), not persist: an
    // iterative loop GROWS lineage every round (plan size explodes —
    // measured: OOM in plan stringification past ~20 rounds), so lineage
    // must be truncated; checkpoint truncates WITH a recovery path (the
    // checkpoint files — HDFS on a cluster), unlike localCheckpoint whose
    // executor-resident blocks die with an executor
    var labels = edges.groupBy("u").agg(min("v").as("label")).checkpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = edges
        .join(labels.withColumnRenamed("u", "v2"), edges("v") === col("v2"))
        .groupBy(edges("u")).agg(min("label").as("label"))
        .checkpoint()
      // fixpoint test: a round that changes no (u, label) row is the last
      converged = next.join(labels, Seq("u", "label"), "left_anti").isEmpty
      labels = next
      round += 1
    }
    labels.select(col("u").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SOCC'14): converges in O(log n) rounds REGARDLESS of
    * component diameter, where min-label propagation ([[clusterPairs]])
    * needs diameter rounds — the difference between ~5 and ~500 shuffle
    * rounds on a chain-shaped duplicate cluster at corpus scale. Each
    * round is two join+agg passes over the current edge set (which only
    * shrinks toward the final star forest), checkpointed to truncate
    * iterative lineage exactly like [[clusterPairs]].
    *
    *  - large-star: every node attaches its STRICTLY LARGER neighbors to
    *    m = min(N(u) ∪ {u}) — emitted edges stay large→small oriented and
    *    halve the height of deep branches.
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    (and itself) to the minimum of that set — collapsing local stars
    *    onto their roots.
    *
    * Fixpoint = small-star output equals its input edge set; at that
    * point the edges form stars rooted at each component's minimum node,
    * so labels read off directly. Output schema and values are identical
    * to [[clusterPairs]] (pinned by DedupSpec equality tests).
    *
    * Measured (sf0.1, 256 pairs, max component size 4; single-query
    * repeat harness `Dev time`, 6 runs warm): star median 2.3 s vs
    * propagation 7.5 s — even on this shallow diameter-2 graph star's
    * fewer, flatter rounds beat propagation's per-round checkpoint
    * cadence, and propagation's diameter dependence is additionally
    * unbounded (a 500-link chain of near-dups — common in scraped
    * corpora via chained small edits — costs 500 shuffle rounds vs ~9).
    * A persist-before-checkpoint variant of the round loop was also
    * measured and REJECTED: the LSH ladder's internal caches already
    * make the checkpoint's second computation cheap, and the extra
    * columnar-cache churn cost ~0.9 s/query. */
  def clusterPairsStar(pairs: DataFrame, maxRounds: Int = 100): DataFrame = {
    val (stars, _, edges0) = starContract(pairs, maxRounds)
    // node set from the CHECKPOINTED canonical edges, not from `pairs`:
    // pairs is typically an unpersisted expensive pipeline (the LSH
    // ladder), and reading it here would evaluate it a second time
    val nodes = edges0.select(col("u").as("doc_id"))
      .union(edges0.select(col("v").as("doc_id"))).distinct()
    // at the fixpoint every non-root has exactly one edge to its
    // component root; roots (the component minima) appear only as `v`
    nodes.join(
        stars.select(col("u").as("doc_id"), col("v").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** The star-contraction loop, returning (final star edges, rounds,
    * initial canonical edge set) — rounds exposed so tests can pin the
    * O(log n) behavior; the checkpointed initial edges let the caller
    * derive the node set without re-evaluating `pairs`. Edges are kept
    * canonically large→small (`u > v`) throughout. */
  private[graft] def starContract(pairs: DataFrame,
      maxRounds: Int): (DataFrame, Int, DataFrame) = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // v > u ≥ m, so emitted (v, m) edges are still large→small and
      // can never be self-loops. No distinct here: small-star's final
      // distinct dedups, saving a shuffle per round
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input is large→small oriented: every group's neighbors are < u
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // convergence = the edge set IS a star forest: every source has
    // out-degree 1 and no node is both a source and a target. That is
    // exactly the algorithm's fixpoint (large-star and small-star both
    // map a star forest to itself), and since both operations preserve
    // connected components, a star forest reached from the input has
    // each component collapsed onto its minimum — nothing more to do.
    // One shuffle: unpivot endpoints to (node, out-degree, in-degree)
    // contributions and count violations.
    def starViolations(e: DataFrame): Long =
      e.select(col("u").as("n"), lit(1L).as("o"), lit(0L).as("i"))
        .union(e.select(col("v").as("n"), lit(0L).as("o"), lit(1L).as("i")))
        .groupBy("n").agg(sum("o").as("o"), sum("i").as("i"))
        .filter(col("o") > 1 || (col("o") > 0 && col("i") > 0))
        .count()

    // Per round, ONE expensive distributed action (r5 VERDICT #3 — the
    // standalone isStarForest probe re-ran a full job per round): the
    // round's frame is persisted, the violation count is the action that
    // materializes it, and checkpoint() then just streams the cached
    // blocks to files (lineage truncation so round r+1 plans one round
    // deep, with a recovery path — the r2 discipline). The round's cache
    // is dropped as soon as the checkpoint holds the data.
    def materializeRound(e: DataFrame): (DataFrame, Boolean) = {
      val p = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val converged = starViolations(p) == 0L
      val ck = p.checkpoint()
      p.unpersist(blocking = false)
      (ck, converged)
    }

    val (edges0, conv0) = materializeRound(pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct())
    var edges = edges0
    var round = 0
    var converged = conv0
    // Size-adaptive round parallelism (r11 VERDICT #3: a near-empty
    // graph was paying 32-partition shuffle cadence per round — fixed
    // per-stage overhead, not data). The canonical edge set is now
    // materialized, so its count is one cheap cached read; scope the
    // round loop's shuffle width to the MEASURED graph — ~4M edges
    // (two longs) per partition — exactly AQE's coalescing logic
    // applied across jobs, where AQE itself cannot see. The edge set
    // only shrinks round over round, so a width chosen from the round-0
    // count stays sufficient; at corpus scale a billion-pair graph
    // still gets its 250+ partitions. Restored in finally: the session
    // conf is shared, and callers' queries must not inherit the narrow
    // width.
    val spark = pairs.sparkSession
    val confKey = "spark.sql.shuffle.partitions"
    val prevWidth = spark.conf.get(confKey)
    val width = math.max(1L,
      math.min(1L << 14, edges0.count() / 4000000L + 1L))
    try {
      spark.conf.set(confKey, width.toString)
      while (!converged && round < maxRounds) {
        val (next, conv) = materializeRound(smallStar(largeStar(edges)))
        converged = conv
        edges = next
        round += 1
      }
    } finally spark.conf.set(confKey, prevWidth)
    (edges, round, edges0)
  }
}
