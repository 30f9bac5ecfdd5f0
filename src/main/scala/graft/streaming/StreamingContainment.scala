package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Incremental containment-pair detection over a GROWING corpus — the
  * streaming form of batch q83's exact prefix-filter join
  * ([[Dedup.containmentPairs]]), closing the one batch-dedup family
  * member that had no streaming counterpart. The sink index holds, at
  * every instant, exactly the directed pairs with
  * containment(A→B) = |A∩B|/|A| ≥ θ over the CURRENT document state.
  *
  * The batch form orders each document's features by CORPUS document
  * frequency before taking the pigeonhole prefix — a global statistic
  * that drifts as documents arrive, which would dirty every resident
  * prefix on every batch. The pigeonhole recall proof, however, holds
  * for ANY fixed total order (if |A∩B| ≥ ⌈θ|A|⌉ then at most
  * d = |A|−⌈θ|A|⌉ of A's features miss B, so among A's first d+1
  * features under any order one is in B). The incremental form therefore
  * orders by (xxhash64(f), f) — a pure function of the feature — making
  * each document's prefix a function of its OWN text alone: resident
  * prefixes never change, and per-batch work never touches the resident
  * corpus. df-ordering is only the batch form's collision optimization;
  * recall is unaffected, and both forms exact-verify, so their PAIR SETS
  * are identical (pinned by StreamingContainmentSpec).
  *
  * Two posting states (the inverted-index pattern of [[StreamingBm25]]):
  *   - full postings: feature → docs CONTAINING it (candidate partners
  *     for a new doc's prefix — the "new doc as A" direction),
  *   - prefix postings: feature → docs whose PREFIX holds it (partners
  *     whose prefix hits a new doc's features — "new doc as B").
  *
  * Per batch, with B = created/updated/deleted docs: retract via B's OLD
  * features/prefix against pre-state postings (a superset of every pair
  * a previous batch could have emitted with a member of B, minus
  * re-verified pairs = exactly the stale ones); merge B's membership out
  * of old keys and into new ones (bucket-pruned read-modify-write,
  * idempotent-by-batchId); discover candidates in both directions
  * against POST postings (resident and same-batch partners); then the
  * same exact relational verify as batch q83
  * ([[Dedup.verifyContainment]]). Per-batch cost is O(|B| features +
  * posting collisions) — nothing scans or re-prefixes residents.
  */
object StreamingContainment {

  private def postSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("members", ArrayType(StringType))))

  /** The fixed-order pigeonhole prefix of an exploded (doc_id, f) frame:
    * first n − ⌈θn⌉ + 1 features per doc under (xxhash64(f), f). Same
    * ε-guarded integer arithmetic as the batch form
    * (Dedup.containmentPairs): θn is either an integer or ≥ 1/n from
    * one, so 1e-9 cannot cross a rounding boundary. */
  private[streaming] def prefixOf(exploded: DataFrame, theta: Double): DataFrame = {
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    exploded
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(xxhash64(col("f")), col("f"))))
      .join(sizes, "doc_id")
      .filter(col("rk") <=
        col("n") - ceil(col("n") * theta - lit(1e-9)) + 1)
      .select("doc_id", "f")
  }

  private val Name = "containment_pairs"
  private val Theta = 0.9
  private val ShingleN = 3

  /** Continuous containment-pairs view over a CDC `documents`-shaped
    * source. Sink documents: (id = "a|b", doc_a, doc_b, containment),
    * directed. Constants match batch q83: word 3-shingles, θ = 0.9. */
  def containmentView(spark: SparkSession, stateDir: String): ViewDef = {
    val fullPost =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-full")
    val prefPost =
      new ParquetKeyedTable(spark, s"$stateDir/$Name-prefix")

    ViewDef(Name, (pre, post, batch, ctx) => {
      val prefPreV = prefPost.versionBefore(ctx.batchId)

      val touched = ctx.cache(batch("documents").select("key").distinct())

      def feats(rows: DataFrame): DataFrame = rows
        .select(col("key").as("doc_id"),
          explode(Dedup.shingles(col("text"), ShingleN)).as("f"))

      // old/new feature sets of the batch docs only
      val oldFeats = ctx.cache(feats(pre.rows("documents", touched)))
      val newFeats = ctx.cache(feats(post.rows("documents", touched)))
      val oldPrefix = prefixOf(oldFeats, Theta)
      val newPrefix = ctx.cache(prefixOf(newFeats, Theta))

      // postings of every affected key (pruned lookups); full postings:
      // batch docs leave their old keys, enter their new ones
      val affectedFull = ctx.cache(oldFeats.select("f").union(newFeats.select("f"))
        .distinct().withColumnRenamed("f", "key"))
      val affectedPref = ctx.cache(oldPrefix.select("f").union(newPrefix.select("f"))
        .distinct().withColumnRenamed("f", "key"))
      val full = IncrementalAgg.swapMembers(fullPost, postSchema, affectedFull,
        touched, newFeats.select(col("f").as("key"), col("doc_id").as("member")),
        ctx)
      val preFull = full.pre.withColumnRenamed("key", "f")
      val postFull = full.post.withColumnRenamed("key", "f")
      // prefix postings are READ over affectedFull, not affectedPref:
      // the as-B directions join a batch doc's WHOLE feature set against
      // resident prefixes, and a resident partner's prefix key need not
      // appear in the batch doc's own prefix — reading only prefix keys
      // missed those partners (discovery) and left their stale pairs
      // unretracted. Membership, by contrast, only changes on the batch
      // docs' own prefix keys, so the MERGE below stays affectedPref-
      // scoped (prePrefNarrow).
      val prePref = ctx.cache(prefPost.rowsForKeysAt(prefPreV, postSchema, affectedFull)
        .select(col("key").as("f"), explode(col("members")).as("member")))

      // retract superset: pairs any previous batch could have emitted
      // with a batch member on either side
      val oldAsA = oldPrefix.join(preFull, "f")
        .filter(col("member") =!= col("doc_id"))
        .select(col("doc_id").as("doc_a"), col("member").as("doc_b"))
      val oldAsB = oldFeats.join(prePref, "f")
        .filter(col("member") =!= col("doc_id"))
        .select(col("member").as("doc_a"), col("doc_id").as("doc_b"))
      val retractCandidates = oldAsA.union(oldAsB).distinct()

      // post-state prefix members over the WIDE read set, computed ONCE:
      // discovery joins against all of it (resident prefix keys outside
      // affectedPref included — see above), while the prefix-table MERGE
      // takes only its affectedPref slice (the only keys whose
      // membership can change)
      val postPref = ctx.cache(prePref.join(
          touched.withColumnRenamed("key", "member"),
          Seq("member"), "left_anti")
        .unionByName(newPrefix.select(col("f"), col("doc_id").as("member"))))
      val prefRows = postPref.join(
          affectedPref.withColumnRenamed("key", "f"), Seq("f"), "left_semi")
        .groupBy("f").agg(collect_list("member").as("members"))
        .select(col("f").as("key"), col("members"))
      val prefEmptied = affectedPref
        .join(prefRows.select("key"), Seq("key"), "left_anti")
      prefPost.merge(prefRows, prefEmptied, ctx.batchId)

      // discover, both directions, against POST postings (residents and
      // same-batch partners both present)
      val newAsA = newPrefix.join(postFull, "f")
        .filter(col("member") =!= col("doc_id"))
        .select(col("doc_id").as("doc_a"), col("member").as("doc_b"))
      val newAsB = newFeats.join(postPref, "f")
        .filter(col("member") =!= col("doc_id"))
        .select(col("member").as("doc_a"), col("doc_id").as("doc_b"))
      val candidates = newAsA.union(newAsB).distinct()

      // exact verify over the candidate docs' texts (pruned state reads)
      val vIds = candidates.select(col("doc_a").as("key"))
        .union(candidates.select(col("doc_b").as("key"))).distinct()
      val vExploded = feats(post.rows("documents", vIds))
      val verified = ctx.cache(Dedup
        .verifyContainment(candidates, vExploded, Theta))

      val upserts = verified.select(
        Keys.pair(col("doc_a"), col("doc_b")).as("id"),
        col("doc_a"), col("doc_b"), col("containment"))
      val deletes = retractCandidates
        .select(Keys.pair(col("doc_a"), col("doc_b")).as("id"))
        .join(upserts.select("id"), Seq("id"), "left_anti")
      (upserts, deletes)
    })
  }
}
