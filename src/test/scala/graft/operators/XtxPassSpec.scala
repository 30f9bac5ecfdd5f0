package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** r14 guard for [[Similarity.xtxPassRows]] (the closure-based XᵀX·v
  * pass that replaced the per-round explode+groupBy plan): it must
  * reproduce the former plan's per-dimension decimals EXACTLY — q114 /
  * q116's oracle CTEs hash-match the resulting loadings, so one drifted
  * 12-decimal contribution is a red gate. The reference below IS the
  * former plan (posexplode → round 12 → decimal(38,12) → sum → round 6
  * → decimal(18,6)), evaluated side by side across five chained rounds
  * with the iterate evolving through the new path. */
class XtxPassSpec extends SparkSuite {
  test("xtxPassRows equals the explode+groupBy plan exactly across " +
      "five chained rounds") { check(scale = 1.0) }

  // contributions far outside [-1, 1]: where a 12-decimal value needs
  // more digits than a double holds, the plan's Round-then-Cast goes
  // through a double between its two roundings
  test("xtxPassRows equals the plan when contributions reach |d·x| ≥ 1e4") {
    check(scale = 300.0)
  }

  private def check(scale: Double): Unit = {
    val s = spark
    import s.implicits._
    def r6d(x: Double): java.math.BigDecimal =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { _ =>
      Tuple1(IndexedSeq.fill(64)((rnd.nextDouble() * 2 - 1) * scale))
    }
    val e = rows.toDF("v").persist()
    e.count()
    val rdd = e.select(col("v")).queryExecution.toRdd

    var w: IndexedSeq[java.math.BigDecimal] = IndexedSeq.fill(64)(r6d(0.125))
    for (round_ <- 1 to 5) {
      // reference: the former per-round plan, iterate as a literal
      val vLit = typedlit(w.map(_.doubleValue))
      val ref = e
        .select(col("v"), Similarity.dot(col("v"), vLit).as("d"))
        .select(posexplode(col("v")).as(Seq("pos", "x")), col("d"))
        .select(col("pos"),
          round(col("d") * col("x"), 12).cast("decimal(38,12)").as("contrib"))
        .groupBy("pos")
        .agg(round(sum("contrib").cast("double"), 6)
          .cast("decimal(18,6)").as("u"))
        .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap

      val got = Similarity.xtxPassRows(rdd, w)
      (0 until 64).foreach { p =>
        val refDec = ref.getOrElse(p, java.math.BigDecimal.ZERO)
        assert(got(p).compareTo(refDec) == 0,
          s"round $round_ pos $p: closure ${got(p)} != plan $refDec")
      }
      // evolve the iterate through the NEW path, as q114/q116 do
      val n = math.sqrt(got.map(x => x.multiply(x))
        .reduce(_.add(_)).doubleValue)
      w = got.map(x => r6d(x.doubleValue / n))
    }
    e.unpersist()
  }
}
