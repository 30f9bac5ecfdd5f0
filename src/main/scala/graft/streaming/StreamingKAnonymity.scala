package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Continuous k-anonymity audit — batch q162's continuous form on the
  * [[IncrementalAgg]] rails (r12 VERDICT #5): quasi-identifier
  * equivalence-class sizes maintained ± from the dimension's changelog
  * (O(batch) per batch), with the at-risk verdict priced AT READ over
  * the maintained class count — a class dropping below k flips its flag
  * on the very batch that shrinks it, and a class emptying leaves state
  * and sink entirely (the retraction contract).
  *
  * Scale posture is the batch query's: view state is bounded by the QI
  * space, never the table; per batch only the touched rows' pre/post QI
  * classes shuffle. */
object StreamingKAnonymity {

  private val Qi = Seq("c_nationkey", "c_mktsegment")

  /** `Qi` are the quasi-identifier columns of the dimension's state
    * rows; `k` is the policy threshold — class_size < k reads at_risk. */
  def view(spark: SparkSession, stateDir: String, k: Int = 8): ViewDef =
    IncrementalAgg.view(spark, stateDir, "k_anonymity", "customer",
      IncrementalAgg.GroupSpec(
        Qi.map(c => s"g_$c" -> col(c)),
        live = lit(true),
        amount = lit(1.0)),
      toDoc = m => m.select(
        col("key").as("id") +:
          Qi.map(c => col(s"g_$c").as(c)) :+
          col("cnt").as("class_size") :+
          (col("cnt") < k).as("at_risk"): _*))
}
