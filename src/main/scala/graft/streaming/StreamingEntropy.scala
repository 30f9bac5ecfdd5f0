package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Continuous character-entropy gating over a CDC `documents` source —
  * the streaming form of batch q138: the sink holds, at every instant,
  * each live document's code-point entropy and key-mash verdict. Like
  * [[StreamingBlocklist]]/[[StreamingC4]], the stateless end of the
  * family: [[TextAnalysis.charEntropyReport]] depends on nothing but
  * the document's own text, so the view is a [[ViewDef.perRow]] over
  * the SAME aggregation batch q138 runs — one code path, pinned once.
  * O(|batch| × doc length) work. */
object StreamingEntropy {

  /** Sink documents: (id = doc key, n_cp, n_distinct, entropy_bits,
    * low_entropy). Empty-text docs produce no row (matching batch q138,
    * whose oracle's range(0) is empty) — they delete from the sink. */
  def entropyView(name: String = "entropy_gate",
      table: String = "documents"): ViewDef =
    ViewDef.perRow(name, table) { live =>
      TextAnalysis.charEntropyReport(live.select(col("key"), col("text")), "key")
        .withColumnRenamed("key", "id")
    }
}
