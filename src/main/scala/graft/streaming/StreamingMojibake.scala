package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Continuous encoding-damage gating over a CDC `documents` source —
  * the streaming form of batch q148: the sink holds, at every instant,
  * each live document's replacement-char / control-char counts and the
  * 1% drop verdict. Like [[StreamingEntropy]]/[[StreamingBlocklist]],
  * the stateless end of the family: [[TextAnalysis.mojibakeReport]] is
  * pure row-local string arithmetic, so the view is a
  * [[ViewDef.perRow]] over the SAME columns batch q148 emits — one code
  * path, pinned once; the view gates the text that actually arrives,
  * with no doc_id plant. */
object StreamingMojibake {

  /** Sink documents: (id = doc key, n_cp, n_repl, n_ctrl, keep). */
  def mojibakeView(): ViewDef =
    ViewDef.perRow("mojibake_gate", "documents") { live =>
      TextAnalysis.mojibakeReport(live.select(col("key"), col("text")), "key")
        .withColumnRenamed("key", "id")
    }
}
