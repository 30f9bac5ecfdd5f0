package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Continuous blocklist gating over a CDC `documents` source — the
  * streaming form of batch q139: the sink holds, at every instant, each
  * live document's token counts, matched blocklist terms, and the
  * density keep verdict. Like [[StreamingC4]]/[[StreamingGopher]], the
  * stateless end of the family: [[Curation.blocklistReport]] is pure
  * row-local array arithmetic (no explode, no shuffle), so the view is
  * a [[ViewDef.perRow]] over the SAME columns batch q139 emits — one
  * code path, pinned once. */
object StreamingBlocklist {

  /** Sink documents: (id = doc key, n_tokens, n_blocked, matched_terms,
    * keep). */
  def blocklistView(): ViewDef =
    ViewDef.perRow("blocklist_gate", "documents")(
      Curation.blocklistReport(_, col("key").as("id")))
}
