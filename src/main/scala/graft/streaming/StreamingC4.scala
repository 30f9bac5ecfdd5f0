package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Continuous C4 line filtering over a CDC `documents` source — the
  * streaming form of batch q128: the sink holds, at every instant, each
  * live document's line counts, page verdict, and cleaned text. Like
  * [[StreamingGopher]]/[[StreamingPii]], the stateless end of the
  * family: [[Curation.c4Report]] is pure per-row column arithmetic, so
  * the view is a [[ViewDef.perRow]] over the SAME columns batch q128
  * emits — one code path, pinned once. */
object StreamingC4 {

  /** Sink documents: (id = doc key, n_lines, n_kept, page_keep,
    * cleaned). `docIdNum` drives the plant schedule — doc keys must be
    * numeric strings (the batch fixture's doc_id). */
  def c4View(): ViewDef =
    ViewDef.perRow("c4_gate", "documents") { live =>
      Curation.c4Report(live, col("key").as("id"), col("key").cast("long"))
    }
}
