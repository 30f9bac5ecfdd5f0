package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Continuous Gopher quality gating over a CDC `documents` source — the
  * streaming form of batch q107: the sink holds, at every instant, each
  * live document's rule measurements, per-rule flags, and keep verdict.
  * Like [[StreamingPii]], this is the stateless end of the streaming
  * family: the rules are pure per-row column arithmetic, so the view is
  * a [[ViewDef.perRow]] over the SAME [[TextAnalysis.gopherRules]]
  * columns the batch query emits — one code path, pinned once. */
object StreamingGopher {

  /** Sink documents: (id = doc key, n_tokens, mean_word_len,
    * n_alpha_words, n_symbols, n_stopwords, r_*, keep). */
  def gopherView(name: String = "gopher_gate", table: String = "documents",
      textCol: String = "text"): ViewDef =
    ViewDef.perRow(name, table) { live =>
      TextAnalysis.gopherRules(live.select(col("key"), col(textCol).as("text")),
        col("key").as("id"))
    }
}
