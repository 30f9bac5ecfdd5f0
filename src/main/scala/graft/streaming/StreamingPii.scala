package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Continuous PII scrub over a CDC `documents` source — the streaming
  * form of batch q93: the sink holds, at every instant, each live
  * document's per-class PII counts and the md5 signature of its masked
  * text. The scrub is a pure per-row map, so this is the STATELESS end
  * of the streaming family (no view-owned state tables, unlike the
  * dedup/BM25 ladders): a [[ViewDef.perRow]] that re-derives exactly
  * the touched keys from post-state and retracts keys whose document
  * was deleted.
  *
  * 100 TB posture: nothing corpus-sized, nothing driver-sized, no
  * shuffle beyond the key-pruned read. */
object StreamingPii {

  /** Sink documents: (id = doc key, n_emails, n_phones, n_ips,
    * clean_sig). */
  def piiView(): ViewDef =
    ViewDef.perRow("pii_scrub", "documents") { live =>
      live.select(
        (col("key").as("id") +: Curation.piiColumns(col("text"))): _*)
    }
}
