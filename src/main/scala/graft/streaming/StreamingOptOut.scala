package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Provenance

/** Continuous opt-out policy gating over a CDC `documents` source — the
  * streaming form of batch q149: the sink holds, at every instant, each
  * live document's registered domain and whether its publisher has
  * opted out. The production event this view exists for is not the
  * document arriving — it's the CONSENT CHANGE: when a domain joins the
  * opt-out list, its documents must leave the corpus on the next
  * refresh. The list here is constructor data (the batch posture); a
  * list-as-CDC-table variant would ride the same rails as the
  * embedding-decon view's benchmark side. Stateless like
  * [[StreamingBlocklist]]: [[Provenance.registeredDomain]] +
  * [[Provenance.optedOut]] are pure row-local functions of the doc id
  * (one code path with batch), so the view is a [[ViewDef.perRow]].
  * Non-numeric ids parse to a null domain and report opted_out = false,
  * same as batch's bare-suffix rule. */
object StreamingOptOut {

  /** Sink documents: (id = doc key, registered_domain, opted_out). */
  def optOutView(): ViewDef =
    ViewDef.perRow("optout_gate", "documents") { live =>
      live.select(col("key").as("id"),
          Provenance.registeredDomain(col("key").cast("long"))
            .as("registered_domain"))
        .withColumn("opted_out", Provenance.optedOut(col("registered_domain")))
    }
}
