package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Mixture

/** The always-current MIXTURE PLAN — the streaming twin of
  * [[graft.extensions.Mixture]], in the [[StreamingDataCard]] shape:
  * each micro-batch of arriving documents is reduced to its bounded
  * per-source token totals ([[Mixture.totalsOf]]) and folded into the
  * maintained state ([[Mixture.mergeTotals]] — sums, exact and
  * order-free), so the budget plan a trainer reads
  * ([[Mixture.planFromTotals]]) tracks the growing corpus without
  * ever re-reading history: as a source accumulates tokens, the
  * no-upsampling budget and every source's keep share advance on the
  * next batch boundary.
  *
  * State shape at 100 TB: |sources| rows. Per-batch cost is one
  * narrow pass over the batch plus an O(state) merge, independent of
  * corpus age; the plan derivation is pure bounded-frame arithmetic.
  *
  * Totals are SUMS: this is a fold twin under the [[Admission]] replay
  * contract.
  *
  * Parity (StreamingMixtureSpec): after any stream of batches, the
  * maintained totals equal [[Mixture.totalsOf]] over the concatenated
  * corpus bitwise, and therefore so does every derived plan. */
object StreamingMixture {

  /** foreachBatch sink maintaining the totals state: each arriving
    * batch is reduced to its per-source totals and merged into the
    * caller-persisted current state; `onBatch(newTotals, batchId)`
    * persists it (overwrite keyed by batchId). `totals` is by-name so
    * each batch re-reads the caller's current state — the
    * stream-static shape every streaming twin in this repo uses. */
  def sink(
      totals: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(Mixture.mergeTotals(totals, Mixture.totalsOf(b.frozen)), b.id)
    }
}
