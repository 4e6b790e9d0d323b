package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.TextAnalysis

/** Streaming distribution-drift monitor — the always-on counterpart of
  * [[TextAnalysis.sourceDrift]], watching a live document feed the way
  * the reference's exporter loop watches row counts
  * (metrics_exporter.py:99-151), but at the content level: each
  * micro-batch's per-source token distribution is scored against the
  * HISTORICAL corpus profile, so a feed whose content shifts (spam
  * burst, language flip, scraper breakage) raises its Jensen-Shannon
  * number within one batch of the shift.
  *
  * Shape: the (token, corpus_cnt) profile ([[TextAnalysis.vocabProfile]])
  * is computed once from the accumulated corpus and broadcast into every
  * micro-batch join; the batch side is one explode + one bounded
  * aggregation over |sources in batch| × topN rows. Per-batch cost is
  * proportional to the batch, never the corpus, and there are no
  * streaming-state operators — the divergence is computed inside
  * foreachBatch, which also makes the handoff idempotent under
  * micro-batch replay (same id ⇒ same scores).
  *
  * STALENESS CONTRACT: [[sink]]'s profile is a point-in-time snapshot —
  * scores measure divergence from the corpus AS OF the profile build,
  * which is the right baseline for "did my feed break" but drifts from
  * the living corpus as admissions accumulate. For a moving baseline
  * use [[sinkWithRefresh]], which rebuilds the profile every
  * `refreshEvery` micro-batches (staleness is then bounded by
  * refreshEvery batches); with the plain [[sink]], rebuild on the
  * pipeline's own maintenance cadence.
  *
  * Parity contract: for any micro-batch B, the emitted frame equals
  * `TextAnalysis.driftVsProfile(B, profile)` — with the profile current
  * as of the last refresh boundary — pinned in DriftMonitorSpec
  * (MemoryStream), including across a refresh.
  */
object DriftMonitor {

  /** foreachBatch sink: per micro-batch, each source's JS divergence vs
    * the static profile, handed to `onBatch` with the micro-batch id.
    * Call `.start()` on the result. */
  def sink(
      newDocs: DataFrame,
      profile: DataFrame,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Admission.sink(newDocs.writeStream) { b =>
      onBatch(TextAnalysis.driftVsProfile(b.df, profile), b.id)
    }

  /** [[sink]] with a moving baseline: at every micro-batch whose id is a
    * multiple of `refreshEvery` (including the first), the corpus
    * profile is rebuilt from `profileSource` — typically a re-read of
    * the accumulated corpus path the admission job appends to —
    * localCheckpoint'ed so every batch joins a materialized frame, and
    * the predecessor's blocks are freed (a long-running monitor would
    * otherwise retain one profile per refresh). Between refreshes, batches
    * score against the profile from the last boundary: staleness is
    * bounded by `refreshEvery` batches BY CONSTRUCTION, not by operator
    * discipline. Keying the cadence on the deterministic micro-batch id
    * keeps steady-state replay consistent (a batch at a boundary id
    * refreshes on replay too), with one COLD-START exception: the
    * in-memory profile does not survive a driver restart, so the first
    * batch after recovery always rebuilds, even at a non-boundary id —
    * a replayed batch can therefore score against a fresher profile
    * than its original emission. That is inherent to any foreachBatch
    * side input re-read from a moving source (the rebuilt profile
    * reflects the source's CURRENT state either way); pipelines that
    * need boundary-exact replay should persist the profile keyed by
    * boundary id and reload it here instead of rebuilding. The refresh
    * cost is one corpus aggregation every refreshEvery batches —
    * amortized, not per-batch. */
  def sinkWithRefresh(
      newDocs: DataFrame,
      profileSource: () => DataFrame,
      topN: Int,
      refreshEvery: Int,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    var profile: DataFrame = null
    Admission.sink(newDocs.writeStream) { b =>
      if (profile == null || b.id % refreshEvery == 0) {
        val prev = profile
        profile = TextAnalysis.vocabProfile(profileSource(), topN)
          .localCheckpoint()
        if (prev != null) graft.Frozen.release(prev)
      }
      onBatch(TextAnalysis.driftVsProfile(b.df, profile), b.id)
    }
  }

  /** Alarm filter over a drift frame: sources whose divergence crossed
    * `threshold` (JS is bounded by ln 2 ≈ 0.693; production thresholds
    * sit well below it). */
  def alerts(drift: DataFrame, threshold: Double): DataFrame =
    drift.filter(col("js_div") > threshold)
}
