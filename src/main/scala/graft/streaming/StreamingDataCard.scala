package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.{DataCard, Funnel}

/** The always-current RELEASE CARD — the streaming twin of
  * [[graft.extensions.DataCard]]'s mergeable states, completing the
  * family the way [[StreamingSketch]] twins the corpus profile: each
  * micro-batch is reduced to its bounded card state
  * ([[DataCard.buildState]] — tallies + per-source/lang counts + KMV
  * min-hash rows) and merged into the maintained state, so the
  * shippable card ([[DataCard.renderMerged]]) is continuously current
  * without ever re-reading history.
  *
  * Exactness inheritance: `mergeStates ∘ buildState ≡ buildState ∘
  * union` is pinned BITWISE in DataCardSpec (the KMV merge keeps the
  * k smallest of the union — exact w.r.t. the sketch), so any batch
  * decomposition of the corpus folds to the state a one-shot build
  * would produce; StreamingDataCardSpec pins the same identity through
  * a live MemoryStream.
  *
  * State shape at 100 TB: ≤ 5 + |sources| + |langs| + 2k rows —
  * driver-postcard-sized — so per-batch cost is one narrow pass over
  * the batch plus an O(state) merge, independent of corpus age. The
  * tally rows are SUMS: this is a fold twin under the [[Admission]]
  * replay contract. */
object StreamingDataCard {

  /** foreachBatch sink maintaining the card state: each arriving batch
    * of documents is reduced to its bounded state and merged into the
    * caller-persisted current state; `onBatch(newState, batchId)`
    * persists it (overwrite keyed by batchId). `state` is by-name so
    * each batch re-reads the caller's current state — the
    * stream-static shape every streaming twin in this repo uses. */
  def sink(
      state: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      k: Int = 256,
      stopwords: Seq[String] = Funnel.DefaultStopwords): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val batchState = DataCard.buildState(b.frozen, k, stopwords)
      onBatch(DataCard.mergeStates(state, batchState, k), b.id)
    }
}
