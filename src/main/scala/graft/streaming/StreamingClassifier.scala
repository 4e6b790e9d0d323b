package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.TextAnalysis

/** Streaming twin of the bootstrap quality classifier
  * (q_classifier_score): the NB log-count-ratio weight table is trained
  * ONCE on the corpus, frozen, and every arriving micro-batch is scored
  * against it — the classifier-filter stage running at admission, the
  * way quality models are actually deployed (train offline, sweep
  * online; retrain at compaction cadence).
  *
  * The scoring code is [[TextAnalysis.scoreWithWeights]] VERBATIM —
  * batch ≡ static by construction ([[StreamingClassifierSpec]] pins
  * it) — so the one semantic difference is deliberate and explicit:
  * batch tokens OUTSIDE the frozen vocab contribute 0 while still
  * counting toward length normalization (a doc made entirely of unseen
  * tokens scores 0, not NULL). Per-batch cost ∝ batch (one narrow
  * batch scan + the broadcast weight join); zero streaming state. */
object StreamingClassifier {

  /** The frozen weight dim: localCheckpoint'ed AND broadcast-decided
    * here, once (TextAnalysis.prepareWeightDim), so every batch reads
    * one materialization and the scorer never re-sizes or re-checkpoints
    * it per micro-batch (r17 ADVICE — the old path accumulated one
    * never-unpersisted checkpointed RDD per batch). */
  def weights(corpus: DataFrame): DataFrame =
    TextAnalysis.prepareWeightDim(TextAnalysis.nbWeights(corpus))

  /** Score one STATIC batch frame (doc_id, text, n_chars) against the
    * frozen weights — the exact per-micro-batch code path. */
  def admitBatch(batch: DataFrame, weights: DataFrame,
                 threshold: Double = 0.0): DataFrame =
    TextAnalysis.scoreWithWeights(batch, weights, threshold)

  /** foreachBatch sink over [[admitBatch]] (idempotent under replay —
    * pure function of the batch and the frozen weights). */
  def sink(weights: DataFrame, arriving: DataFrame,
           onBatch: (DataFrame, Long) => Unit,
           threshold: Double = 0.0): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(admitBatch(b.df, weights, threshold), b.id)
    }
}
