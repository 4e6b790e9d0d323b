package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.DataSelection

/** Streaming reference-LM scoring — the live-ingest counterpart of
  * [[DataSelection.perplexityScore]]: each arriving micro-batch of
  * documents is scored against a FROZEN reference bigram LM, so an
  * ingest gate can drop (or tail-bucket) low-scoring docs the moment
  * they arrive instead of waiting for a batch re-score.
  *
  * The freeze is the point. A self-trained LM (q_bigram_lm's shape)
  * drifts as the corpus grows — the same document scores differently
  * on Monday and Friday, so admission decisions are irreproducible. A
  * reference LM is a fixed yardstick: scores depend only on document
  * content, which makes the per-batch handoff idempotent under
  * micro-batch replay (same rows ⇒ same scores, any time) and batch ≡
  * streaming parity EXACT rather than boundary-dependent
  * (StreamingPerplexitySpec pins both).
  *
  * Shape: the three LM frames (bigram counts, context totals, vocab
  * scalar — Zipf-bounded, far below corpus size) are materialized ONCE
  * via localCheckpoint at sink construction; every micro-batch pays
  * one tokenize + two joins against those frozen frames plus a
  * per-doc aggregate — cost ∝ batch, never corpus, and no streaming
  * state operators. Refresh-on-cadence is deliberately absent: a
  * yardstick that moves is the failure mode this twin exists to
  * remove. Re-deploy the sink to adopt a new reference. */
object StreamingPerplexity {

  /** Train and FREEZE the reference LM from a static corpus frame
    * (reference slice cut by the [[DataSelection]] 1-in-5 convention).
    * [[DataSelection.refLm]] already localCheckpoints all three frames,
    * so per-batch joins read materialized blocks instead of re-running
    * the reference aggregations every trigger. */
  def frozenLm(referenceCorpus: DataFrame): DataSelection.RefLm =
    DataSelection.refLm(referenceCorpus)

  /** Score one (micro-)batch of `(doc_id, lang, text)` rows against a
    * frozen LM — the exact [[DataSelection.scoreAgainst]] formula, so
    * batch and streaming can never drift apart by construction. */
  def scoreBatch(
      batch: DataFrame, lm: DataSelection.RefLm, k: Double = 0.5): DataFrame =
    DataSelection.scoreAgainst(
      batch.select(col("doc_id"), col("lang"), DataSelection.toks.as("arr")),
      lm, k)

  /** foreachBatch sink: every micro-batch's scores, handed to `onBatch`
    * with the micro-batch id. Call `.start()` on the result. */
  def sink(
      newDocs: DataFrame,
      lm: DataSelection.RefLm,
      onBatch: (DataFrame, Long) => Unit,
      k: Double = 0.5): DataStreamWriter[Row] =
    Admission.sink(newDocs.writeStream) { b =>
      onBatch(scoreBatch(b.df, lm, k), b.id)
    }
}
