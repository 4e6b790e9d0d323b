package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.DataSelection

/** Streaming DSIR scorer — the live-ingest counterpart of
  * [[DataSelection.dsirWeights]], completing the frozen-yardstick pair
  * with [[StreamingPerplexity]]: each arriving micro-batch is scored
  * against a FROZEN feature-ratio table, so an admission gate can
  * up-weight reference-like documents the moment they arrive.
  *
  * The full-domain contract makes this sound: [[DataSelection
  * .featureRatio]] materializes a ratio for EVERY feature id in
  * [0, buckets) — features the fitting corpus never hashed to carry
  * the all-zero smoothed ratio — so a new document whose tokens were
  * never seen still scores every token (an inner join on a seen-only
  * table would silently DROP unseen tokens and deflate n_tok; the
  * spec pins a never-seen-token batch). Scores are content-pure:
  * batch ≡ stream parity is exact, replay idempotent, the same
  * discipline as every frozen-yardstick twin.
  *
  * Shape: the ratio table is exactly `buckets` rows, frozen once at
  * sink construction and broadcast into every micro-batch join;
  * per-batch cost is one tokenize + one broadcast join + a per-doc
  * aggregate — ∝ batch, never corpus, no streaming state operators. */
object StreamingDsir {

  /** The frozen yardstick: fit the ratio table once from the static
    * corpus (reference slice cut by the 1-in-5 convention). */
  def frozenRatio(
      corpus: DataFrame, buckets: Int = 4096, k: Double = 0.5): DataFrame =
    DataSelection.featureRatio(corpus, buckets, k)

  /** Score one (micro-)batch of `(doc_id, text)` rows — the exact
    * [[DataSelection.dsirWeights]] scoring formula via the shared
    * helper, so batch and streaming cannot drift apart. */
  def scoreBatch(
      batch: DataFrame, ratio: DataFrame, buckets: Int = 4096): DataFrame =
    DataSelection.scoreTokensAgainst(
      batch.select(col("doc_id"), DataSelection.toks.as("arr")),
      ratio, buckets)

  /** foreachBatch sink: every micro-batch's weights, handed to
    * `onBatch` with the micro-batch id. Call `.start()` on the
    * result. */
  def sink(
      newDocs: DataFrame,
      ratio: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      buckets: Int = 4096): DataStreamWriter[Row] =
    Admission.sink(newDocs.writeStream) { b =>
      onBatch(scoreBatch(b.df, ratio, buckets), b.id)
    }
}
