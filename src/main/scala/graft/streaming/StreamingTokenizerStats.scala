package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.UnigramLm

/** Streaming twin of the tokenizer diagnostics (q_unigram_segment /
  * q_tokenizer_fertility): every arriving micro-batch is segmented
  * under the FROZEN unigram vocabulary and reduced to one tokenizer-
  * health row — fertility (pieces per word occurrence, the training-
  * cost proxy) and coverage (the share of word occurrences the
  * vocabulary cannot segment at all: charset/domain drift shows up
  * here first, exactly the signal that tells a pipeline its tokenizer
  * no longer fits the incoming data).
  *
  * The segmentation is [[UnigramLm.viterbiSegment]] VERBATIM over the
  * batch's own word-frequency table — batch ≡ static by construction
  * (StreamingTokenizerStatsSpec pins stream ≡ the same reduction of
  * q_unigram_segment's path). Per-batch cost ∝ batch (one batch scan,
  * one word aggregate, a 1-row reduce); ZERO streaming state, so the
  * sink is idempotent under batch replay. Unlike the registry rows'
  * full-coverage fixture, a frozen PRODUCTION vocab may lack
  * characters — unsegmentable words surface as NULL segmentations and
  * are billed in unseg_frac rather than silently dropped. */
object StreamingTokenizerStats {

  /** One tokenizer-health row for a STATIC frame (the exact
    * per-micro-batch code path): n_words (distinct), total_freq
    * (word occurrences), seg_freq / total_pieces over the segmentable
    * subset, fertility = total_pieces / seg_freq (NULL when nothing
    * segments), unseg_frac = unsegmentable occurrences / total_freq. */
  def admitBatch(batch: DataFrame, vocab: Map[String, Double],
                 maxPieceLen: Int = 4): DataFrame = {
    val seg = UnigramLm.viterbiSegment(
      UnigramLm.wordFreqs(batch), vocab, maxPieceLen)
    val segFreq = sum(when(col("n_pieces").isNotNull, col("freq"))
      .otherwise(lit(0L)))
    val pieces = sum(when(col("n_pieces").isNotNull,
      col("freq") * col("n_pieces")).otherwise(lit(0L)))
    seg.agg(
        count(lit(1)).as("n_words"),
        coalesce(sum("freq"), lit(0L)).as("total_freq"),
        coalesce(segFreq, lit(0L)).as("seg_freq"), // empty batch → 0s,
        coalesce(pieces, lit(0L)).as("total_pieces")) // not NULLs
      .select(col("n_words"), col("total_freq"), col("seg_freq"),
        col("total_pieces"),
        when(col("seg_freq") > 0,
          round(col("total_pieces") * lit(1.0) / col("seg_freq"), 4))
          .as("fertility"),
        when(col("total_freq") > 0,
          round((col("total_freq") - col("seg_freq")) * lit(1.0)
            / col("total_freq"), 4))
          .as("unseg_frac"))
  }

  /** foreachBatch sink over [[admitBatch]] (idempotent under replay —
    * a pure function of the batch and the frozen vocabulary). */
  def sink(vocab: Map[String, Double], arriving: DataFrame,
           onBatch: (DataFrame, Long) => Unit,
           maxPieceLen: Int = 4): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(admitBatch(b.df, vocab, maxPieceLen), b.id)
    }
}
