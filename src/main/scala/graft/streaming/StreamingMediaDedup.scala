package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Dedup
import graft.multimodal.Multimodal

/** Streaming near-dup detection for MEDIA — the third modality of the
  * always-on admission family ([[StreamingDedup]] text,
  * [[StreamingSemDedup]] embeddings): every arriving image is
  * perceptually hashed and checked against the accumulated corpus'
  * hash index BEFORE admission.
  *
  * Shape mirrors [[StreamingDedup]] exactly: the corpus' perceptual
  * hashes band into a persisted `(id, h, i, bv)` index
  * ([[Dedup.hammingBands]] — at 100 TB written bucketed by `(i, bv)`
  * so the per-batch join needs no index-side shuffle); each
  * micro-batch decodes + hashes ITSELF (a stateless typed
  * mapPartitions — [[Multimodal.imageHashes]]), bands row-locally
  * (narrow), and stream-static equi-joins the index on the band key
  * with the exact `bit_count ≤ maxHamming` filter after. No watermark,
  * no state store, no stream-side aggregation; cost per batch ∝ batch.
  *
  * With `numBands > maxHamming` the banding is pigeonhole-COMPLETE
  * ([[Dedup.hammingBandPairs]]'s contract), so unlike the MinHash text
  * probe there is no candidate-recall trade at all: every
  * within-threshold (corpus, arriving) pair surfaces. Parity with the
  * batch pairing is pinned in StreamingMediaDedupSpec. Index growth
  * works like the text side: append the admitted batch's band rows and
  * later batches see them. */
object StreamingMediaDedup {

  /** (corpus_id, new_id, hamming) candidate rows for a streaming
    * `arriving` media frame against a static band index
    * ([[Dedup.hammingBands]] output over the corpus' image hashes,
    * carrying the full hash in `h`). A pair sharing k bands appears k
    * times; dedupe per micro-batch in the sink — a global distinct
    * would be a stateful streaming aggregation. */
  def candidates(
      index: DataFrame,
      arriving: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 3,
      numBands: Int = 4): DataFrame = {
    val probe = Dedup.hammingBands(
      Multimodal.imageHashes(arriving).toDF(), "media_id", "ahash", numBands)
    index.alias("x")
      .join(probe.alias("y"),
        col("x.i") === col("y.i") && col("x.bv") === col("y.bv") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("corpus_id"), col("y.id").as("new_id"),
        expr("CAST(bit_count(x.h ^ y.h) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** foreachBatch sink over [[candidates]]: dedupes the batch's pairs
    * and hands the distinct frame to `onBatch` with the micro-batch id
    * (idempotent under replay). Call `.start()` on the result. */
  def sink(
      index: DataFrame,
      arriving: Dataset[Multimodal.MediaRow],
      onBatch: (DataFrame, Long) => Unit,
      maxHamming: Int = 3,
      numBands: Int = 4): DataStreamWriter[Row] =
    Admission.sink(candidates(index, arriving, maxHamming, numBands).writeStream) { b =>
      onBatch(b.df.distinct(), b.id)
    }
}
