package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Dedup
import graft.multimodal.Multimodal

/** Streaming twin of the JOINT multimodal↔text dedup composition
  * (q_media_text_dedup): one arriving stream of paired (doc, media)
  * rows is checked against the accumulated corpus on BOTH channels
  * before admission, and every candidate pair is channel-attributed —
  * `text` (same caption, new image), `media` (same image, new caption),
  * or `both` (straight re-post) — the triage a curation pipeline runs
  * on re-uploads.
  *
  * Shape: the corpus persists per-channel band indexes — text SimHash,
  * image perceptual hash, and (optionally) audio envelope hash,
  * kind-segregated — all `(id, h, i, bv)` frames from
  * [[Dedup.hammingBands]] (at 100 TB each written bucketed by
  * `(i, bv)`, so per-batch probes need no index-side shuffle — the
  * [[StreamingDedup]] bucketed-index contract). ALL per-batch work runs
  * INSIDE foreachBatch, where the micro-batch is a plain DataFrame:
  * SimHash needs a per-doc shingle aggregation that would be a stateful
  * streaming aggregation on the raw stream side, but inside the batch
  * it is ordinary batch work — the same placement [[StreamingDsir]] /
  * [[StreamingPerplexity]] use for their scoring joins. The two
  * candidate frames are both batch-derived, so the channel-attribution
  * full-outer join is a plain batch join too, never a stream-stream
  * join with state.
  *
  * With `numBands > maxHamming` BOTH probes are pigeonhole-complete
  * ([[Dedup.hammingBandPairs]]'s contract): every within-threshold
  * (corpus, arriving) pair surfaces on its channel — so the attribution
  * is exact, not banding-shaped. Parity with the static composition is
  * pinned in StreamingJointDedupSpec; the output is a pure function of
  * the micro-batch, so replay re-produces it bitwise (idempotent
  * handoff via the batchId, like every foreachBatch sink here).
  *
  * Index growth works like the single-channel twins: append the
  * admitted batch's band rows to each index and later batches see
  * them. */
object StreamingJointDedup {

  /** Probe one 64-bit Hamming band index with an arriving hash frame:
    * (corpus_id, new_id, hamming ≤ maxHamming). The exact-distance
    * filter runs after the band-equality join, so the join itself is an
    * equi-join a bucketed index serves shuffle-free. */
  private def probe(
      index: DataFrame,
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      numBands: Int): DataFrame =
    index.alias("x")
      .join(Dedup.hammingBands(hashes, idCol, hashCol, numBands).alias("y"),
        col("x.i") === col("y.i") && col("x.bv") === col("y.bv") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("corpus_id"), col("y.id").as("new_id"),
        expr("CAST(bit_count(x.h ^ y.h) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** The per-batch composition over a STATIC paired frame
    * (`doc_id`, `text`, media payload columns of
    * [[Multimodal.MediaRow]] keyed by doc_id = media_id): probe both
    * channels' indexes, full-outer join on the pair key, attribute the
    * channel. Exposed so the spec (and any batch backfill) can run the
    * exact code path the sink runs per micro-batch.
    *
    * Modality-complete on the media channel: image attachments probe
    * `imageIndex` (perceptual aHash), audio attachments probe
    * `audioIndex` (energy-envelope hash) when one is supplied — each
    * kind against its OWN index, never cross-kind (an aHash and an
    * ehash occupying the same 64-bit space must not be compared). The
    * two kind legs union and collapse to min-hamming per pair, so a
    * doc carrying both an image and an audio attachment still yields
    * ONE media row per counterpart and the attribution join stays
    * key-unique.
    *
    * FAILS FAST (r16 ADVICE) when the batch carries an attachment kind
    * with no matching index — e.g. audio rows with `audioIndex = None`:
    * admitting such a row would silently treat a re-post as novel, a
    * coverage hole in an admission path that advertises modality
    * completeness. The check is one narrow distinct over the batch's
    * `kind` column — trivial beside the two hash probes. */
  def jointCandidates(
      spark: SparkSession,
      textIndex: DataFrame,
      imageIndex: DataFrame,
      batch: DataFrame,
      maxHamming: Int = 3,
      numBands: Int = 4,
      audioIndex: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val probedKinds = Set("image") ++ audioIndex.map(_ => "audio")
    // String.valueOf: a NULL kind must reach the require's diagnostic as
    // "null", not NPE out of Ordering[String].sorted before the message
    // prints (r17 ADVICE)
    val unprobed = batch.select("kind").distinct().as[String].collect()
      .map(String.valueOf(_: String))
      .filterNot(probedKinds)
    require(unprobed.isEmpty,
      s"batch carries attachment kinds with no matching index: " +
        s"${unprobed.sorted.mkString(", ")} — supply the kind's index " +
        "(audioIndex for 'audio') or filter those rows; admitting them " +
        "unprobed would silently pass re-posts as novel")
    val textCands = probe(textIndex,
      Dedup.simHash(batch.select(col("doc_id"), col("text")), share = false),
      "doc_id", "simhash", maxHamming, numBands)
      .withColumnRenamed("hamming", "t_hamming")
    val media = batch
      .select(col("doc_id").as("media_id"), col("kind"), col("payload"),
        col("meta"))
      .as[Multimodal.MediaRow]
    val imageCands = probe(imageIndex,
      Multimodal.imageHashes(media).toDF(), "media_id", "ahash",
      maxHamming, numBands)
    val mediaCands = audioIndex
      .map { ai =>
        imageCands.unionByName(
            probe(ai, Multimodal.audioHashes(media).toDF(), "media_id",
              "ehash", maxHamming, numBands))
          .groupBy("corpus_id", "new_id")
          .agg(min(col("hamming")).as("hamming"))
      }
      .getOrElse(imageCands)
      .withColumnRenamed("hamming", "m_hamming")
    textCands.join(mediaCands, Seq("corpus_id", "new_id"), "full_outer")
      .select(col("corpus_id"), col("new_id"), col("t_hamming"),
        col("m_hamming"),
        when(col("t_hamming").isNotNull && col("m_hamming").isNotNull,
          lit("both"))
          .when(col("t_hamming").isNotNull, lit("text"))
          .otherwise(lit("media")).as("channel"))
  }

  /** foreachBatch sink over [[jointCandidates]]: hands each micro-batch's
    * channel-attributed pair frame to `onBatch` with the batch id
    * (idempotent under replay — the frame is a pure function of the
    * batch). Call `.start()` on the result. */
  def sink(
      textIndex: DataFrame,
      imageIndex: DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      maxHamming: Int = 3,
      numBands: Int = 4,
      audioIndex: Option[DataFrame] = None): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(jointCandidates(b.df.sparkSession, textIndex, imageIndex,
        b.df, maxHamming, numBands, audioIndex), b.id)
    }
}
