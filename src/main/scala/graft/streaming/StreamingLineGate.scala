package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.util.sketch.BloomFilter

import graft.extensions.{LineDedup, Membership}

/** Boilerplate-line scrubbing AT ADMISSION — the streaming twin of
  * [[LineDedup.dedupLines]] (q_line_dedup), under the frozen-dim
  * discipline every admission twin here uses: the duplicated-line set
  * is FROZEN from a reference corpus census
  * ([[freezeBoilerplate]] — in production, last crawl's
  * q_boilerplate_lines run), and each arriving micro-batch is scrubbed
  * against that set by [[LineDedup.applyDupSet]] VERBATIM, so
  * batch ≡ static by construction (StreamingLineGateSpec pins a
  * replayed corpus against q_line_dedup's output exactly).
  *
  * Freezing is semantically honest for this policy: a boilerplate set
  * is a property of the TEMPLATE population, which drifts on crawl
  * cadence, not batch cadence — the same reasoning as the frozen
  * classifier/vocab twins. Lines newly duplicated WITHIN the live
  * stream are invisible until the next census re-freeze; that gap is
  * the documented freshness trade, and the running report's
  * frac_dropped drifting toward zero is the re-freeze alarm (the
  * unseg_frac discipline of [[StreamingTokenizerStats]]).
  *
  * Scale shape: the frozen set is the boilerplate census — small by
  * construction — so the per-batch anti-join broadcasts it; per-batch
  * cost ∝ batch, ZERO streaming state beyond the 1-row running
  * report. The report is a SUM, a fold under the [[Admission]] replay
  * contract; the scrubbed frame itself is a pure function of (batch,
  * frozen set) and safe to re-emit. */
object StreamingLineGate {

  /** The frozen dim: lines with document frequency > `maxDf` in the
    * reference corpus (q_boilerplate_lines without the top-N cut). */
  def freezeBoilerplate(
      reference: DataFrame, lineLen: Int = 6, maxDf: Int = 1): DataFrame =
    LineDedup.lineDf(reference, lineLen)
      .filter(col("n_docs") > maxDf).select("line")

  /** Scrub one micro-batch against the frozen set — the batch operator
    * verbatim; output contract is [[LineDedup.dedupLines]]'s
    * (doc_id, n_lines, n_kept, text_clean). `share = false`: a memo
    * entry keyed on each micro-batch's distinct plan would accumulate
    * per batch (the [[LineDedup.lines]] contract). */
  def admitBatch(
      batch: DataFrame, boilerplate: DataFrame, lineLen: Int = 6): DataFrame =
    LineDedup.applyDupSet(batch, boilerplate, lineLen, share = false)

  /** The frozen dim in BLOOM form — [[LineDedup.dedupLinesBloom]]'s
    * admission twin for the decade where the reference corpus' dup-line
    * TABLE outgrows the per-batch broadcast: the census runs on
    * xxhash64(line) only (8-byte shuffle keys) and folds into one
    * broadcast bitset built ONCE at freeze time; every arriving batch
    * then pays a codegen'd scan-side probe, no per-batch join side at
    * all. `None` when the reference census has no dup lines — nothing
    * to scrub, [[admitBatchBloom]] admits everything (the
    * stat.bloomFilter zero-row guard, the [[LineDedup.dedupLinesBloom]]
    * discipline).
    *
    * The FP contract is [[LineDedup.dedupLinesBloom]]'s verbatim: a
    * false positive drops an innocent line from every batch for the
    * LIFETIME of the freeze — extra removal, never resurrection — so
    * size `expectedDupLines`/`fpp` against the LIVE stream's distinct-
    * line rate, not just the reference's (the filter is probed by every
    * arriving line until the next re-freeze). */
  def freezeBoilerplateBloom(
      reference: DataFrame, lineLen: Int = 6, maxDf: Int = 1,
      expectedDupLines: Long = 1L << 20, fpp: Double = 1e-9)
      : Option[Broadcast[BloomFilter]] = {
    val dup = LineDedup.dupLineHashes(reference, lineLen, maxDf)
    if (dup.isEmpty) None
    else Some(Membership.hashSetFilter(dup, "_h", expectedDupLines, fpp))
  }

  /** [[admitBatch]] for the Bloom regime: scrub one micro-batch by
    * scan-side probe of the frozen bitset ([[LineDedup.applyDupBloom]]
    * verbatim, so batch ≡ static given the filter); `None` (empty
    * frozen census) admits every line unscrubbed — the same identity
    * the exact gate reads from an empty boilerplate set. */
  def admitBatchBloom(
      batch: DataFrame, frozen: Option[Broadcast[BloomFilter]],
      lineLen: Int = 6): DataFrame =
    frozen match {
      case Some(bf) =>
        LineDedup.applyDupBloom(batch, bf, lineLen, share = false)
      case None =>
        val empty = batch.sparkSession.emptyDataFrame
          .select(lit("").as("line")).limit(0)
        LineDedup.applyDupSet(batch, empty, lineLen, share = false)
    }

  /** The zero removal-mass report. */
  def emptyReport(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("n_docs"),
      col("id").as("total_lines"), col("id").as("dropped_lines"))

  /** One batch's removal mass from its scrubbed frame. */
  def batchReport(scrubbed: DataFrame): DataFrame =
    scrubbed.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum("n_lines"), lit(0L)).as("total_lines"),
      coalesce(sum(col("n_lines") - col("n_kept")), lit(0L))
        .as("dropped_lines"))

  /** Merge reports by plain sum (empty side contributes zeros). */
  def mergeReports(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(
      coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
      coalesce(sum("total_lines"), lit(0L)).as("total_lines"),
      coalesce(sum("dropped_lines"), lit(0L)).as("dropped_lines"))

  /** foreachBatch sink: hands the caller the batch's scrubbed frame
    * and the RUNNING removal-mass report. `state` is by-name so each
    * batch re-reads the caller's persisted report — the stream-static
    * shape every twin in this repo uses. The scrubbed frame is
    * checkpointed and handed over; the caller owns its lifetime and
    * frees it with [[graft.Frozen.release]] once done with it. */
  def sink(
      state: => DataFrame,
      boilerplate: DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, DataFrame, Long) => Unit,
      lineLen: Int = 6): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val scrubbed = admitBatch(b.frozen, boilerplate, lineLen).localCheckpoint()
      onBatch(scrubbed, mergeReports(state, batchReport(scrubbed)), b.id)
    }

  /** [[sink]] for the Bloom regime — identical replay/report contract,
    * and the caller frees the scrubbed frame with
    * [[graft.Frozen.release]] the same way; the per-batch scrub is the scan-side probe of the ONE frozen
    * bitset ([[admitBatchBloom]]), so admission cost is batch-scan ∝
    * batch with no per-batch broadcast rebuild or join side. */
  def sinkBloom(
      state: => DataFrame,
      frozen: Option[Broadcast[BloomFilter]],
      arriving: DataFrame,
      onBatch: (DataFrame, DataFrame, Long) => Unit,
      lineLen: Int = 6): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val scrubbed = admitBatchBloom(b.frozen, frozen, lineLen).localCheckpoint()
      onBatch(scrubbed, mergeReports(state, batchReport(scrubbed)), b.id)
    }
}
