package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Dedup

/** Streaming near-dup detection — the always-on counterpart of
  * [[graft.extensions.Dedup.lshProbe]], mirroring the reference's
  * continuous ingest loop (feeder_postgres.py:251-259: poll → diff →
  * upsert) at the near-dup layer: every arriving document is checked
  * against the accumulated corpus BEFORE it is admitted.
  *
  * Shape: the corpus' `(doc_id, band, bkey)` LSH index
  * ([[Dedup.bandBuckets]]) is built once and persisted; each micro-batch
  * is banded by [[Dedup.bandBucketsRowLocal]] — a STATELESS narrow
  * projection (no explode-then-groupBy, so no watermark, no state store,
  * no shuffle on the stream side) — and stream-static equi-joined against
  * the index on `(band, bkey)`. Cost per batch is proportional to the
  * batch, never the corpus.
  *
  * Index growth: a stream-static join re-reads the static side's FILES
  * each micro-batch, so pointing `index` at a parquet directory and
  * having the admission job append each accepted batch's band rows
  * (`Dedup.bandBucketsRowLocal(acceptedDocs)`) makes later batches see
  * earlier stream documents — no restart, no state migration.
  * FRESHNESS CONTRACT for a CATALOG-table index: the session catalog
  * memoizes the resolved relation (file listing included), so the
  * appending side must `refreshTable` after each append
  * ([[graft.plans.Layout.appendBucketed]] does) and a reader in a
  * DIFFERENT session — e.g. inside foreachBatch, which runs under a
  * session clone — refreshes its own session before resolving by name
  * (StreamingDedupSpec's growth test pins the end-to-end loop:
  * admit batch 0, probe batch 1, hit with no restart). With the
  * index bucketed by `(band, bkey)` ([[graft.plans.Layout.writeBucketed]],
  * appended via [[graft.plans.Layout.appendBucketed]]) the per-batch join
  * needs no index-side shuffle at all — PINNED in StreamingDedupSpec
  * ("bucketed on-disk index"): the micro-batch executed plan's sort-merge
  * join reads the index from a bucketed FileScan with zero exchanges on
  * that side; the only exchange is the batch-sized stream side. The
  * per-batch probe cost against a growing on-disk index is measured each
  * round in the bench `streaming` section.
  *
  * Parity contract: for any micro-batch B, `candidates(index, B)` after
  * per-batch dedup equals `Dedup.lshProbe(index, B)` — pinned in
  * StreamingDedupSpec (MemoryStream) on the harness corpus; the banding
  * equivalence itself (row-local ≡ exploded) is pinned in
  * BandBucketsParitySpec.
  */
object StreamingDedup {

  /** (corpus_id, new_id) candidate rows for a streaming `newDocs` frame
    * (`doc_id`, `text`) against a static band index. Streaming-safe: the
    * stream side is banded row-locally (narrow), the join is
    * stream-static inner — Spark keeps NO state for it. A pair sharing
    * k bands appears k times; dedupe per micro-batch in the sink
    * ([[sink]] does) — a global `distinct()` would be a streaming
    * aggregation with unbounded state, exactly what this formulation
    * avoids. Band parameters must match those that built the index. */
  def candidates(
      index: DataFrame,
      newDocs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false): DataFrame =
    Dedup.bandBucketsRowLocal(newDocs, numHashes, rowsPerBand, fastHash)
      .alias("y")
      .join(index.alias("x"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("new_id"))

  /** foreachBatch sink over [[candidates]]: dedupes the batch's pairs
    * (cheap — candidate sets are tiny next to the batch) and hands the
    * distinct `(corpus_id, new_id)` frame to `onBatch` together with the
    * micro-batch id, which makes the handoff idempotent under
    * micro-batch replay (same id ⇒ same pairs ⇒ overwrite-by-id sinks
    * are exactly-once). Call `.start()` on the result. */
  def sink(
      index: DataFrame,
      newDocs: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false): DataStreamWriter[Row] =
    Admission.sink(
      candidates(index, newDocs, numHashes, rowsPerBand, fastHash).writeStream) { b =>
      onBatch(b.df.distinct(), b.id)
    }
}
