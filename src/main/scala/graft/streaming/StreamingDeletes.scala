package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Packing

/** Right-to-be-forgotten as a stream — the tombstone-log twin of
  * [[graft.extensions.Packing.applyDeletes]], in the same LSM shape as
  * [[StreamingPostings]]: arriving delete ids APPEND to a tombstone
  * log (stamped with the batch id); readers resolve the live training
  * manifest as `applyDeletes(base, log-so-far)` — one shard-keyed
  * window over manifest rows, never a corpus re-tokenization;
  * compaction folds tombstones into the base by rewriting only each
  * shard's suffix from the first tombstoned chunk
  * ([[graft.extensions.Packing.repackCost]] is the bill, priced in
  * the capstone bench).
  *
  * Exactly-once is free here: deletion is a set operation, so a
  * replayed batch appends duplicate tombstones and the anti-join
  * resolves them to the same manifest (idempotence spec-pinned) — no
  * overwrite-by-id discipline needed, unlike the postings delta whose
  * rows are state-dependent.
  *
  * Parity contract (StreamingDeletesSpec): after ANY stream of delete
  * batches, `view(base, log)` ≡ batch `applyDeletes` of the unioned
  * delete set ≡ `packChunks` over the filtered corpus. */
object StreamingDeletes {

  /** The live manifest: base minus every tombstoned doc, each shard's
    * token stream closed up over the removed spans. */
  def view(base: DataFrame, tombstones: DataFrame, budget: Int): DataFrame =
    Packing.applyDeletes(base, tombstones, budget)

  /** COMPACTION — fold the tombstone log into a new base and truncate,
    * the [[StreamingPostings.compact]] twin for the forget pipeline:
    * the new base IS the resolved manifest, and because
    * `applyDeletes(m, A)` is spec-pinned ≡ `packChunks(corpus ∖ A)`,
    * folding early is TRANSPARENT —
    * `view(compact(b, A), B) ≡ view(b, A ∪ B)` for any later tombstone
    * set B (a delete of an already-forgotten doc is a no-op by the
    * anti-join, so even replayed-across-the-boundary tombstones
    * resolve identically; both pinned in StreamingDeletesSpec). The
    * physical bill is [[graft.extensions.Packing.repackCost]]'s
    * bounded suffix rewrite per shard, priced in the capstone bench;
    * after the fold, readers stop paying the anti-join + re-window
    * over the log on every view. */
  def compact(base: DataFrame, tombstones: DataFrame, budget: Int): DataFrame =
    view(base, tombstones, budget)

  /** foreachBatch sink maintaining the tombstone log: each arriving
    * batch of `doc_id` rows is handed to `onBatch` stamped with its
    * batch id; the caller appends it to the log (append-only — replay
    * duplicates are harmless by the set semantics above). */
  def sink(
      arrivingDeletes: DataFrame,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Admission.sink(arrivingDeletes.writeStream) { b =>
      onBatch(b.df.select("doc_id").withColumn("batch_id", lit(b.id)), b.id)
    }

  /** [[sink]] with the compaction policy inside the sink (r12 VERDICT
    * #2, the [[StreamingPostings.sinkCompacting]] twin): after each
    * tombstone batch is appended, the log's segment and row counts are
    * checked against `policy`; on trigger the sink folds the ENTIRE
    * log — current batch included — into a new manifest and hands it
    * to `onCompact(newBase, batchId)`; the caller replaces the base
    * and truncates the whole log.
    *
    * Unlike the postings sink, the fold may include the in-flight
    * batch: deletion is a set operation, so a redelivered tombstone
    * whose doc was already folded away anti-joins to nothing — replay
    * across the trigger boundary is a no-op with no batch-id
    * bookkeeping at all (the property StreamingDeletesSpec pins, now
    * exercised across the AUTOMATIC trigger in
    * StreamingCompactionSpec). */
  def sinkCompacting(
      base: => DataFrame,
      log: => DataFrame,
      arrivingDeletes: DataFrame,
      budget: Int,
      onTombstones: (DataFrame, Long) => Unit,
      onCompact: (DataFrame, Long) => Unit,
      policy: CompactionPolicy = CompactionPolicy()): DataStreamWriter[Row] =
    Admission.sink(arrivingDeletes.writeStream) { b =>
      onTombstones(b.df.select("doc_id").withColumn("batch_id", lit(b.id)), b.id)
      val postLog = log // re-read: now includes this batch
      if (policy.shouldCompact(postLog, base))
        onCompact(compact(base, postLog.select("doc_id"), budget), b.id)
    }
}
