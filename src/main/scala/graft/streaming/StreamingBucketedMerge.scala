package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.merge.ScdMerge
import graft.plans.Layout

/** The demonstrated zero-sort bucketed SCD merge wired into the
  * streaming path (r19 VERDICT #6) — as an LSM over the bucketed state
  * table, because a per-batch FULL state rewrite (what
  * [[SnapshotStream.mergeSink]]'s saveState does, like the reference's
  * transaction-per-dir commit) costs O(|state|) writes per batch no
  * matter how small the batch:
  *
  *  - WRITE side, per batch: merge the snapshot against the current
  *    state and append ONLY the rows whose persisted state changed
  *    ([[ScdMerge.applySnapshotDelta]]'s flag), generation-stamped,
  *    into the bucketed table via [[Layout.appendBucketed]] — write
  *    cost ∝ changed keys, and the appended rows land sorted in the
  *    right buckets;
  *  - READ side, per batch: latest-generation-per-key over base ∪
  *    deltas. The table is bucketed on the key, so the resolve is
  *    EXCHANGE-FREE at any fragmentation (the window's required
  *    hash-distribution is the bucketing); while fragmented it pays a
  *    per-bucket sort, which is exactly what compaction removes;
  *  - MAINTENANCE, on the [[Layout.maybeCompactBucketed]]-style policy:
  *    a RESOLVING compaction ([[compact]]) rewrites the table to the
  *    resolved rows at one sorted file per bucket — gen resets to 0 —
  *    after which the next merge consumes the scan's claimed sort
  *    order directly: NO Exchange and NO Sort on the state side again
  *    (StreamingBucketedMergeSpec pins both plan regimes; the
  *    fragmented regime is Sort-but-no-Exchange). Plain
  *    [[Layout.compactBucketed]] would keep superseded generations;
  *    the LSM needs the resolve folded into the rewrite — the
  *    [[graft.extensions.Postings]] base+delta compaction discipline
  *    applied to merge state.
  *
  * Exactly-once: the appended delta is a pure function of (state
  * table, batch); under foreachBatch redelivery the same batchId would
  * re-append its delta, so [[State.gen]] acts as the replay guard —
  * the sink skips a batchId at or below the last applied generation
  * (the [[StreamingSoftDedup]] batchId high-water discipline). */
object StreamingBucketedMerge {

  /** Driver-side handle on the persisted LSM state: the table, its
    * bucketing, the next generation stamp, and whether un-compacted
    * deltas exist (which decides the read plan — claimed-order direct
    * scan vs window resolve). */
  final case class State(
      table: String, keyCol: String, trackedCols: Seq[String],
      buckets: Int, gen: Long, fragmented: Boolean)

  /** Bootstrap: persist the initial state resolved at gen 0, one
    * sorted file per bucket. */
  def init(
      initial: DataFrame, table: String, keyCol: String,
      trackedCols: Seq[String], buckets: Int): State = {
    Layout.writeBucketedSorted(
      initial.withColumn("_gen", lit(0L)), table, Seq(keyCol), buckets)
    State(table, keyCol, trackedCols, buckets, gen = 0L, fragmented = false)
  }

  /** The current resolved state (lifecycle rows, no `_gen`). Compacted:
    * a direct scan — bucketed AND claiming its per-file sort order, the
    * zero-sort merge input. Fragmented: latest-gen-per-key window —
    * the bucketing satisfies the window's distribution (no Exchange);
    * the per-bucket sort is the price deltas accrue until compaction. */
  def currentState(spark: SparkSession, st: State): DataFrame = {
    val t = spark.table(st.table)
    // The handle's fragmented flag is ADVISORY: a crash between a
    // delta append and the caller persisting the new handle leaves
    // fragmented=false beside a physically fragmented table, and the
    // direct scan would return BOTH generations of every changed key —
    // after which the replayed merge appends duplicate rows at one _gen
    // and the state diverges permanently. Compaction resets every _gen
    // to 0, so max(_gen) > 0 is the exact physical test; a true flag
    // short-circuits it (trusting fragmented=true is always safe), and
    // the small aggregate rides the column's footer stats. With the
    // physical test, redelivery of an already-appended batch resolves
    // to the post-batch state, its delta computes EMPTY, and the replay
    // is idempotent even with a stale handle.
    val fragmented = st.fragmented || {
      val m = t.agg(max(col("_gen"))).head
      !m.isNullAt(0) && m.getLong(0) > 0L
    }
    if (!fragmented) t.drop("_gen")
    else {
      val w = Window.partitionBy(col(st.keyCol)).orderBy(col("_gen").desc)
      t.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn", "_gen")
    }
  }

  /** Merge one dated snapshot and append its delta. Returns the state
    * handle with the generation advanced (and fragmented unless the
    * delta was empty). The snapshot is deduped by [[ScdMerge]]'s
    * default path; forward-time application is the caller's contract
    * ([[ScdMerge.assertNotLate]] — also what makes the delta flag
    * complete). */
  def applyBatch(
      spark: SparkSession, st: State, snapshot: DataFrame,
      snapshotDate: String): State = {
    val delta = ScdMerge.applySnapshotDelta(
      currentState(spark, st), snapshot, snapshotDate,
      st.keyCol, st.trackedCols)
      .filter(col(ScdMerge.ChangedCol)).drop(ScdMerge.ChangedCol)
      .withColumn("_gen", lit(st.gen + 1))
      // materialize BEFORE appending into the table the plan reads —
      // and so the append (a second action) doesn't recompute the merge
      .localCheckpoint()
    // free after the append: an always-on sink otherwise pins one
    // delta's blocks per micro-batch
    try {
      if (delta.isEmpty) st.copy(gen = st.gen + 1)
      else {
        Layout.appendBucketed(delta, st.table, Seq(st.keyCol), st.buckets)
        st.copy(gen = st.gen + 1, fragmented = true)
      }
    } finally graft.Frozen.release(delta)
  }

  /** RESOLVING compaction: rewrite the table to latest-per-key at one
    * sorted file per bucket, generations folded back to 0. After this
    * the state side of the next merge is Exchange- AND Sort-free
    * again. */
  def compact(spark: SparkSession, st: State): State = {
    val resolved = currentState(spark, st)
      .withColumn("_gen", lit(0L))
      .localCheckpoint() // sever lineage: the write replaces its input
    try {
      Layout.writeBucketedSorted(resolved, st.table, Seq(st.keyCol), st.buckets)
      st.copy(fragmented = false)
    } finally graft.Frozen.release(resolved)
  }

  /** [[applyBatch]] + policy compaction: compact when the table's file
    * census crosses `maxFilesPerBucket` ([[Layout.maybeCompactBucketed]]'s
    * trigger applied to the resolving rewrite). */
  def applyBatchCompacting(
      spark: SparkSession, st: State, snapshot: DataFrame,
      snapshotDate: String, maxFilesPerBucket: Int = 4): State = {
    val next = applyBatch(spark, st, snapshot, snapshotDate)
    if (next.fragmented &&
      Layout.bucketedDataFiles(spark, next.table) >=
        maxFilesPerBucket.toLong * next.buckets)
      compact(spark, next)
    else next
  }

  /** foreachBatch sink over a stream of dated snapshots (the
    * [[SnapshotStream.mergeSink]] shape with the LSM state): batches at
    * or below the last applied generation are SKIPPED (replay guard —
    * an append is not idempotent), each applied batch appends its
    * delta and compaction runs on the policy. `state` is by-name so
    * redelivery after a restart re-reads the caller's persisted
    * handle. */
  def sink(
      state: () => State,
      arriving: DataFrame,
      dateOf: (DataFrame, Long) => String,
      onBatch: (State, Long) => Unit,
      maxFilesPerBucket: Int = 4): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val st = state()
      if (b.id + 1 > st.gen) { // replay guard: gen N applied batch N-1
        val next = applyBatchCompacting(b.df.sparkSession, st, b.frozen,
          dateOf(b.frozen, b.id), maxFilesPerBucket)
        onBatch(next, b.id)
      }
    }
}
