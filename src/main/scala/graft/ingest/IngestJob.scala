package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Frozen
import graft.merge.ScdMerge
import graft.metrics.Freshness

/** Batch-incremental ingest driver — the reference's poller loop
  * (feeder_postgres.py:212-259 `run_once`/`loop`) as a library function.
  * [[graft.streaming.SnapshotStream]] is the always-on formulation; this
  * one is the scheduled-batch formulation the reference actually runs.
  *
  * Semantics replicated:
  *  - discover snapshot dirs matching `YYYY-MM-DD` (:213,226)
  *  - skip dirs at or below the state's high-water mark (:224,230-231)
  *  - process the rest in ascending date order (:226)
  *  - per snapshot: normalize → drop archived → SCD merge
  *  - future-dated dirs are skipped (periodic_run.py:31-33)
  *
  * One materializing job per snapshot: the merge's `localCheckpoint`.
  * The last snapshot's job also observes the freshness gauges of the
  * state it produces ([[Freshness.observe]]); the next poll's high-water
  * mark and [[Freshness.compute]] on the returned state read those
  * gauges instead of scanning again.
  *
  * No late guard runs here: the reference aborts a snapshot older than
  * a key's `updated_at` (feeder_postgres.py:156-159), but discovery
  * admits only dates above the high-water mark, which is at least every
  * `updated_at` in the state, and each later date in a catch-up is above
  * the earlier ones. Direct [[ScdMerge.applySnapshot]] callers keep
  * [[ScdMerge.assertNotLate]].
  *
  * Only directory NAMES touch the driver (bounded by calendar days);
  * all row data stays distributed.
  */
object IngestJob {

  private val DatedDir = "^\\d{4}-\\d{2}-\\d{2}$".r

  /** List dated snapshot dirs under `root`, sorted ascending. */
  def discoverSnapshotDirs(root: String): Seq[String] = {
    val f = new java.io.File(root)
    Option(f.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(_.getName)
      .filter(DatedDir.matches(_))
      .sorted
      .toSeq
  }

  /** The state's high-water mark: greatest lifecycle date, 1970-01-01 for
    * an empty state (feeder_postgres.py:200-209 get_db_max_date). Read
    * from the observed gauges when `state` is a state [[runOnce]]
    * returned; any other frame is scanned.
    *
    * Reference quirk kept for parity: a snapshot that changes NOTHING
    * leaves every lifecycle date untouched, so the HWM does not advance
    * and the same dir is re-fed on the next poll. The merge is idempotent
    * (ScdMergeSpec), so this is wasteful but harmless — exactly the
    * reference's behavior. */
  def highWaterMark(state: DataFrame): String = {
    val hwm = Freshness.observed(state).map(r => Option(r.getDate(3))).getOrElse(
      Option(state
        .agg(greatest(max("added_at"), max("updated_at"), max("removed_at")).as("hwm"))
        .head().getDate(0)))
    hwm.fold("1970-01-01")(_.toString)
  }

  /** One poll cycle: applies every new snapshot in order, returns the new
    * state and the list of processed dates.
    *
    * Steps: the high-water mark (observed, or one aggregate for a state
    * this function did not return); discovery; then per snapshot one
    * merge, localCheckpointed. Only the last merge is observed: the
    * intermediate states are never returned, so their gauges could
    * never be read; each is freed once the next one has materialized
    * (never the caller's `state`). A snapshot dated at or below the
    * high-water mark is skipped, never merged, so a late snapshot cannot
    * reach the state. */
  def runOnce(
      spark: SparkSession,
      root: String,
      state: DataFrame,
      keyCol: String,
      trackedCols: Seq[String],
      today: String,
      readSnapshot: String => DataFrame): (DataFrame, Seq[String]) = {
    val hwm = highWaterMark(state)
    val dates = discoverSnapshotDirs(root)
      .filter(_ > hwm)     // incremental skip (feeder_postgres.py:230-231)
      .filter(_ <= today)  // future-dated guard (periodic_run.py:31-33)
    val finalState = dates.foldLeft(state) { (st, date) =>
      val snap = ScdMerge.dropArchived(Normalize.normalizeSnapshot(
        readSnapshot(s"$root/$date")))
      val last = date == dates.last
      val merge = ScdMerge.applySnapshot(st, snap, date, keyCol, trackedCols)
      val merged = if (last) Freshness.observe(merge) else merge
      // Materialize each merge generation and cut its lineage: without
      // this, the next applySnapshot re-executes the entire
      // unmaterialized chain of prior full-outer joins — O(n²) recompute
      // and unbounded plan depth once more than a handful of snapshots
      // are pending. (SnapshotStream.mergeSink's saveState achieves the
      // same by write-and-reload.)
      val next = merged.localCheckpoint()
      if (last) Freshness.remember(next, merged)
      if (st ne state) Frozen.release(st)
      next
    }
    (finalState, dates)
  }
}
