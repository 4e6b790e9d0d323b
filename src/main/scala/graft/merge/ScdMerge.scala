package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD-2-lite snapshot merge — the reference's largest hand-written operator
  * (feeder_postgres.py:111-194): weekly snapshot vs current state, keyed by
  * `id`, maintaining lifecycle columns `added_at / updated_at / removed_at`.
  *
  * Reference semantics replicated exactly:
  *  - new key            → insert, added_at = updated_at = snapshot date
  *                         (feeder_postgres.py:141-152)
  *  - existing key       → added_at = min(existing, date) (:154); values
  *                         replaced where they differ; updated_at = date iff
  *                         any non-lifecycle column changed (:162-178)
  *  - key absent from snapshot, added_at < date, and not already removed
  *                         → removed_at = date (tombstone, :181-192)
  *  - reappearing key    → data columns refresh but removed_at is NOT
  *                         cleared (the reference's column diff only covers
  *                         snapshot columns, :162 — a documented quirk we
  *                         keep for parity)
  *  - snapshot older than state → "newer record detected" abort (:156-159),
  *                         exposed as [[assertNotLate]]
  *
  * Spark-first design: the reference does a per-row SELECT + UPDATE round
  * trip per key (row-at-a-time nested loop against Postgres). Here the whole
  * merge is ONE full-outer hash join on the key plus projections — a single
  * shuffle, linear in |state| + |snapshot|, and at 100 TB both sides can be
  * bucketed on the key to make the join co-located (no shuffle at all).
  * No driver-side loops, no collect.
  */
object ScdMerge {

  val LifecycleCols: Seq[String] = Seq("added_at", "updated_at", "removed_at")

  /** A state frame with zero rows and the lifecycle columns appended, for
    * bootstrapping (reference: CREATE TABLE IF NOT EXISTS,
    * feeder_postgres.py:36-96). */
  def emptyState(snapshot: DataFrame): DataFrame =
    LifecycleCols.foldLeft(snapshot.limit(0))((df, c) =>
      df.withColumn(c, lit(null).cast("date")))

  /** Filters rows the reference treats as deleted before merging
    * (`archived == deleted`, feeder_postgres.py:131-134). */
  def dropArchived(snapshot: DataFrame, archivedCol: String = "archived"): DataFrame =
    snapshot.filter(!coalesce(col(archivedCol), lit(false)))

  private def changedPredicate(trackedCols: Seq[String]): Column =
    trackedCols
      .map(c => !(col(s"s.$c") <=> col(s"n.$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))

  /** Applies one dated snapshot to the state. `snapshot` must carry the key
    * plus `trackedCols`; duplicate keys are dropped first (the reference's
    * scraper dedupes ids with a set, get_vacancies.py:67-72).
    *
    * `snapshotDeduped = true` skips that dedup pass — for arrivals
    * already unique on the key (e.g. ingest-normalized into the
    * state's bucketing via [[graft.plans.Layout.writeBucketedSorted]]).
    * The point is plan shape, not just the saved aggregate: the
    * HashAggregate the dedup inserts destroys the scan's sort order,
    * so only a deduped bucketed snapshot joins a bucketed state with
    * ZERO Exchange and ZERO Sort on BOTH sides (ScdBucketedMergeSpec
    * pins it) — the 100 TB merge plan. */
  def applySnapshot(
      state: DataFrame,
      snapshot: DataFrame,
      snapshotDate: String,
      keyCol: String,
      trackedCols: Seq[String],
      snapshotDeduped: Boolean = false): DataFrame =
    applySnapshotDelta(state, snapshot, snapshotDate, keyCol, trackedCols,
      snapshotDeduped).drop(ChangedCol)

  /** The delta flag column [[applySnapshotDelta]] appends. */
  val ChangedCol = "_changed"

  /** [[applySnapshot]] that ALSO flags whether each output row's
    * PERSISTED state differs from its input state row (`_changed`) —
    * the write-side delta an LSM-style persisted state needs
    * ([[graft.streaming.StreamingBucketedMerge]]: append only flagged
    * rows, resolve latest-per-key at read). A row changes exactly when
    * it is a new key, a present key with a tracked-column change, or a
    * tombstone transition; an unchanged-in-snapshot or
    * already-tombstoned key is byte-stable under FORWARD-TIME
    * application (state dates ≤ snapshot date — the [[assertNotLate]]
    * contract; a late snapshot could move added_at without tripping
    * these flags, which is one more reason the reference aborts on
    * late arrivals). [[applySnapshot]] is this minus the flag, so the
    * two can never drift. */
  def applySnapshotDelta(
      state: DataFrame,
      snapshot: DataFrame,
      snapshotDate: String,
      keyCol: String,
      trackedCols: Seq[String],
      snapshotDeduped: Boolean = false): DataFrame = {

    val d = to_date(lit(snapshotDate))
    val snap = if (snapshotDeduped) snapshot else snapshot.dropDuplicates(keyCol)

    val s = state.alias("s")
    val n = snap.alias("n")
    val j = s.join(n, col(s"s.$keyCol") === col(s"n.$keyCol"), "full_outer")

    val inState = col(s"s.$keyCol").isNotNull
    val inSnap = col(s"n.$keyCol").isNotNull
    val changed = changedPredicate(trackedCols)

    val key = coalesce(col(s"n.$keyCol"), col(s"s.$keyCol")).as(keyCol)
    val values = trackedCols.map(c =>
      when(inSnap, col(s"n.$c")).otherwise(col(s"s.$c")).as(c))

    val addedAt = when(!inState, d)
      .otherwise(least(col("s.added_at"), d))
      .as("added_at")

    // Only a key PRESENT in the snapshot with a real column change bumps
    // updated_at (feeder_postgres.py:171-177 `was_update`); a mere removal
    // touches removed_at only (:188-192).
    val updatedAt = when(!inState, d)
      .when(inSnap && changed, d)
      .otherwise(col("s.updated_at"))
      .as("updated_at")

    // Tombstone: in state, absent from snapshot, added before this date,
    // not already removed earlier (feeder_postgres.py:181-192). Matched
    // rows keep their removed_at (reappearance quirk, see scaladoc).
    val tombstones = inState && !inSnap && col("s.added_at") < d &&
      (col("s.removed_at").isNull || d < col("s.removed_at"))
    val removedAt = when(tombstones, d)
      .otherwise(col("s.removed_at"))
      .as("removed_at")

    val deltaFlag = (!inState || (inSnap && changed) || tombstones)
      .as(ChangedCol)

    j.select((key +: values) ++ Seq(addedAt, updatedAt, removedAt, deltaFlag): _*)
  }

  /** Per-key change classification — the reference's
    * added/updated/removed run stats (feeder_postgres.py:115-117,194).
    * Returns (key, change_type) with change_type in
    * {added, updated, unchanged, removed, already_removed}. */
  def classify(
      state: DataFrame,
      snapshot: DataFrame,
      snapshotDate: String,
      keyCol: String,
      trackedCols: Seq[String]): DataFrame = {

    val d = to_date(lit(snapshotDate))
    val snap = snapshot.dropDuplicates(keyCol)
    val s = state.alias("s")
    val n = snap.alias("n")
    val j = s.join(n, col(s"s.$keyCol") === col(s"n.$keyCol"), "full_outer")

    val inState = col(s"s.$keyCol").isNotNull
    val inSnap = col(s"n.$keyCol").isNotNull
    val changed = changedPredicate(trackedCols)

    j.select(
      coalesce(col(s"n.$keyCol"), col(s"s.$keyCol")).as(keyCol),
      when(!inState, lit("added"))
        .when(inSnap && changed, lit("updated"))
        .when(inSnap, lit("unchanged"))
        .when(col("s.added_at") < d &&
          (col("s.removed_at").isNull || d < col("s.removed_at")), lit("removed"))
        .otherwise(lit("already_removed"))
        .as("change_type"))
  }

  /** The reference's out-of-order guard ("newer record detected",
    * feeder_postgres.py:156-159): fails if the state already contains a key
    * updated after the incoming snapshot date. This is an action (a
    * join, `limit(1)` and `count()`) for callers that merge with
    * [[applySnapshot]] directly; EndToEndSpec and ScdMergeSpec call it.
    * [[graft.ingest.IngestJob.runOnce]] does not: it admits only dates
    * above the state's high-water mark, and no key's `updated_at` is
    * above that mark, so a late admit cannot happen there. */
  def assertNotLate(state: DataFrame, snapshot: DataFrame, snapshotDate: String, keyCol: String): Unit = {
    val late = state
      .join(snapshot.select(col(keyCol)).dropDuplicates(keyCol), keyCol)
      .filter(col("updated_at") > to_date(lit(snapshotDate)))
      .limit(1)
      .count()
    if (late > 0) throw new IllegalStateException("newer record detected")
  }
}
