package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WHEN to compact — the operational lever that turns the
  * transparency-proven [[StreamingPostings.compact]] /
  * [[StreamingDeletes.compact]] from a capability a caller must
  * remember to invoke into a policy the sink enforces (r12 VERDICT #2:
  * without a trigger the delta/tombstone log grows without bound and
  * the per-view read amplification sawtooths upward forever).
  *
  * Two independent levers, either sufficient:
  *
  *  - `maxLogBatches`: compact once the log holds this many batch
  *    segments — bounds the `(1 + segments)` probe amplification
  *    directly, the lever for steady small batches;
  *  - `maxLogToBaseRatio`: compact once log rows ≥ ratio × base rows —
  *    bounds the resolve shuffle's input relative to the index itself,
  *    the lever for bursty feeds where few batches can carry most of
  *    the data (LevelDB/RocksDB size-ratio triggering, the same
  *    economics).
  *
  * A lever set ≤ 0 is disabled. Both enabled + never triggering means
  * the log is genuinely small — exactly when compaction would be
  * wasted work (its bill is a full index-sized shuffle). */
final case class CompactionPolicy(
    maxLogBatches: Int = 4,
    maxLogToBaseRatio: Double = 0.5) {

  def shouldCompact(logBatches: Long, logRows: Long, baseRows: Long): Boolean =
    (maxLogBatches > 0 && logBatches >= maxLogBatches) ||
      (maxLogToBaseRatio > 0 && baseRows > 0 &&
        logRows.toDouble >= maxLogToBaseRatio * baseRows)

  /** The sinks' check: `log`'s segments (distinct `batch_id`) and rows
    * in one aggregate, plus one count of `base` only when the ratio
    * lever is enabled. */
  def shouldCompact(log: DataFrame, base: => DataFrame): Boolean = {
    val r = log.agg(countDistinct(col("batch_id")), count(lit(1))).head()
    val baseRows = if (maxLogToBaseRatio > 0) base.count() else 0L
    shouldCompact(r.getLong(0), r.getLong(1), baseRows)
  }
}
