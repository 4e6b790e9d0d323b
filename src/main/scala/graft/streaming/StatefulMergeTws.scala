package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import StatefulMerge.{KeyLifecycle, KeyObs, KeyState}

/** The [[StatefulMerge]] lifecycle merge on Spark 4's `transformWithState`
  * (StatefulProcessor) — the arbitrary-state API that supersedes
  * mapGroupsWithState: typed state handles (Value/List/Map) with
  * per-state TTL, timers, and a RocksDB-only store (the 40M-key path is
  * the default, not an opt-in).
  *
  * Same per-key fold as the mapGroupsWithState variant
  * ([[StatefulMerge.foldKey]] is shared), so the two formulations are
  * interchangeable — StreamingSpec pins identical outputs. State TTL is
  * the operational win at scale: with `ttl` set, a key not observed for
  * the TTL window leaves the RocksDB store (value filtered at read,
  * cleaned up by store maintenance) instead of accumulating forever —
  * the reference's 40 M-id key space (SURVEY §7.4) never deletes; a real
  * 100 TB deployment must. An expired key that reappears re-enters the
  * lifecycle as a fresh insert (changed=true, addedAt = the new
  * snapshot), which is exactly the reference's semantics for an id seen
  * again after its retention horizon. */
object StatefulMergeTws {

  class LifecycleProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessor[Long, KeyObs, KeyLifecycle] {
    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState](
        "lifecycle", Encoders.product[KeyState],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyObs],
        timerValues: TimerValues): Iterator[KeyLifecycle] = {
      val initial = if (state.exists()) Some(state.get()) else None
      val (out, cur) = StatefulMerge.foldKey(key, rows, initial)
      cur.foreach(state.update)
      out.iterator
    }
  }

  /** A lifecycle row or, when `tombstone`, the final record emitted as a
    * key's timer expires — the streaming analogue of the reference's
    * `removed_at` tombstone (feeder_postgres.py:92-94): a key not seen
    * for the idle window is declared gone, its last-known lifecycle is
    * published, and its state leaves the store. */
  final case class KeyEvent(
      id: Long, addedAt: String, updatedAt: String,
      changed: Boolean, tombstone: Boolean)

  /** The timer-based variant: same fold, plus one processing-time timer
    * per key, re-armed on every update. When it fires (the key went
    * idle), [[StatefulProcessor.handleExpiredTimer]] emits the tombstone
    * and clears the state — scheduled per-key ACTION on expiry, which
    * plain TTL (silent drop) cannot express. */
  class TombstoneProcessor(idle: java.time.Duration)
      extends StatefulProcessor[Long, KeyObs, KeyEvent] {
    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState](
        "lifecycle", Encoders.product[KeyState], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyObs],
        timerValues: TimerValues): Iterator[KeyEvent] = {
      val initial = if (state.exists()) Some(state.get()) else None
      val (out, cur) = StatefulMerge.foldKey(key, rows, initial)
      cur.foreach(state.update)
      // one armed timer per key: drop the stale one, arm idle-from-now
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(
        timerValues.getCurrentProcessingTimeInMs() + idle.toMillis)
      out.iterator.map(l =>
        KeyEvent(l.id, l.addedAt, l.updatedAt, l.changed, tombstone = false))
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[KeyEvent] = {
      val out =
        if (state.exists()) {
          val st = state.get()
          Iterator.single(KeyEvent(
            key, st.addedAt, st.updatedAt, changed = false, tombstone = true))
        } else Iterator.empty
      state.clear()
      out
    }
  }

  /** Cross-batch order repair: [[LifecycleProcessor]] folds observations
    * in snapshot order WITHIN a batch, but an observation arriving in a
    * LATER batch with an OLDER snapshot date is folded against newer
    * state — `updatedAt` flips on a hash difference that is not a real
    * change (the batch path, IngestJob.runOnce, never admits a date at
    * or below its high-water mark; the keyed path would silently
    * misfold). This variant buffers every observation in a ListState and
    * re-folds the sorted history on each batch, emitting the key's CURRENT lifecycle row per batch
    * (downstream upserts by key). State is the key's observation history
    * — bound it with the TTL/timer variants for unbounded streams; the
    * reference's weekly cadence holds ~1 obs/key/week. */
  class OrderedProcessor extends StatefulProcessor[Long, KeyObs, KeyLifecycle] {
    @transient private var history: ListState[KeyObs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      history = getHandle.getListState[KeyObs](
        "history", Encoders.product[KeyObs], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyObs],
        timerValues: TimerValues): Iterator[KeyLifecycle] = {
      rows.foreach(history.appendValue)
      val all = history.get().toSeq
      val (out, _) = StatefulMerge.foldKey(key, all.iterator, None)
      out.lastOption.iterator // the corrected current row for this key
    }
  }

  /** [[OrderedProcessor]] wiring: per batch, each touched key emits its
    * lifecycle row re-folded over the FULL sorted observation history —
    * immune to cross-batch disorder. */
  def orderRepaired(obs: Dataset[KeyObs]): Dataset[KeyLifecycle] = {
    implicit val outEnc = Encoders.product[KeyLifecycle]
    obs.groupByKey(_.id)(Encoders.scalaLong)
      .transformWithState(new OrderedProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** [[TombstoneProcessor]] wiring: lifecycle rows plus tombstones for
    * keys idle longer than `idle`. */
  def withTombstones(
      obs: Dataset[KeyObs], idle: java.time.Duration): Dataset[KeyEvent] = {
    implicit val outEnc = Encoders.product[KeyEvent]
    obs.groupByKey(_.id)(Encoders.scalaLong)
      .transformWithState(
        new TombstoneProcessor(idle), TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Wire the keyed merge over a stream of observations. Requires the
    * RocksDB state store provider (transformWithState rejects the HDFS
    * one by design). `ttl` bounds per-key state lifetime (processing
    * time since the key's last update); None keeps state forever. */
  def apply(
      obs: Dataset[KeyObs],
      ttl: Option[java.time.Duration] = None): Dataset[KeyLifecycle] = {
    implicit val outEnc = Encoders.product[KeyLifecycle]
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    obs.groupByKey(_.id)(Encoders.scalaLong)
      .transformWithState(new LifecycleProcessor(ttl), timeMode, OutputMode.Append())
  }
}
