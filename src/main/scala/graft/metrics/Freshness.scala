package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Memo

/** Freshness/liveness gauges — the reference's Prometheus exporter
  * semantics (metrics_exporter.py:68-151) as aggregate queries. Export is
  * driver-side by construction (gauges are scalars); computing them is
  * distributed. */
object Freshness {

  case class Gauges(
      rowCount: Long,
      liveCount: Long,
      removedCount: Long,
      maxLifecycleDate: Option[String],
      daysSinceUpdate: Option[Long])

  /** The gauge aggregates (rows, live, removed, high-water mark), shared
    * by the scan in [[compute]] and the observation in [[observe]]. */
  private val aggregates: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    count(when(col("removed_at").isNull, 1)).as("live"),
    count(col("removed_at")).as("removed"),
    greatest(max("added_at"), max("updated_at"), max("removed_at")).as("hwm"))

  /** All gauges in ONE pass over the state (the reference runs one SQL
    * query per gauge, metrics_exporter.py:72-96 — here a single aggregate
    * job computes them all).
    *
    * Observed vs. scanned: when `state` is exactly a frame whose
    * materializing job observed the aggregates ([[observe]] then
    * [[remember]], as [[graft.ingest.IngestJob.runOnce]] does for the
    * state it returns), the gauges are read from the memo and no job
    * runs. Any other frame (a filtered or re-read state) runs the one
    * aggregate and adds no memo entry. Both paths give equal gauges
    * (IngestJobSpec). `daysSinceUpdate` is computed on the driver from
    * the high-water mark and `asOf`, so the aggregate's generated code
    * does not change with the date. */
  def compute(state: DataFrame, asOf: String): Gauges = {
    val day = epochDay(state.sparkSession, asOf)
    val row = observed(state).getOrElse(
      state.agg(aggregates.head, aggregates.tail: _*).head())
    val hwm = Option(row.getDate(3))
    Gauges(
      rowCount = row.getLong(0),
      liveCount = row.getLong(1),
      removedCount = row.getLong(2),
      maxLifecycleDate = hwm.map(_.toString),
      daysSinceUpdate = for (d <- day; h <- hwm) yield d - h.toLocalDate.toEpochDay)
  }

  /** `asOf` as days since the epoch, parsed by the parser `to_date`
    * uses: an unparseable string throws under ANSI and is None
    * otherwise, as `to_date(lit(asOf))` would be. */
  private def epochDay(spark: SparkSession, asOf: String): Option[Long] = {
    val s = UTF8String.fromString(asOf)
    (if (spark.sessionState.conf.ansiEnabled) Some(DateTimeUtils.stringToDateAnsi(s))
      else DateTimeUtils.stringToDate(s)).map(_.toLong)
  }

  private val ObservationName = "graft_gauges"

  /** `state` with the gauge aggregates attached as observed metrics
    * (`Dataset.observe`): the job that materializes the returned frame
    * computes them as it goes, with no pass of its own. */
  private[graft] def observe(state: DataFrame): DataFrame =
    state.observe(ObservationName, aggregates.head, aggregates.tail: _*)

  /** Keep the gauges the job that materialized `observedFrame` (an
    * [[observe]] result) observed, for `checkpointed`, the checkpointed
    * frame that job made: [[Memo.ObservedGauges]], keyed by its RDD id. */
  private[graft] def remember(checkpointed: DataFrame, observedFrame: DataFrame): Unit =
    rddOf(checkpointed).foreach { id =>
      observedFrame.queryExecution.observedMetrics.get(ObservationName).foreach { row =>
        Memo(checkpointed.sparkSession, Memo.ObservedGauges, id, Set.empty,
          rebuild = true)(row)
      }
    }

  /** The observed gauge row of `state` if it is exactly a remembered
    * checkpointed frame. The row is (rows, live, removed, hwm). */
  private[graft] def observed(state: DataFrame): Option[Row] =
    rddOf(state).flatMap(Memo.get[Row](state.sparkSession, Memo.ObservedGauges, _))

  private def rddOf(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.rdd.id)
      case _ => None
    }

  /** Prometheus text exposition (metrics_exporter.py:113-141 format). */
  def prometheusText(g: Gauges, prefix: String = "graft"): String = {
    val sb = new StringBuilder
    def gauge(name: String, v: Any): Unit =
      sb.append(s"# TYPE ${prefix}_$name gauge\n${prefix}_$name $v\n")
    gauge("rows_total", g.rowCount)
    gauge("rows_live", g.liveCount)
    gauge("rows_removed", g.removedCount)
    g.daysSinceUpdate.foreach(gauge("days_since_update", _))
    sb.toString
  }

  /** Atomic exposition publish — the node_exporter TEXTFILE COLLECTOR
    * contract, the standard no-HTTP form of the reference's exporter
    * (metrics_exporter.py serves gauges over HTTP; the harness has no
    * HTTP surface, and the textfile collector reads `.prom` files the
    * job publishes instead): write to a temp file in the SAME
    * directory, then rename over the target — rename within a
    * directory is atomic on POSIX, so a scraper never reads a torn
    * half-written exposition. */
  def publishProm(path: java.nio.file.Path, text: String): Unit = {
    val dir = Option(path.getParent).getOrElse(java.nio.file.Paths.get("."))
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".prom-", ".tmp")
    java.nio.file.Files.write(tmp,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The reference's export LOOP (`while True: compute; serve; sleep`,
    * metrics_exporter.py:99-151), Spark-first: any ticking stream (a
    * `rate` source at the export cadence in production; a MemoryStream
    * of ticks in tests) drives a foreachBatch that recomputes the
    * gauges from the CURRENT state — `state` is by-name, so a
    * table-backed frame re-reads the merge job's latest files each
    * tick — and republishes the exposition atomically. Per-tick cost is
    * the one-pass [[compute]] aggregate; no streaming state. */
  def promSink(
      ticks: DataFrame,
      state: => DataFrame,
      asOf: () => String,
      path: java.nio.file.Path,
      prefix: String = "graft")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.streaming.Admission.sink(ticks.writeStream) { _ =>
      publishProm(path, prometheusText(compute(state, asOf()), prefix))
    }
}
