package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.merge.ScdMerge

/** Structured-Streaming formulation of the reference's incremental
  * pipeline — SURVEY.md §2.9.
  *
  * The reference is a micro-batch incremental system: a poller lists dated
  * snapshot directories every 60 s, skips those at or below the
  * high-water mark, and merges each new one into the state table
  * (feeder_postgres.py:28,212-259). Spark's file-source streaming gives
  * the same semantics natively — exactly-once file tracking replaces the
  * hand-rolled dir-regex + high-water-mark bookkeeping, and
  * `foreachBatch` hosts the join-based SCD merge unchanged.
  *
  * Scale notes: the merge inside foreachBatch is stateless Spark (state
  * lives in the sink table), so executor count — not state-store memory —
  * bounds throughput; this is why foreachBatch-merge is the primary
  * formulation and mapGroupsWithState over 40 M keys is only a demo
  * (SURVEY §7.4).
  */
object SnapshotStream {

  /** Streaming read over dated snapshot dirs
    * (`data/YYYY-MM-DD/result.csv`, feeder_postgres.py:213). The
    * `snapshot_date` column is derived from the file path, mirroring the
    * reference's dir-name parse. */
  def readSnapshots(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", 1) // one snapshot dir per micro-batch
      .csv(s"$root/*/")
      .withColumn("snapshot_date",
        to_date(regexp_extract(input_file_name(), "(\\d{4}-\\d{2}-\\d{2})", 1)))

  /** 60-second poll trigger (feeder_postgres.py:28). */
  val PollTrigger: Trigger = Trigger.ProcessingTime("60 seconds")

  /** foreachBatch SCD merge: each micro-batch holds one (or more) dated
    * snapshots; they are applied in date order against the state managed
    * by `loadState`/`saveState` (parquet overwrite = the reference's
    * transaction-per-dir commit, feeder_postgres.py:244). */
  def mergeSink(
      writer: DataStreamWriter[Row],
      keyCol: String,
      trackedCols: Seq[String],
      loadState: () => DataFrame,
      saveState: DataFrame => Unit): DataStreamWriter[Row] =
    Admission.sink(writer) { b =>
      val dates = b.df.select("snapshot_date").distinct()
        .collect().map(_.getDate(0)).sorted
      dates.foreach { d =>
        val snap = b.df.filter(col("snapshot_date") === lit(d)).drop("snapshot_date")
        saveState(ScdMerge.applySnapshot(
          loadState(), snap, d.toString, keyCol, trackedCols))
      }
    }

  /** Watermarked 7-day tumbling counts — the streaming formulation of the
    * weekly rollup (periodic_run.py:12,35): late snapshots beyond the
    * watermark are dropped rather than aborting the pipeline (the
    * reference's "newer record detected" guard, feeder_postgres.py:156-159,
    * becomes watermark semantics). */
  def weeklyCounts(stream: DataFrame, tsCol: String, watermark: String = "14 days"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "7 days").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("n"))
}
