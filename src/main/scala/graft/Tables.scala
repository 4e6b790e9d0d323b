package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the harness testdata (TESTDATA.md).
  *
  * Mirrors the reference's columnar analytical store: Parquet + explicit
  * schema + Catalyst column pruning (reference: feeder_hadoop.py:19,87 writes
  * the analytical parquet; the notebook reads column-pruned CSV,
  * 001_….ipynb cell 17 `usecols=`). At 100 TB the same call reads a
  * partitioned table; filters/projections push to the scan automatically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Harness generations have shipped `events.ts` as BOTH parquet
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) — the round-9 testdata
    * regeneration silently switched nanos → micros, which turned the
    * previously-required nanos workaround into a 1000× timestamp error.
    * So the loader resolves the layout per file instead of assuming:
    * a plain read handles MICROS (and any other Spark-native layout)
    * directly; if inference rejects the file ([PARQUET_TYPE_ILLEGAL]
    * Illegal Parquet type: INT64 (TIMESTAMP(NANOS,false)) — probed on
    * Spark 4.1.2 by graft.NanosProbe; Spark has no nanosecond
    * TimestampType), we fall back to reading the physical INT64 nanos
    * with this explicit schema and rebuilding a session-TZ TimestampType
    * at microsecond precision (`ts div 1000` keeps the math in exact
    * integer space). The one native escape for nanos,
    * `spark.sql.legacy.parquet.nanosAsLong=true` (SPARK-40819), infers
    * plain BIGINT — the same shape minus the mutable session-wide conf
    * flip. The final `cast("timestamp")` normalizes an inferred
    * TIMESTAMP_NTZ (MICROS with isAdjustedToUTC=false under
    * inferTimestampNTZ) to the session-TZ TimestampType both paths and
    * all downstream queries expect. */
  private val eventsRawSchema =
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Memoized analyzed frames, one per (session, table path), in the
    * [[Memo]] family `tables`.
    *
    * `spark.read.parquet` re-lists the directory and re-reads the footer
    * schema on every call; across a ~77-query suite that fixed cost is
    * most of the wall time at small SF. Reusing the analyzed
    * LogicalRelation is exactly what `spark.table` does with a catalog —
    * plans, pushdown and pruning are unaffected. Each call lists the
    * path's files ([[Memo.files]], length and mtime only): unchanged
    * files return the identical frame, a path rewritten in place is read
    * again. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Memo(spark, Memo.TableFrames, path, Memo.files(spark, path))(
      load(spark, dir, name))
  }

  /** The nanos-fallback trigger: the stable error CONDITION
    * (`PARQUET_TYPE_ILLEGAL`, error-conditions.json — what Spark raises
    * for INT64 (TIMESTAMP(NANOS,false)) schema inference), with the
    * message substring only as a secondary guard for non-SparkThrowable
    * wrappers — error text changes across versions/locales while the
    * condition stays stable. */
  private def illegalParquetType(e: Throwable): Boolean = {
    val cond = e match {
      case st: org.apache.spark.SparkThrowable => Option(st.getCondition)
      case _ => None
    }
    cond.contains("PARQUET_TYPE_ILLEGAL") ||
      (cond.isEmpty && e.getMessage != null &&
        e.getMessage.contains("Illegal Parquet type"))
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      val path = s"$dir/events.parquet"
      try
        // MICROS (or any Spark-native timestamp layout): schema inference
        // succeeds eagerly at read time; normalize a possible NTZ to the
        // session-TZ TimestampType (no-op when already LTZ)
        spark.read.parquet(path).withColumn("ts", col("ts").cast("timestamp"))
      catch {
        case scala.util.control.NonFatal(e) if illegalParquetType(e) =>
          spark.read.schema(eventsRawSchema).parquet(path)
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
}
