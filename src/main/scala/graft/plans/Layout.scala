package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Physical-layout helpers — the 100 TB story (SURVEY §4, §7.4).
  *
  * The reference approximates these by hand: year-partitioned CSV files
  * (vacancies_YYYY.csv.gz), 50k-row parquet files (feeder_hadoop.py:20),
  * and Postgres indexes on hot predicates (feeder_postgres.py:98-103).
  * On Spark the equivalents are directory partitioning (partition
  * pruning), bounded file sizes (task parallelism), sortWithinPartitions
  * (parquet min/max row-group skipping — the "index" substitute), and
  * bucketing (shuffle-free joins on the bucket key). */
object Layout {

  /** Write `df` partitioned by a derived year column: the per-year file
    * loop of the reference becomes `.../year=YYYY/` and year predicates
    * prune at plan time. `sortCols` are sorted WITHIN partitions so
    * parquet row-group stats can skip on them (Z-order-lite). The sort
    * leads with `year`: the partitioned writer requires its input
    * ordered by the partition column, and a sort by `sortCols` alone
    * does not meet that, so the planner replaced it with a sort by
    * `year` only and the files came out unsorted on `sortCols`. */
  def writeYearPartitioned(
      df: DataFrame, tsCol: String, path: String,
      sortCols: Seq[String], maxRecordsPerFile: Int = 50000): Unit =
    df.withColumn("year", year(col(tsCol)))
      .sortWithinPartitions(("year" +: sortCols).map(col): _*)
      .write
      .partitionBy("year")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .mode("overwrite")
      .parquet(path)

  /** Bucketed table write: co-locates both sides of a future equi-join on
    * `bucketCol` so the join needs no exchange at all (requires a
    * warehouse-managed table — bucketing metadata lives in the catalog). */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    writeBucketed(df, table, Seq(bucketCol), buckets)

  /** Multi-column variant: bucket (and sort) on a composite key — e.g.
    * an LSH band index on `(band, bkey)` so the per-batch stream-static
    * probe join reads the index with no exchange
    * ([[graft.streaming.StreamingDedup]]). A join consumes the bucketing
    * only when its equi-keys cover ALL bucket columns. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** [[writeBucketed]] with ONE FILE PER BUCKET: pre-partitions into
    * exactly `buckets` tasks on the bucket columns — repartition's
    * HashPartitioning and the writer's bucket-id assignment share
    * pmod(murmur3(cols), buckets) (the [[compactBucketed]] invariant),
    * so each task holds exactly one bucket and writes exactly one
    * file. One file per bucket is the condition under which the SCAN
    * may expose the sortBy order — a reader opts in with
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, which
    * restores the 2.4 semantics: the order is claimed ONLY when every
    * bucket is a single file (SPARK-28173 hid it by default because
    * multi-file buckets are merely partially sorted; this writer's
    * invariant is exactly the safe case, and [[compactBucketed]]
    * restores it after appends). A downstream sort-merge join then
    * runs with NO exchange and NO sort on this side — the sort-free
    * bucketed SCD merge (ScdBucketedMergeSpec; r18 VERDICT #1). Write-side note: the
    * repartition shuffle + per-bucket sort is the one-time index price;
    * at 100 TB the state table is written this way incrementally and
    * re-compacted by [[compactBucketed]], never resorted at read. */
  def writeBucketedSorted(
      df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit =
    df.repartition(buckets, bucketCols.map(col): _*)
      .write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** [[writeBucketedSorted]] under BOUNDED SCRATCH: builds the table in
    * `passes` sequential bucket-range passes, each shuffling and
    * sorting only ~1/passes of the data, so peak shuffle+sort-spill
    * scratch is total/passes instead of the whole table at once — the
    * bulk-build shape a 100 TB state table actually needs (a monolithic
    * repartition of 100 TB demands ~100 TB of simultaneous shuffle
    * scratch across the cluster; N passes cap it at 100/N TB, paying
    * N source scans — read amplification traded for scratch, the
    * compaction-style tradeoff, measured in PLANS.md's sf100 block).
    *
    * Correctness rides the [[compactBucketed]] invariant: the SQL
    * `hash()` IS the writer's bucket hash (murmur3, seed 42), so the
    * pass filter `pmod(hash(cols), buckets) ∈ [p·B/passes, (p+1)·B/passes)`
    * selects exactly a bucket RANGE; within a pass, repartition(buckets)
    * aligns each non-empty task to one bucket (empty tasks write
    * nothing), and since every bucket receives rows in exactly ONE
    * pass, the table still ends at one sorted file per bucket — the
    * single-file condition the sort-free scan requires.
    * StagedBucketBuildSpec pins file layout, row identity with the
    * monolithic writer, and the sort-free downstream merge. */
  def writeBucketedSortedStaged(
      df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, passes: Int): Unit = {
    require(passes >= 1 && buckets % passes == 0,
      s"passes ($passes) must divide buckets ($buckets) so each pass " +
        "owns a whole bucket range")
    val per = buckets / passes
    val bucketId = pmod(hash(bucketCols.map(col): _*), lit(buckets))
    (0 until passes).foreach { p =>
      val w = df
        .filter(bucketId >= lit(p * per) && bucketId < lit((p + 1) * per))
        .repartition(buckets, bucketCols.map(col): _*)
        .write
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet")
      if (p == 0) w.mode("overwrite").saveAsTable(table)
      else w.mode("append").saveAsTable(table)
    }
    df.sparkSession.catalog.refreshTable(table)
  }

  /** Append to a bucketed table with the SAME bucket spec — the growing
    * on-disk index of a continuous admission pipeline (each accepted
    * micro-batch's rows land in the right buckets; later batches' probe
    * joins keep reading the index exchange-free). Spark validates the
    * spec against the catalog and refuses a mismatched append. */
  def appendBucketed(
      df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit = {
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("append")
      .format("parquet")
      .saveAsTable(table)
    // the writer owns cache invalidation: the session catalog memoizes
    // the resolved relation (file listing included), so without a
    // refresh a reader that resolved the table BEFORE this append keeps
    // probing the old file set — the admission loop's later batches
    // would silently miss earlier admissions (StreamingDedupSpec pins
    // the growth-visibility contract)
    df.sparkSession.catalog.refreshTable(table)
  }

  /** Compact a bucketed table back to one file per bucket — the
    * OPTIMIZE-style maintenance pass a continuously-appended index needs:
    * every [[appendBucketed]] micro-batch lands ≥1 new file per touched
    * bucket, so after B batches a probe join opens O(B·buckets) small
    * files and footer/open cost dominates the scan (the classic streaming
    * small-file problem — at 100 TB an always-on admission loop appends
    * thousands of batches between maintenance windows). Rewrites the
    * table with the SAME bucket spec, pre-partitioned on the bucket
    * columns into exactly `buckets` tasks: `repartition(buckets, cols)`
    * and bucket-id assignment share the same hash(cols) pmod buckets
    * function, so each task holds exactly one bucket's rows and writes
    * exactly one file — `buckets` files total, bucketing metadata and
    * the zero-exchange probe plan preserved.
    *
    * Single-writer maintenance op (the reference's analog: the nightly
    * rebuild in periodic_run.py): the swap is drop-then-rename through
    * the session catalog, not atomic — run it from the writer that owns
    * the index, between batches, like the admission loop's own appends.
    * Readers in the writer session see the compacted table after the
    * final refresh; cross-session readers re-resolve by name (the
    * [[graft.streaming.StreamingDedup]] reader contract).
    *
    * RECOVERY: if the process dies between the DROP and the RENAME, no
    * table exists under `table` but the full compacted snapshot
    * survives under `<table>__compact` — rename it back
    * (`ALTER TABLE <table>__compact RENAME TO <table>`) and the index
    * is whole; re-running compactBucketed afterwards is safe (the tmp
    * write is mode=overwrite). A swap failure with the writer still
    * alive raises IllegalStateException naming that path rather than
    * leaving the gap silent. */
  def compactBucketed(
      spark: SparkSession, table: String, bucketCols: Seq[String], buckets: Int): Unit = {
    val tmp = table + "__compact"
    // Read the table's FILES, not the table: the catalog relation carries
    // the bucket spec, so the planner sees the repartition below as
    // already-satisfied and elides it — after which the auto-bucketed-scan
    // rule regroups the (fragmented) files by size, tasks see mixed
    // buckets, and each task writes one file per bucket it holds — the
    // very fragmentation this pass exists to undo. The raw-file read
    // keeps the shuffle; repartition's HashPartitioning and the writer's
    // bucket-id assignment share pmod(murmur3(cols), buckets), so each
    // task holds exactly one bucket and writes exactly one file.
    val location = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    // saveAsTable materializes the full snapshot BEFORE the source table
    // is dropped; the sortBy keeps appendBucketed's within-bucket order
    spark.read.parquet(location)
      .repartition(buckets, bucketCols.map(col): _*)
      .write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    try spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"compactBucketed swap failed between DROP and RENAME: '$table' is " +
            s"gone but the full compacted snapshot is intact under '$tmp' — " +
            s"ALTER TABLE $tmp RENAME TO $table restores it", e)
    }
    spark.catalog.refreshTable(table)
  }

  /** Data-file census of a bucketed table — the fragmentation number
    * the compaction policy acts on. One directory listing, no data
    * read. */
  def bucketedDataFiles(spark: SparkSession, table: String): Int = {
    val location = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location
    Option(new java.io.File(location).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
  }

  /** Threshold-triggered [[compactBucketed]] — the operational lever
    * for the OTHER growing artifact of the streaming family (the
    * [[graft.streaming.StreamingDedup]] band index, grown by
    * [[appendBucketed]] per admitted batch): every append adds one
    * file per touched bucket, so probe cost decays with file count
    * (priced per round as the bench streaming section's
    * probe_fragmented vs probe_compacted rows). Called after each
    * append, this compacts once the census reaches
    * `maxFilesPerBucket × buckets` and stays inert otherwise — the
    * same contract as [[graft.streaming.CompactionPolicy]] gives the
    * postings/tombstone logs, at the file-layout level. Returns true
    * iff it compacted (the caller's observability hook). */
  def maybeCompactBucketed(
      spark: SparkSession, table: String, bucketCols: Seq[String],
      buckets: Int, maxFilesPerBucket: Int = 4): Boolean = {
    val files = bucketedDataFiles(spark, table)
    if (maxFilesPerBucket > 0 && files >= maxFilesPerBucket.toLong * buckets) {
      compactBucketed(spark, table, bucketCols, buckets)
      true
    } else false
  }

  /** Sorted parquet write — the "secondary index" substitute (SURVEY §4):
    * globally ordering on the hot predicate column clusters each key into
    * few row groups, so parquet min/max stats let a reader skip the rest.
    * `rowGroupBytes` deliberately small-ish so files carry several row
    * groups and skipping is observable (production: leave the 128 MB
    * default; the stats mechanics are identical). */
  def writeSorted(
      df: DataFrame, path: String, sortCol: String,
      rowGroupBytes: Long = 128 * 1024, files: Int = 4): Unit =
    df.orderBy(col(sortCol)).coalesce(files)
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(path)

  /** Morton (Z-order) bit interleave of two pre-normalized `bits`-bit
    * non-negative ints: a's bits land at even positions, b's at odd.
    * Built from the standard spread-bits ladder (x |= x<<8 … masked) as
    * plain Column arithmetic — shifts/masks stay inside whole-stage
    * codegen, no UDF and no custom Expression needed. Public knowledge:
    * Morton 1966; the lever Delta/Iceberg expose as Z-ORDER clustering. */
  def zInterleave(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 16, s"bits must be in 1..16: $bits")
    def spread(x: Column): Column = {
      // 16-bit spread over a long: after each step the mask confines
      // every bit to its final even slot
      val s8 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s4 = s8.bitwiseOR(shiftleft(s8, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s2 = s4.bitwiseOR(shiftleft(s4, 2)).bitwiseAND(lit(0x33333333L))
      s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x55555555L))
    }
    val mask = lit((1L << bits) - 1L)
    spread(a.cast("long").bitwiseAND(mask))
      .bitwiseOR(shiftleft(spread(b.cast("long").bitwiseAND(mask)), 1))
  }

  /** Z-ordered write: cluster `df` on the interleaved rank of TWO
    * columns so parquet row-group min/max stats skip on EITHER
    * predicate. A linear sort ([[writeSorted]]) gives perfect skipping
    * on its one key and none on any other; interleaving trades a few
    * groups of per-key locality for ~√ locality on both — the
    * multi-dimensional data-skipping lever (Delta/Iceberg Z-ORDER, from
    * Morton 1966), here as one extra narrow projection before the same
    * sorted write. Columns are min/max-normalized to `bits`-bit ranks
    * from a 2-row bounds aggregate (one cheap pre-pass; rank
    * normalization via ntile would be exact under skew but costs a
    * window — bounds are the standard choice and match how uniform TPC
    * keys distribute). The z column is dropped before writing; only the
    * data columns and their footer stats ship. */
  /** `df` plus a `_z` column: the Morton interleave of the two columns'
    * min/max-normalized `bits`-bit ranks. The bounds come from a 2-row
    * aggregate (one cheap pre-pass; rank normalization via ntile would
    * be exact under skew but costs a window — bounds are the standard
    * choice and match how uniform TPC keys distribute). Exposed
    * separately from [[writeZOrdered]] so the z computation itself is
    * oracle-verifiable (q_zvalue). */
  def zValue(
      df: DataFrame, colA: String, colB: String, bits: Int = 16): DataFrame = {
    val topRank = (1 << bits) - 1
    val b = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    // an empty (or all-NULL-key) frame has no bounds and nothing to
    // order — return it with the _z column typed but rowless instead of
    // tripping over the NULL aggregate row (empty-lake contract,
    // EmptyCorpusSpec)
    if (b.isNullAt(0) || b.isNullAt(2))
      return df.withColumn("_z", lit(null).cast("long"))
        .filter(col(colA).isNotNull && col(colB).isNotNull)
    def norm(c: Column, lo: Double, hi: Double): Column = {
      val span = if (hi > lo) hi - lo else 1.0
      least(lit(topRank),
        floor((c.cast("double") - lit(lo)) / lit(span) * lit(topRank)))
        .cast("long")
    }
    df.withColumn("_z",
      zInterleave(norm(col(colA), b.getDouble(0), b.getDouble(1)),
        norm(col(colB), b.getDouble(2), b.getDouble(3)), bits))
  }

  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      rowGroupBytes: Long = 128 * 1024, files: Int = 4,
      bits: Int = 16): Unit =
    zValue(df, colA, colB, bits)
      .orderBy(col("_z")).coalesce(files)
      .drop("_z")
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(path)

  /** The unsorted twin of [[writeSorted]] (same row-group size, no
    * clustering) for measuring what the sort buys. */
  def writeUnsorted(
      df: DataFrame, path: String,
      rowGroupBytes: Long = 128 * 1024, files: Int = 4): Unit =
    df.coalesce(files)
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(path)

  /** Row-group stats evidence for an equality predicate `column = value`:
    * (total row groups, row groups whose [min,max] contains the value) —
    * the fraction a stats-aware reader must visit. Reads parquet footers
    * directly so the number is layout ground truth, independent of which
    * engine scans. */
  def rowGroupStats(
      spark: SparkSession, path: String, column: String, value: Long): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var total = 0
    var overlapping = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          total += 1
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .foreach { c =>
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue) {
                val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                if (mn <= value && value <= mx) overlapping += 1
              } else overlapping += 1 // no stats: the reader must visit
            }
        }
      } finally reader.close()
    }
    (total, overlapping)
  }

  /** Demonstrates that a year predicate prunes a partitioned layout:
    * returns the input files actually selected by the plan. */
  def prunedFiles(spark: SparkSession, path: String, yearValue: Int): Seq[String] =
    scannedFiles(spark.read.parquet(path).filter(col("year") === yearValue))

  /** The parquet files a plan will PHYSICALLY read after partition
    * pruning — the ground truth behind every "this predicate prunes"
    * claim in this repo (`inputFiles` lists the whole relation and is
    * blind to pruning; this consults each scan's partitionFilters the
    * way the execution-time file listing does). Descends into AQE
    * plans through Spark's [[AdaptiveSparkPlanHelper]]: an
    * AdaptiveSparkPlanExec is a leaf of the outer tree, and after
    * execution AQE freezes exchanges into query stages, leaves holding
    * their subtree in `.plan` — a plain `collectLeaves` would miss
    * every scan under an exchange and read an executed plan as "zero
    * files". */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
      }.flatten
  }
}
