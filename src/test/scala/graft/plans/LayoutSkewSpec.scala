package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSkewSpec extends SparkSpec {
  import spark.implicits._

  test("year-partitioned write prunes partitions under a year predicate") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toFile.getAbsolutePath
    val df = Seq(
      ("2020-01-01 00:00:00", 1L), ("2020-06-01 00:00:00", 2L),
      ("2021-01-01 00:00:00", 3L), ("2022-01-01 00:00:00", 4L))
      .toDF("ts", "v").withColumn("ts", to_timestamp($"ts"))
    Layout.writeYearPartitioned(df, "ts", dir, sortCols = Seq("v"))

    val files = Layout.prunedFiles(spark, dir, 2020)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("year=2020")))

    val pruned = spark.read.parquet(dir).filter($"year" === 2020)
    assert(pruned.select("v").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("year-partitioned write: every file is sorted by sortCols") {
    val dir = java.nio.file.Files.createTempDirectory("layout-order").toFile.getAbsolutePath
    // v descends through the input, three years interleaved
    val df = spark.range(300).select(
      to_timestamp(format_string("%d-06-01 00:00:00", lit(2020) + col("id") % 3)).as("ts"),
      (lit(1000L) - col("id")).as("v"))
      .repartition(2)
    Layout.writeYearPartitioned(df, "ts", dir, sortCols = Seq("v"))
    val files = spark.read.parquet(dir).inputFiles
    assert(files.length >= 3)
    files.foreach { f =>
      val v = spark.read.parquet(f).select("v").as[Long].collect().toSeq
      assert(v.nonEmpty && v == v.sorted, s"$f is not sorted by v: ${v.take(10)}")
    }
  }

  test("sorted write: equality predicate hits few row groups; unsorted hits most") {
    val dir = java.nio.file.Files.createTempDirectory("layout-sort").toFile.getAbsolutePath
    // 200k rows, keys shuffled so the unsorted layout has every key
    // spread across row groups; tiny row groups so each file holds many
    val df = spark.range(200000)
      .select((col("id") * 2654435761L % 100000L).as("k"), col("id").as("v"))
    Layout.writeSorted(df, s"$dir/sorted", "k", rowGroupBytes = 64 * 1024, files = 2)
    Layout.writeUnsorted(df, s"$dir/unsorted", rowGroupBytes = 64 * 1024, files = 2)
    val probe = 50000L
    val (totS, hitS) = Layout.rowGroupStats(spark, s"$dir/sorted", "k", probe)
    val (totU, hitU) = Layout.rowGroupStats(spark, s"$dir/unsorted", "k", probe)
    assert(totS > 2 && totU > 2, s"need several row groups, got $totS/$totU")
    // unsorted: hash-spread keys overlap essentially every row group
    assert(hitU == totU)
    // sorted: the key lives in at most one row group per file (+1 slack
    // for a boundary straddle)
    assert(hitS <= 3, s"sorted hit $hitS of $totS")
    // same answer from both layouts
    val a = spark.read.parquet(s"$dir/sorted").filter(col("k") === probe).count()
    val b = spark.read.parquet(s"$dir/unsorted").filter(col("k") === probe).count()
    assert(a == b)
  }

  test("bucketed tables join with NO shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "vb")
    Layout.writeBucketed(a, "bkt_a", "k", 4)
    Layout.writeBucketed(b, "bkt_b", "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val shuffles = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, j.queryExecution.executedPlan.toString)
      assert(j.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compactBucketed: appends fragment the index, compaction restores one file per bucket, rows and shuffle-free probe preserved") {
    val cols = Seq("band", "bkey") // the streaming LSH index's composite key
    def batch(seed: Long) =
      (1L to 200L).map(i => (i % 3, i % 11, seed * 1000 + i))
        .toDF("band", "bkey", "doc_id")
    Layout.writeBucketed(batch(0), "cmp_idx", cols, 4)
    (1L to 3L).foreach(s => Layout.appendBucketed(batch(s), "cmp_idx", cols, 4))
    val dir = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, "cmp_idx")
    def parquetFiles() = dir.listFiles().count(_.getName.endsWith(".parquet"))
    val before = spark.table("cmp_idx").collect().map(_.toSeq).sortBy(_.toString)
    assert(parquetFiles() > 4, s"appends must fragment: ${parquetFiles()} files")
    Layout.compactBucketed(spark, "cmp_idx", cols, 4)
    assert(parquetFiles() == 4,
      s"one file per bucket after compaction, got ${parquetFiles()}")
    val after = spark.table("cmp_idx").collect().map(_.toSeq).sortBy(_.toString)
    assert(before.toSeq == after.toSeq, "compaction must not change table contents")
    // the probe join still consumes the bucketing: only the (unbucketed)
    // probe side shuffles
    val probe = (1L to 50L).map(i => (i % 3, i % 11)).toDF("band", "bkey")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val j = spark.table("cmp_idx").join(probe, cols)
      // string form: executedPlan.collect does not traverse into the
      // AdaptiveSparkPlan wrapper
      val planStr = j.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(planStr).length == 1, planStr)
      assert(planStr.contains("Bucketed: true"), planStr)
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("maybeCompactBucketed: inert below the file threshold, fires exactly at it, contents preserved") {
    // the admission loop's per-batch call: append a batch's band rows,
    // then let the POLICY decide — the file-layout twin of the
    // streaming CompactionPolicy (r13)
    val cols = Seq("band", "bkey")
    val buckets = 4
    // coalesce(1): one writer task → exactly one file per touched
    // bucket per append, so the census arithmetic below is exact
    def batch(seed: Long) =
      (1L to 120L).map(i => (i % 3, i % 11, seed * 1000 + i))
        .toDF("band", "bkey", "doc_id").coalesce(1)
    Layout.writeBucketed(batch(0), "mcb_idx", cols, buckets)
    var fired = Vector.empty[Long]
    var wasInert = false
    (1L to 5L).foreach { s =>
      Layout.appendBucketed(batch(s), "mcb_idx", cols, buckets)
      val files = Layout.bucketedDataFiles(spark, "mcb_idx")
      val did = Layout.maybeCompactBucketed(spark, "mcb_idx", cols, buckets,
        maxFilesPerBucket = 3)
      // the policy must fire EXACTLY when the census crosses the bound
      assert(did == (files >= 3 * buckets),
        s"batch $s: files=$files fired=$did")
      if (did) {
        fired :+= s
        assert(Layout.bucketedDataFiles(spark, "mcb_idx") == buckets,
          "compaction must restore one file per bucket")
      } else wasInert = true
    }
    assert(fired.nonEmpty, "the threshold was never reached — test is inert")
    assert(wasInert, "the policy fired every batch — threshold never bounded anything")
    // six batches of 120 rows survive, bit-for-bit
    assert(spark.table("mcb_idx").count() == 6 * 120)
    val expect = (0L to 5L).flatMap(s =>
      (1L to 120L).map(i => (i % 3, i % 11, s * 1000 + i))).sorted
    val got = spark.table("mcb_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == expect)
  }

  test("saltedCount equals plain groupBy count on a skewed frame") {
    val df = (Seq.fill(500)("hot") ++ Seq("a", "b", "b")).toDF("k")
    val salted = Skew.saltedCount(df, $"k", parts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == Map("hot" -> 500L, "a" -> 1L, "b" -> 2L))
  }

  test("saltedAgg combines arbitrary partials (sum)") {
    val df = Seq(("k1", 1L), ("k1", 2L), ("k2", 5L)).toDF("k", "v")
    val out = Skew.saltedAgg(df, $"k", 4, sum($"v"), c => sum(c))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("k1" -> 3L, "k2" -> 5L))
  }

  test("salt is content-derived: stable under repartitioning, spreads a hot key") {
    val df = (1L to 400L).map(i => ("hot", i)).toDF("k", "v")
    def partials(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("_salt", pmod(xxhash64($"k", $"v"), lit(8)))
      .groupBy("_salt").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same rows, different physical partitioning → identical salt buckets
    assert(partials(df.repartition(1)) == partials(df.repartition(13)))
    // and the hot key genuinely fans out over the salt space
    assert(partials(df).size > 4)
  }

  test("GraftSession settings: extensions register synonym_lookup, AQE on") {
    // The shared test session is plain; validate the builder's conf map
    // without constructing a second context.
    val b = graft.GraftSession.builder("local[1]", 2)
    // building against the existing context reuses it but applies conf —
    // including shuffle.partitions=2, which must not leak to later
    // suites (it silently defeated skew detection in
    // SkewJoinEvidenceSpec: with 2 reducer partitions the median is
    // half the data and nothing reads as skewed)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val s = b.getOrCreate()
    try assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }
}
