package graft.ingest

import java.nio.file.Files

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{Memo, SparkSpec}
import graft.merge.ScdMerge
import graft.metrics.Freshness
import graft.schema.VacancySchema

class IngestJobSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(root: String, date: String, rows: Seq[(String, String, String)]): Unit = {
    val dir = new java.io.File(s"$root/$date"); dir.mkdirs()
    val w = new java.io.PrintWriter(s"$root/$date/result.csv")
    w.println(VacancySchema.csv.map(_.name).mkString(","))
    rows.foreach { case (id, name, archived) =>
      w.println(VacancySchema.csv.map(_.name match {
        case "id" => id
        case "name" => name
        case "archived" => archived
        case "created_at" | "published_at" => "2021-01-01T00:00:00"
        case b if VacancySchema.booleanCols.contains(b) => "False"
        case _ => ""
      }).mkString(","))
    }
    w.close()
  }

  private def readSnapshot(dir: String): DataFrame =
    spark.read.schema(VacancySchema.csv).option("header", "true").csv(dir)

  private val tracked = VacancySchema.raw.map(_.name).filterNot(_ == "id")

  test("discovery filters non-dated dirs and sorts ascending") {
    val root = Files.createTempDirectory("ingest").toFile.getAbsolutePath
    Seq("2021-01-08", "2021-01-01", "notadate", "2021-1-1").foreach(d =>
      new java.io.File(s"$root/$d").mkdirs())
    assert(IngestJob.discoverSnapshotDirs(root) == Seq("2021-01-01", "2021-01-08"))
  }

  test("runOnce: incremental skip below HWM, future-dated skip, ordered merge") {
    val root = Files.createTempDirectory("ingest2").toFile.getAbsolutePath
    writeCsv(root, "2021-01-01", Seq(("1", "a", "False"), ("2", "b", "False")))
    writeCsv(root, "2021-01-08", Seq(("1", "a2", "False")))
    writeCsv(root, "2021-01-15", Seq(("1", "a2", "False"))) // future vs today

    val empty = ScdMerge.emptyState(
      Normalize.normalizeSnapshot(readSnapshot(s"$root/2021-01-01").limit(0)))

    val (s1, d1) = IngestJob.runOnce(spark, root, empty, "id", tracked,
      today = "2021-01-08", readSnapshot)
    assert(d1 == Seq("2021-01-01", "2021-01-08"))
    val life = s1.select($"id",
        date_format($"updated_at", "yyyy-MM-dd"),
        date_format($"removed_at", "yyyy-MM-dd"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(life(1L) == (("2021-01-08", null)))       // updated by w2
    assert(life(2L) == (("2021-01-01", "2021-01-08"))) // tombstoned by w2

    // second poll: nothing below HWM reprocessed, the future dir now due
    val (s2, d2) = IngestJob.runOnce(spark, root, s1, "id", tracked,
      today = "2021-01-15", readSnapshot)
    assert(d2 == Seq("2021-01-15"))
    // reference quirk: an all-unchanged snapshot does not advance the HWM
    // (no lifecycle date moved), so the dir re-feeds next poll — and the
    // merge is idempotent, so the state is unchanged.
    assert(IngestJob.highWaterMark(s2) == "2021-01-08")
    val (s3, d3) = IngestJob.runOnce(spark, root, s2, "id", tracked,
      today = "2021-01-15", readSnapshot)
    assert(d3 == Seq("2021-01-15"))
    assert(s3.orderBy("id").collect().toSeq == s2.orderBy("id").collect().toSeq)

    // freshness gauges over the final state
    val g = Freshness.compute(s2, asOf = "2021-01-20")
    assert(g.rowCount == 2 && g.liveCount == 1 && g.removedCount == 1)
    assert(g.maxLifecycleDate.contains("2021-01-08"))
    assert(g.daysSinceUpdate.contains(12L))
    assert(Freshness.prometheusText(g).contains("graft_rows_live 1"))
  }

  private def emptyState(root: String, date: String): DataFrame = ScdMerge.emptyState(
    Normalize.normalizeSnapshot(readSnapshot(s"$root/$date").limit(0)))

  /** The scan path on `state`'s rows: a copy that is not the frame the
    * admit observed. */
  private def scanned(state: DataFrame, asOf: String): Freshness.Gauges = {
    val copy = spark.createDataFrame(state.collectAsList(), state.schema)
    assert(Freshness.observed(copy).isEmpty)
    Freshness.compute(copy, asOf)
  }

  private def observedEqualsScanned(state: DataFrame, asOf: String): Freshness.Gauges = {
    assert(Freshness.observed(state).nonEmpty, "runOnce's state carries observed gauges")
    val g = Freshness.compute(state, asOf)
    assert(g == scanned(state, asOf))
    g
  }

  test("runOnce: a late snapshot is never admitted; assertNotLate refuses it") {
    val root = Files.createTempDirectory("ingest-late").toFile.getAbsolutePath
    writeCsv(root, "2021-01-01", Seq(("1", "a", "False"), ("2", "b", "False")))
    writeCsv(root, "2021-01-15", Seq(("1", "a2", "False"), ("2", "b", "False")))
    val (s1, _) = IngestJob.runOnce(spark, root, emptyState(root, "2021-01-01"), "id",
      tracked, today = "2021-01-15", readSnapshot)
    assert(IngestJob.highWaterMark(s1) == "2021-01-15")
    // 2021-01-08 lands after the state updated key 1 on 2021-01-15: it is
    // at or below the high-water mark, so discovery skips it
    writeCsv(root, "2021-01-08", Seq(("1", "a3", "False"), ("3", "c", "False")))
    val (s2, d2) = IngestJob.runOnce(spark, root, s1, "id", tracked,
      today = "2021-01-15", readSnapshot)
    assert(d2.isEmpty && (s2 eq s1))
    // merged directly, the same snapshot is refused by the reference's guard
    val late = ScdMerge.dropArchived(Normalize.normalizeSnapshot(
      readSnapshot(s"$root/2021-01-08")))
    val e = intercept[IllegalStateException] {
      ScdMerge.assertNotLate(s1, late, "2021-01-08", "id")
    }
    assert(e.getMessage == "newer record detected")
  }

  test("observed gauges equal scanned gauges: empty state") {
    val root = Files.createTempDirectory("ingest-empty").toFile.getAbsolutePath
    // every row archived: the admit merges an empty snapshot
    writeCsv(root, "2021-01-01", Seq(("1", "a", "True"), ("2", "b", "True")))
    val (s1, d1) = IngestJob.runOnce(spark, root, emptyState(root, "2021-01-01"), "id",
      tracked, today = "2021-01-01", readSnapshot)
    assert(d1 == Seq("2021-01-01"))
    assert(IngestJob.highWaterMark(s1) == "1970-01-01")
    val g = observedEqualsScanned(s1, "2021-01-20")
    assert(g == Freshness.Gauges(0L, 0L, 0L, None, None))
  }

  test("observed gauges equal scanned gauges: a catch-up of three pending snapshots") {
    val root = Files.createTempDirectory("ingest-catchup").toFile.getAbsolutePath
    writeCsv(root, "2021-01-01", Seq(("1", "a", "False"), ("2", "b", "False")))
    writeCsv(root, "2021-01-08", Seq(("1", "a", "False"), ("3", "c", "False")))
    writeCsv(root, "2021-01-15", Seq(("1", "a2", "False"), ("3", "c", "False"),
      ("4", "d", "False")))
    val entries = Memo.size(spark, Memo.ObservedGauges)
    val (s1, d1) = IngestJob.runOnce(spark, root, emptyState(root, "2021-01-01"), "id",
      tracked, today = "2021-01-15", readSnapshot)
    assert(d1 == Seq("2021-01-01", "2021-01-08", "2021-01-15"))
    // only the returned state's gauges are kept, not the intermediates'
    assert(Memo.size(spark, Memo.ObservedGauges) == entries + 1)
    assert(IngestJob.highWaterMark(s1) == "2021-01-15")
    val g = observedEqualsScanned(s1, "2021-01-20")
    assert(g == Freshness.Gauges(4L, 3L, 1L, Some("2021-01-15"), Some(5L)))
    assert(observedEqualsScanned(s1, "2021-01-10").daysSinceUpdate.contains(-5L))
    // asOf is parsed as to_date parses it: a short form is the same day,
    // and under ANSI an unparseable date throws
    assert(Freshness.compute(s1, "2021-1-20") == g)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    intercept[Exception](Freshness.compute(s1, "not a date"))
  }

  test("runOnce catch-up: of what the call persisted, only the returned state stays") {
    val root = Files.createTempDirectory("ingest-release").toFile.getAbsolutePath
    writeCsv(root, "2021-01-01", Seq(("1", "a", "False"), ("2", "b", "False")))
    writeCsv(root, "2021-01-08", Seq(("1", "a", "False"), ("3", "c", "False")))
    writeCsv(root, "2021-01-15", Seq(("1", "a2", "False"), ("3", "c", "False")))
    val sc = spark.sparkContext
    val state = emptyState(root, "2021-01-01")
    val before = sc.getPersistentRDDs.keySet.toSet
    // strong references, taken as each snapshot is read (the generation
    // before it exists by then): the persisted-RDD map holds its values
    // weakly, so an unreleased generation could otherwise vanish with
    // the GC before the check
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def capture(): Unit =
      held ++= sc.getPersistentRDDs.values.filterNot(r => before(r.id))
    val (s1, d1) = IngestJob.runOnce(spark, root, state, "id", tracked,
      today = "2021-01-15", dir => { capture(); readSnapshot(dir) })
    capture()
    assert(d1 == Seq("2021-01-01", "2021-01-08", "2021-01-15"))
    val returned = s1.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case other => fail(s"runOnce returned an uncheckpointed plan: ${other.nodeName}")
    }
    val heldIds = held.map(_.id).toSet
    assert(heldIds.size >= 3, s"three generations were checkpointed: $heldIds")
    val still = heldIds.filter(sc.getPersistentRDDs.contains)
    assert(still == Set(returned), s"retained ${(still - returned).toSeq.sorted}")
    assert(s1.count() == 3L)
    state.count() // the caller's state stays readable
  }

  test("observed gauges equal scanned gauges: every row removed") {
    val root = Files.createTempDirectory("ingest-removed").toFile.getAbsolutePath
    writeCsv(root, "2021-01-01", Seq(("1", "a", "False"), ("2", "b", "False")))
    writeCsv(root, "2021-01-08", Seq(("1", "a", "True"), ("2", "b", "True")))
    val (s1, _) = IngestJob.runOnce(spark, root, emptyState(root, "2021-01-01"), "id",
      tracked, today = "2021-01-08", readSnapshot)
    val g = observedEqualsScanned(s1, "2021-01-08")
    assert(g == Freshness.Gauges(2L, 0L, 2L, Some("2021-01-08"), Some(0L)))
  }
}
