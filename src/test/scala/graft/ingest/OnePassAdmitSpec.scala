package graft.ingest

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec
import graft.merge.ScdMerge
import graft.metrics.Freshness
import graft.schema.VacancySchema

/** The weekly admit is one materializing job per snapshot: on a warm
  * session, `runOnce` followed by `Freshness.compute` on the state it
  * returned submits no high-water-mark scan, no standalone late-guard
  * join and no gauge aggregate. */
class OnePassAdmitSpec extends SparkSpec {

  private def writeCsv(root: String, date: String, ids: Seq[String]): Unit = {
    val dir = new java.io.File(s"$root/$date"); dir.mkdirs()
    val w = new java.io.PrintWriter(s"$root/$date/result.csv")
    w.println(VacancySchema.csv.map(_.name).mkString(","))
    ids.foreach { id =>
      w.println(VacancySchema.csv.map(_.name match {
        case "id" => id
        case "name" => s"$id-$date"
        case "created_at" | "published_at" => "2021-01-01T00:00:00"
        case b if VacancySchema.booleanCols.contains(b) => "False"
        case _ => ""
      }).mkString(","))
    }
    w.close()
  }

  private def readSnapshot(dir: String): DataFrame =
    spark.read.schema(VacancySchema.csv).option("header", "true").csv(dir)

  /** Call sites of every SQL execution and job `body` starts. */
  private def sites(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
          .foreach(seen.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.add(x.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  test("a warm runOnce + Freshness.compute runs no hwm, late-guard or gauge job") {
    val root = Files.createTempDirectory("ingest-onepass").toFile.getAbsolutePath
    val tracked = VacancySchema.raw.map(_.name).filterNot(_ == "id")
    writeCsv(root, "2021-01-01", Seq("1", "2", "3"))
    val empty = ScdMerge.emptyState(
      Normalize.normalizeSnapshot(readSnapshot(s"$root/2021-01-01").limit(0)))
    // warm-up admit: the empty bootstrap state is scanned once
    val (s1, _) = IngestJob.runOnce(spark, root, empty, "id", tracked, "2021-01-01", readSnapshot)
    Freshness.compute(s1, "2021-01-01")
    writeCsv(root, "2021-01-08", Seq("2", "3", "4"))
    var g: Freshness.Gauges = null
    val seen = sites {
      val (s2, dates) = IngestJob.runOnce(spark, root, s1, "id", tracked, "2021-01-08",
        readSnapshot)
      assert(dates == Seq("2021-01-08"))
      g = Freshness.compute(s2, "2021-01-08")
    }
    assert(g == Freshness.Gauges(4L, 3L, 1L, Some("2021-01-08"), Some(0L)))
    assert(seen.exists(_.startsWith("localCheckpoint at IngestJob")),
      s"the merge job was not seen: $seen")
    val forbidden = Seq("head at IngestJob", "count at ScdMerge", "head at Freshness")
    val extra = seen.filter(s => forbidden.exists(s.startsWith))
    assert(extra.isEmpty, s"jobs the merge job should have served: ${extra.distinct}")
  }
}
