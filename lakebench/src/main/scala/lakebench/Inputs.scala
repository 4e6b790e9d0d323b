package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Input sizes, measured rather than taken from the reference (see
  * README, "Sizes, and why"): `Live0` is the largest snapshot that kept
  * four or five refreshes in a 22 s window on a 4-core box, and
  * `DocsPerBatch` a batch large enough that about half its time grows
  * with the documents. `Weeks` leaves room for a program three times
  * faster. The cache key carries `Tag`, so changing a size regenerates
  * instead of reusing stale files. */
object Size {
  val Live0 = 3000
  val Weeks = 40
  val Batches = 4
  val DocsPerBatch = 1200
  val Tag = s"v$Live0-w$Weeks-b$Batches-d$DocsPerBatch"
}

/** The generated files of one seed, cached under `work/cache`.
  *
  * Plain generated files (CSV) are written here from [[Gen]]; the
  * document batches are also converted once to parquet with Spark and
  * cached beside them. A `.complete` marker makes a half-written entry
  * count as absent. At most `KeepEntries` seeds stay cached. */
final class Inputs(work: Path, seed: Long) {
  val dir: Path = work.resolve("cache").resolve(s"seed$seed-${Size.Tag}")
  val historyDir: Path = dir.resolve("history")
  def docsCsv(b: Int): Path = dir.resolve("docs").resolve(s"batch$b.csv")
  def docsParquet(b: Int): Path = dir.resolve("docs_parquet").resolve(s"batch=$b")
  def oracleFile(b: Int): Path = dir.resolve("docs").resolve(s"batch$b.expected")

  lazy val history: Vector[Gen.Snapshot] = Gen.history(seed, Size.Live0, Size.Weeks)

  def snapshotCsv(date: String): Path = historyDir.resolve(date).resolve("result.csv")

  /** Expected survivors of batch `b`, as written by the generator. */
  def curateOracle(b: Int): Map[Long, String] =
    Files.readAllLines(oracleFile(b), UTF_8).asScala.map { l =>
      val Array(id, split) = l.split(" ")
      id.toLong -> split
    }.toMap

  private def marker(part: String) = dir.resolve(s".complete-$part")

  /** Generate what `workload` needs; returns seconds spent (0 on a hit). */
  def ensure(spark: => SparkSession, workload: String): Double = {
    val t0 = System.nanoTime()
    val part = if (workload == "corpus_curation") "docs" else "history"
    if (!Files.exists(marker(part))) {
      Files.createDirectories(dir)
      if (part == "docs") writeDocs(spark) else writeHistory()
      Files.write(marker(part), Array.emptyByteArray)
    }
    Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    Inputs.evictOld(work.resolve("cache"))
    (System.nanoTime() - t0) / 1e9
  }

  /** The generator's plain files: the CSV snapshot history and the
    * document batches with their expected survivors. */
  def writeHistory(): Unit = history.foreach { s =>
    Gen.writeCsv(snapshotCsv(s.date), Gen.CsvHeader, s.rows.iterator.map(Gen.csvLine))
  }

  def writeDocCsvs(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (0 until Size.Batches).map { b =>
        pool.submit(() => {
          val docs = Gen.docBatch(seed, b, Size.DocsPerBatch)
          Gen.writeCsv(docsCsv(b), Gen.DocHeader, docs.iterator.map(Gen.docLine))
          val expected = Gen.curateOracle(docs).toSeq.sortBy(_._1).map { case (id, s) => s"$id $s" }
          Files.write(oracleFile(b), expected.asJava, UTF_8)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** The CSV batches as one parquet table partitioned by batch. */
  private def writeDocs(spark: SparkSession): Unit = {
    writeDocCsvs()
    spark.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("header", "true").option("pathGlobFilter", "*.csv").csv(dir.resolve("docs").toString)
      .withColumn("batch", (org.apache.spark.sql.functions.col("doc_id") / 1000000).cast("int"))
      .write.partitionBy("batch").mode("overwrite").parquet(dir.resolve("docs_parquet").toString)
  }
}

object Inputs {
  val KeepEntries = 6

  def evictOld(cache: Path): Unit = {
    val entries = Files.list(cache).iterator().asScala.filter(Files.isDirectory(_)).toVector
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
    entries.drop(KeepEntries).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector.reverse
    all.foreach(Files.deleteIfExists)
  }

  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def treeFiles(p: Path, suffix: String): Int =
    Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
}
