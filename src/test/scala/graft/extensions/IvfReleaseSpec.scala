package graft.extensions

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, Memo}

/** The IVF index directories the session memo builds are deleted by
  * the memo: at once on eviction, and at session end for the rest,
  * including an index a rebuild replaced. A whole session runs in a
  * child JVM with its own temp dir, so its end is a real
  * `SparkContext.stop()` and the count is not disturbed by other specs. */
class IvfReleaseSpec extends AnyFunSuite {

  test("a session leaves no graft-ivf directory behind") {
    val tmp = Files.createTempDirectory("graft-ivf-release").toFile
    val before = IvfSessionProbe.ivfDirs(tmp)
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens: Seq[String] = args.zip(args.drop(1)).collect {
      case ("--add-opens", v) => Seq("--add-opens", v)
    }.flatten
    val cmd: Seq[String] = Seq(java, "-Xmx512m", s"-Djava.io.tmpdir=$tmp", "-Dspark.ui.enabled=false") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.extensions.IvfSessionProbe", new File(tmp, "data").getPath)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, out.takeRight(30).mkString("\n"))
    val probe = out.filter(_.startsWith("PROBE ")).map(_.stripPrefix("PROBE "))
    assert(probe == Seq(
      "built dirs=1",
      "evicted exists=false dirs=0",
      "replaced old_exists=true dirs=2",
      "stopped dirs=0"), out.takeRight(30).mkString("\n"))
    assert(before == 0 && IvfSessionProbe.ivfDirs(tmp) == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}

/** One session's IVF index lifecycle, printed as `PROBE` lines. */
object IvfSessionProbe {
  def ivfDirs(tmp: File): Int =
    Option(tmp.listFiles()).getOrElse(Array.empty).count(_.getName.startsWith("graft-ivf"))

  def main(args: Array[String]): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val data = args(0)
    val spark: SparkSession = GraftSession.builder("local[1]", 1)
      .config("spark.sql.warehouse.dir", s"$data/wh").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, i % 2, Array(i.toFloat, 1f))).toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$data/emb")
    def index(): String = Similarity.ivfIndexPath(spark.read.parquet(s"$data/emb"))

    write(6)
    val p1 = index()
    println(s"PROBE built dirs=${ivfDirs(tmp)}")
    Memo.evict(spark, Memo.IvfIndexes)
    println(s"PROBE evicted exists=${new File(p1).exists} dirs=${ivfDirs(tmp)}")
    val p2 = index()
    write(8) // the embeddings change: the next lookup rebuilds and replaces p2
    index()
    println(s"PROBE replaced old_exists=${new File(p2).exists} dirs=${ivfDirs(tmp)}")
    spark.stop()
    println(s"PROBE stopped dirs=${ivfDirs(tmp)}")
  }
}
