package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session memo follows its inputs' files: a path rewritten in place
  * is read again, unchanged files return the identical value, a rewrite
  * replaces the entry instead of adding one, and eviction is per family. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def lake(): String =
    Files.createTempDirectory("graft-memo").toString

  private def write(dir: String, ids: Seq[Long]): Unit =
    ids.toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")

  private def ids(dir: String): Set[Long] =
    Tables.table(spark, dir, "t").as[Long].collect().toSet

  test("Tables.table after an in-place overwrite returns the new rows") {
    val dir = lake()
    write(dir, Seq(1L, 2L))
    assert(ids(dir) == Set(1L, 2L))
    write(dir, Seq(3L, 4L, 5L))
    assert(ids(dir) == Set(3L, 4L, 5L))
  }

  test("a re-read of unchanged files returns the identical frame") {
    val dir = lake()
    write(dir, Seq(1L))
    val a = Tables.table(spark, dir, "t")
    assert(Tables.table(spark, dir, "t") eq a)
    // a derived memo value is shared the same way across plan-equal reads
    val p1 = spark.read.parquet(s"$dir/t.parquet")
    val p2 = spark.read.parquet(s"$dir/t.parquet")
    var builds = 0
    def memo(df: org.apache.spark.sql.DataFrame) =
      Memo.of(df, Memo.DedupFrames, "memo_spec") { builds += 1; builds }
    assert(memo(p1) == 1 && memo(p2) == 1 && builds == 1)
  }

  test("a rewrite replaces the entry: one entry per key, not two") {
    val dir = lake()
    write(dir, Seq(1L))
    val before = Memo.size(spark, Memo.TableFrames)
    val a = Tables.table(spark, dir, "t")
    assert(Memo.size(spark, Memo.TableFrames) == before + 1)
    write(dir, Seq(2L))
    val b = Tables.table(spark, dir, "t")
    assert(!(a eq b), "the rewritten path is read again")
    assert(Memo.size(spark, Memo.TableFrames) == before + 1)
    assert(Tables.table(spark, dir, "t") eq b)
    // the same for a chain of memoized frames: the dedup signatures are
    // keyed on the checkpointed shingle frame that a rewrite rebuilds
    val s = spark.newSession()
    val sizes = (1 to 3).map { n =>
      Seq.tabulate(n + 1)(i => (i.toLong, s"alpha beta gamma delta w$i"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/d")
      graft.extensions.Dedup.ccLabels(s.read.parquet(s"$dir/d")).collect()
      Memo.size(s, Memo.DedupFrames)
    }
    assert(sizes.distinct.size == 1, s"dedup entries per rewrite: $sizes")
  }

  test("Memo.evict(spark, family) drops only that family") {
    val s = spark.newSession()
    val dir = lake()
    write(dir, Seq(1L))
    val t = Tables.table(s, dir, "t")
    Memo(s, Memo.IvfIndexes, "k", Set.empty)("ivf")
    Memo.evict(s, Memo.IvfIndexes)
    assert(Memo.size(s, Memo.IvfIndexes) == 0)
    assert(Memo.size(s, Memo.TableFrames) == 1)
    assert(Tables.table(s, dir, "t") eq t)
    Memo.evict(s, Memo.TableFrames)
    assert(Memo.size(s, Memo.TableFrames) == 0)
    assert(!(Tables.table(s, dir, "t") eq t))
  }

  test("an ivf release deletes only graft-ivf directories of the temp directory") {
    val s = spark.newSession()
    val own = new java.io.File(Memo.ivfDir())
    val foreign = Files.createTempDirectory("graft-memo-foreign").toFile
    val nested = new java.io.File(lake(), "graft-ivf-nested")
    assert(nested.mkdirs())
    Seq(own, foreign, nested).zipWithIndex.foreach { case (d, i) =>
      Memo(s, Memo.IvfIndexes, i, Set.empty)(d.getPath)
    }
    Memo.evict(s, Memo.IvfIndexes)
    assert(!own.exists && foreign.exists && nested.exists)
    Seq(foreign, nested.getParentFile).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  test("Memo.files lists a path recursively with length and mtime; a missing path is empty") {
    val dir = lake()
    Seq((1L, 2020), (2L, 2021)).toDF("id", "year")
      .write.partitionBy("year").parquet(s"$dir/p.parquet")
    val fp = Memo.files(spark, s"$dir/p.parquet")
    assert(fp.count(_._1.endsWith(".parquet")) == 2, fp)
    assert(fp.forall { case (_, len, mtime) => len >= 0 && mtime > 0 })
    assert(fp.filter(_._1.endsWith(".parquet")) ==
      Memo.files(spark.read.parquet(s"$dir/p.parquet")))
    assert(Memo.files(spark, s"$dir/absent.parquet").isEmpty)
  }

  test("no file under src/main other than graft/Memo.scala keeps a session map or an app-end listener") {
    // source-level pin: one memo. A map keyed by SparkSession or an
    // onApplicationEnd override anywhere else is a second memo growing
    // its own eviction rules
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sessionMap =
      """(Map|TrieMap)\s*(\.empty)?\s*\[\s*\(?\s*(org\.apache\.spark\.sql\.)?SparkSession\b""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => root.relativize(p).toString != "graft/Memo.scala")
      .filter { p =>
        val src = Files.readString(p)
        sessionMap.findFirstIn(src).nonEmpty || src.contains("onApplicationEnd")
      }
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"session-keyed memo outside graft.Memo: ${offenders.mkString(", ")}")
  }
}
