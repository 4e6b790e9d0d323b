package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.TermFrequency
import graft.extensions.CorpusPipeline
import graft.ingest.{IngestJob, Normalize}
import graft.merge.ScdMerge
import graft.metrics.Freshness
import graft.plans.Layout
import graft.schema.VacancySchema

/** One finished operation: its latency, how many of its outputs were
  * checked against the oracle and how many of those did not match. */
final case class Outcome(ms: Double, checks: Int, failures: Int) {
  def ok: Boolean = failures == 0
}

object Outcome {
  def apply(ms: Double, ok: Boolean): Outcome = Outcome(ms, 1, if (ok) 0 else 1)
}

/** The notebook's four analyst queries, composed from the program's
  * public operators exactly as an analyst would write them. */
object Analyst {
  private val dict = typedlit(Gen.SynonymDict)

  def profFreq(lake: DataFrame): DataFrame = {
    val counted = TermFrequency.counts(
      TermFrequency.tokenize(lake, "specializations", "\n", Seq("year")), Seq("year"))
    TermFrequency.topK(TermFrequency.withPct(counted, Seq("year")), Seq("year"), 10)
      .select("year", "token", "cnt", "pct", "rn")
  }

  private def canonSkills(lake: DataFrame): DataFrame =
    TermFrequency.tokenize(lake, "key_skills", "\n", Seq("year"))
      .select(col("year"), call_function("synonym_lookup", col("token"), dict).as("token"))
      .filter(col("token").isNotNull)

  def skillFreq(lake: DataFrame, prof: String): DataFrame =
    TermFrequency.counts(canonSkills(
      lake.filter(array_contains(split(col("specializations"), "\n"), prof))), Seq("year"))

  def skillPivot(lake: DataFrame, years: Seq[Int]): DataFrame =
    TermFrequency.pivotCounts(TermFrequency.counts(canonSkills(lake), Seq("year")),
      "year", years.map(_.toString))
}

/** A seeded, stratified query plan: in every block of ten queries two
  * cover all years and eight cover one (pruned) year; the kind mix is
  * 3:3:2:2 over profession frequency, skill frequency, pivot, gauges. */
final class QueryPlan(seed: Long) {
  private val rng = new Gen.Rng(seed, 7)
  private var block = Vector.empty[(String, Option[Int], String)]
  private val kinds = Vector.fill(3)("prof_freq") ++ Vector.fill(3)("skill_freq") ++
    Vector.fill(2)("skill_pivot") ++ Vector.fill(2)("gauges")
  private val profs = Gen.Professions.take(4)

  def next(): (String, Option[Int], String) = synchronized {
    if (block.isEmpty) {
      val scopes = Vector.fill(2)(None) ++ Vector.fill(8)(Some(rng.pick(Gen.Years)))
      block = rng.shuffle(kinds).zip(rng.shuffle(scopes)).map { case (k, s) => (k, s, rng.pick(profs)) }
    }
    val q = block.head
    block = block.tail
    q
  }
}

/** Runs analyst queries against one published lake version and checks
  * every answer against the oracle of that version. */
final class Reader(spark: SparkSession, var tr: Tracer, plan: QueryPlan) {
  private val oracleMemo = scala.collection.mutable.Map.empty[(Int, String, Option[Int], String), Any]
  private var lastFrame: DataFrame = _
  var tableCalls = 0L
  var tableMisses = 0L
  var resultRows = 0L

  def resetCounts(): Unit = { tableCalls = 0L; tableMisses = 0L; resultRows = 0L }

  def query(version: Int, lakeDir: String, state: Iterable[Gen.StateRow], asOf: String): Outcome = {
    val (kind, year, prof) = plan.next()
    val t0 = System.nanoTime()
    val got: Any = tr.op("op", s"$kind.${if (year.isEmpty) "all_years" else "one_year"}") {
      val lake = tr.span("tables", "table")(Tables.table(spark, lakeDir, "vacancies"))
      if (!(lake eq lastFrame)) { tableMisses += 1; lastFrame = lake }
      tableCalls += 1
      val scoped = year.fold(lake)(y => lake.filter(col("year") === y))
      kind match {
        case "prof_freq" => tr.span("analytics", kind)(Analyst.profFreq(scoped).collect())
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
        case "skill_freq" => tr.span("analytics", kind)(Analyst.skillFreq(scoped, prof).collect())
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
        case "skill_pivot" =>
          val ys = year.map(Seq(_)).getOrElse(Gen.Years)
          tr.span("analytics", kind)(Analyst.skillPivot(scoped, ys).collect()).map { r =>
            r.getString(0) -> ys.indices.map(i => if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1))).toVector
          }.toMap
        case "gauges" =>
          val g = tr.span("metrics", "compute")(Freshness.compute(scoped, asOf))
          (g.rowCount, g.liveCount, g.removedCount, g.maxLifecycleDate, g.daysSinceUpdate)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val want = oracleMemo.getOrElseUpdate((version, kind, year, prof), kind match {
      case "prof_freq" => Gen.profFreq(state, year)
      case "skill_freq" => Gen.skillFreq(state, year, prof)
      case "skill_pivot" => Gen.skillPivot(state, year)
      case "gauges" => Gen.gauges(state, year, asOf)
    })
    if (kind != "gauges") resultRows += got.asInstanceOf[Iterable[_]].size.toLong
    Outcome(ms, Oracle.same(got, want))
  }
}

/** Result comparison; the planted-wrong self-test swaps in a corrupted
  * expectation through [[Oracle.corrupt]]. */
object Oracle {
  @volatile var corrupt: Boolean = false
  private val planted = new java.util.concurrent.atomic.AtomicBoolean(false)

  def same(got: Any, want: Any): Boolean = {
    val w = if (corrupt && planted.compareAndSet(false, true)) "planted-wrong" else want
    (got, w) match {
      case (g: Set[_], x: Set[_]) if g.headOption.exists(_.isInstanceOf[(_, _, _, _, _)]) =>
        // profession top-10: pct compared with a tolerance
        def key(t: Any) = t.asInstanceOf[(Int, String, Long, Double, Int)]
        val gs = g.toSeq.map(key).sortBy(t => (t._1, t._5))
        val xs = x.toSeq.map(key).sortBy(t => (t._1, t._5))
        gs.size == xs.size && gs.zip(xs).forall { case (a, b) =>
          a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && a._5 == b._5 && math.abs(a._4 - b._4) < 1e-9
        }
      case _ => got == w
    }
  }
}

/** The ingest side of the lake: lands one snapshot at a time, admits it
  * with `IngestJob.runOnce`, publishes a new year-partitioned version
  * and rewrites the freshness `.prom` file. The four newest versions
  * are kept; older ones are deleted. */
final class Lake(spark: SparkSession, var tr: Tracer, in: Inputs, run: Path) {
  private val landing = run.resolve("landing")
  private val staging = run.resolve("staging")
  private val published = run.resolve("published")
  private val prom = run.resolve("metrics").resolve("graft.prom")
  private val tracked = VacancySchema.raw.fieldNames.toSeq.filterNot(_ == "id")
  Seq(landing, staging, published).foreach(Files.createDirectories(_))

  private def readSnapshot(dir: String): DataFrame = tr.span("sources", "read") {
    spark.read.schema(VacancySchema.csv).option("header", "true").option("multiLine", "true").csv(dir)
  }

  private var state: DataFrame = ScdMerge.emptyState(Normalize.normalizeSnapshot(
    spark.createDataFrame(java.util.Collections.emptyList[Row](), VacancySchema.csv)))
  var oracle: Gen.State = scala.collection.immutable.TreeMap.empty
  var admitted = 0
  var lastStoredRatio = 0.0
  var changedFracs = Vector.empty[Double]
  var filesWritten = Vector.empty[Int]

  /** The published version a reader should use, with its oracle state. */
  @volatile var current: Option[(Int, String, Gen.State, String)] = None

  def remaining: Int = in.history.size - admitted

  /** Copy the next snapshot next to the landing dir (not timed). */
  def stage(): Gen.Snapshot = {
    val s = in.history(admitted)
    val dst = staging.resolve(s.date)
    Files.createDirectories(dst)
    Files.copy(in.snapshotCsv(s.date), dst.resolve("result.csv"), StandardCopyOption.REPLACE_EXISTING)
    s
  }

  /** Land the staged snapshot and admit it; the latency runs from the
    * landing until the version is published and the `.prom` rewritten. */
  def admit(s: Gen.Snapshot): Outcome = {
    val version = admitted
    val out = published.resolve(f"v$version%05d")
    val t0 = System.nanoTime()
    val gauges = tr.op("op", "admit") {
      Files.move(staging.resolve(s.date), landing.resolve(s.date), StandardCopyOption.ATOMIC_MOVE)
      val (next, dates) = tr.span("ingest", "runOnce")(IngestJob.runOnce(
        spark, landing.toString, state, "id", tracked, s.date, readSnapshot))
      require(dates == Seq(s.date), s"admitted $dates, expected ${s.date}")
      tr.span("plans", "writeYearPartitioned")(Layout.writeYearPartitioned(
        next, "published_at", out.resolve("vacancies.parquet").toString, Seq("id")))
      val g = tr.span("metrics", "compute")(Freshness.compute(next, s.date))
      tr.span("metrics", "export")(Freshness.publishProm(prom, Freshness.prometheusText(g)))
      state = next
      g
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val before = oracle
    oracle = Gen.merge(oracle, s.rows, s.date)
    val changed = oracle.count { case (id, r) => !before.get(id).contains(r) }
    changedFracs :+= changed.toDouble / math.max(1, oracle.size)
    val ok = Oracle.same((gauges.rowCount, gauges.liveCount, gauges.removedCount,
      gauges.maxLifecycleDate, gauges.daysSinceUpdate), Gen.gauges(oracle.values, None, s.date)) &&
      Oracle.same(new String(Files.readAllBytes(prom), UTF_8), Gen.promText(oracle.values, s.date))
    lastStoredRatio = Inputs.treeBytes(out).toDouble / Files.size(in.snapshotCsv(s.date))
    filesWritten :+= Inputs.treeFiles(out, ".parquet")
    admitted += 1
    current = Some((version, out.toString, oracle, s.date))
    val old = published.resolve(f"v${version - 4}%05d")
    Inputs.deleteTree(old)
    Outcome(ms, ok)
  }
}

/** Curation: each batch lands at a fresh path (hard links into the
  * cache), is cleaned by `CorpusPipeline.clean`, and its survivors and
  * splits must equal the generator's expectation. */
final class Curator(spark: SparkSession, var tr: Tracer, in: Inputs, run: Path) {
  private val expected = (0 until Size.Batches).map(in.curateOracle).toVector
  private var n = 0
  var docs = 0L
  var survivors = 0L

  def resetCounts(): Unit = { docs = 0L; survivors = 0L }

  def curate(): Outcome = {
    // batches in turn, so every run cleans the same mix whatever its length
    val b = n % Size.Batches
    val dir = run.resolve("curate").resolve(s"op$n")
    n += 1
    Files.createDirectories(dir)
    Files.list(in.docsParquet(b)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    val t0 = System.nanoTime()
    val got = tr.op("op", "curate") {
      val documents = spark.read.parquet(dir.toString)
      tr.span("extensions", "clean")(CorpusPipeline.clean(documents).collect())
    }.map(r => r.getLong(0) -> r.getString(1)).toMap
    val ms = (System.nanoTime() - t0) / 1e6
    Inputs.deleteTree(dir)
    docs += Size.DocsPerBatch
    survivors += got.size
    Outcome(ms, Oracle.same(got, expected(b)))
  }
}
