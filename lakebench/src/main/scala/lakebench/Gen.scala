package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.immutable.SortedMap

import graft.schema.VacancySchema

/** Seeded input generator. Everything here is plain Scala: no Spark, so
  * the inputs and the oracle never depend on the program under test.
  *
  * Vacancies are rendered as the reference's 53-column CSV rows
  * (`YYYY-MM-DD/result.csv`, one dir per weekly snapshot); documents as
  * a 5-column CSV. The same seed always gives the same bytes. */
object Gen {

  // ---- vocabularies --------------------------------------------------------

  /** Profession classes (the `specializations` cell), Zipf-weighted. */
  val Professions: Vector[String] = Vector(
    "backend developer", "frontend developer", "data analyst", "data engineer",
    "devops engineer", "qa engineer", "system administrator", "project manager",
    "product manager", "mobile developer", "ml engineer", "support engineer",
    "business analyst", "security engineer", "database administrator",
    "network engineer", "game developer", "embedded developer", "technical writer",
    "ui designer", "scrum master", "architect", "team lead", "cto")

  /** Raw skill spellings as scraped, with their canonical form (the
    * reference's synonims.txt). Spellings mapped to None are not in the
    * dictionary and drop out of skill counts, as in the reference. */
  val Skills: Vector[(String, Option[String])] = Vector(
    "python" -> Some("python"), "Python" -> Some("python"), "py" -> Some("python"),
    "java" -> Some("java"), "Java" -> Some("java"), "jvm" -> Some("java"),
    "scala" -> Some("scala"), "Scala" -> Some("scala"),
    "sql" -> Some("sql"), "SQL" -> Some("sql"), "t-sql" -> Some("sql"),
    "postgres" -> Some("postgresql"), "PostgreSQL" -> Some("postgresql"),
    "postgresql" -> Some("postgresql"), "pg" -> Some("postgresql"),
    "mysql" -> Some("mysql"), "MySQL" -> Some("mysql"),
    "git" -> Some("git"), "Git" -> Some("git"), "github" -> Some("git"),
    "svn" -> Some("svn"), "docker" -> Some("docker"), "Docker" -> Some("docker"),
    "k8s" -> Some("kubernetes"), "kubernetes" -> Some("kubernetes"),
    "linux" -> Some("linux"), "Linux" -> Some("linux"), "unix" -> Some("linux"),
    "js" -> Some("javascript"), "JavaScript" -> Some("javascript"),
    "javascript" -> Some("javascript"), "ts" -> Some("typescript"),
    "TypeScript" -> Some("typescript"), "react" -> Some("react"),
    "React" -> Some("react"), "spark" -> Some("spark"), "Spark" -> Some("spark"),
    "hadoop" -> Some("hadoop"), "kafka" -> Some("kafka"), "Kafka" -> Some("kafka"),
    "c++" -> Some("cpp"), "C++" -> Some("cpp"), "go" -> Some("go"),
    "golang" -> Some("go"), "excel" -> None, "communication" -> None,
    "english" -> None, "teamwork" -> None, "jira" -> None, "agile" -> None)

  val SynonymDict: Map[String, String] =
    Skills.collect { case (raw, Some(canon)) => raw -> canon }.toMap

  private val Words: Vector[String] = {
    val syl = Vector("ka", "ro", "mi", "te", "su", "na", "lo", "vi", "de", "pa",
      "ri", "zo", "ne", "ta", "ku", "be")
    (for (a <- syl; b <- syl; c <- Seq("", "n", "s")) yield a + b + c).distinct
  }

  val Years: Vector[Int] = (2006 to 2020).toVector

  // ---- seeded helpers ------------------------------------------------------

  final class Rng(seed: Long, stream: Long) {
    private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[A](v: Vector[A]): A = v(r.nextInt(v.size))
    /** Zipf(1) over indices 0..n-1. */
    def zipf(n: Int): Int = {
      val h = (1 to n).map(1.0 / _).sum
      var u = r.nextDouble() * h
      var i = 0
      while (i < n - 1 && u >= 1.0 / (i + 1)) { u -= 1.0 / (i + 1); i += 1 }
      i
    }
    def shuffle[A](v: Vector[A]): Vector[A] = {
      val a = v.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toVector.asInstanceOf[Vector[A]]
    }
  }

  // ---- vacancies -----------------------------------------------------------

  /** The generated facts of one vacancy; every CSV cell renders from it. */
  final case class Vac(
      id: Long, title: String, profs: Vector[String], skills: Vector[String],
      year: Int, pubTs: String, salary: Long, descr: String, area: Int,
      employer: Long, archived: Boolean)

  private def words(rng: Rng, n: Int): String =
    Vector.fill(n)(rng.pick(Words)).mkString(" ")

  def newVac(rng: Rng, id: Long): Vac = {
    val nProfs = if (rng.chance(0.3)) 2 else 1
    val profs = Vector.fill(nProfs)(Professions(rng.zipf(Professions.size))).distinct
    val skills = Vector.fill(rng.between(2, 6))(Skills(rng.zipf(Skills.size))._1).distinct
    val year = rng.pick(Years)
    val pubTs = f"$year%04d-${rng.between(1, 12)}%02d-${rng.between(1, 28)}%02dT" +
      f"${rng.int(24)}%02d:${rng.int(60)}%02d:00+0300"
    Vac(id, profs.head + " " + rng.pick(Words), profs, skills, year, pubTs,
      30000L + 1000L * rng.int(200), words(rng, rng.between(6, 14)), rng.between(1, 120),
      1000L + rng.int(400), archived = false)
  }

  /** One tracked column changes: salary, description or the skill list. */
  def change(rng: Rng, v: Vac): Vac = rng.int(3) match {
    case 0 => v.copy(salary = v.salary + 1000L * rng.between(1, 9))
    case 1 => v.copy(descr = words(rng, rng.between(6, 14)))
    case _ =>
      val s = Vector.fill(rng.between(2, 6))(Skills(rng.zipf(Skills.size))._1).distinct
      v.copy(skills = if (s == v.skills) s :+ "extra" else s)
  }

  val CsvHeader: Vector[String] = VacancySchema.csv.fieldNames.toVector

  private def bool(b: Boolean) = if (b) "True" else "False"

  /** CSV cells in header order. Only the "\n"-joined array cells need
    * quoting; no generated value holds a comma, quote or backslash. */
  def csvCells(v: Vac): Vector[String] = CsvHeader.map {
    case "id" => v.id.toString
    case "description" => v.descr
    case "key_skills" => v.skills.mkString("\n")
    case "specializations" => v.profs.mkString("\n")
    case "name" => v.title
    case "created_at" | "published_at" => v.pubTs
    case "archived" => bool(v.archived)
    case "salary_from" => v.salary.toString
    case "salary_to" => (v.salary + 20000L).toString
    case "salary_gross" => bool(v.id % 2 == 0)
    case "salary_currency" => "RUR"
    case "area_id" => v.area.toString
    case "area_name" => s"area ${v.area}"
    case "employer_id" => v.employer.toString
    case "employer_name" => s"employer ${v.employer}"
    case "address_lat" => s"${56 + v.area % 10}.${v.area % 7}"
    case "address_lng" => s"${60 + v.area % 7}.${v.area % 3}"
    case "driver_license_types" => if (v.id % 5 == 0) "B\nC" else ""
    case c if VacancySchema.booleanCols.contains(c) => bool((v.id + c.length) % 3 == 0)
    case c => if ((v.id + c.length) % 4 == 0) "" else s"${c.take(3)}${(v.id + c.length) % 7}"
  }

  def csvLine(v: Vac): String = csvCells(v).map { c =>
    if (c.contains('\n')) "\"" + c + "\"" else c
  }.mkString(",")

  def writeCsv(path: Path, header: Seq[String], lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try {
      w.write(header.mkString(",")); w.write("\n")
      lines.foreach { l => w.write(l); w.write("\n") }
    } finally w.close()
  }

  // ---- the lifecycle state (the oracle's SCD merge) -------------------------

  /** One state row as the merge leaves it: the normalized data plus the
    * lifecycle dates (ISO strings, so string order is date order). */
  final case class StateRow(v: Vac, added: String, updated: String, removed: Option[String])

  type State = SortedMap[Long, StateRow]

  /** The reference's merge (feeder_postgres.py:111-194), as the oracle:
    * archived rows drop before merging; a new key is inserted; a key
    * whose data changed gets updated_at; a key missing from the snapshot
    * is tombstoned once; a reappearing key keeps its removed_at. */
  def merge(state: State, snapshot: Vector[Vac], date: String): State = {
    val present = snapshot.filterNot(_.archived)
    val ids = present.iterator.map(_.id).toSet
    var next = state
    present.foreach { v =>
      next = next.get(v.id) match {
        case None => next.updated(v.id, StateRow(v, date, date, None))
        case Some(s) if s.v != v => next.updated(v.id, s.copy(v = v, updated = date))
        case Some(_) => next
      }
    }
    state.foreach { case (id, s) =>
      if (!ids(id) && s.added < date && s.removed.forall(date < _))
        next = next.updated(id, s.copy(removed = Some(date)))
    }
    next
  }

  // ---- weekly snapshot history ---------------------------------------------

  final case class Snapshot(date: String, rows: Vector[Vac])

  /** `weeks` dated snapshots with seeded churn: new vacancies, archived
    * ones, vanished ones, reappearing ones and one-column changes. */
  def history(seed: Long, live0: Int, weeks: Int): Vector[Snapshot] = {
    val rng = new Rng(seed, 1)
    var nextId = 1L
    def fresh(): Vac = { val v = newVac(rng, nextId); nextId += 1; v }
    var feed = Vector.fill(live0)(fresh())
    var gone = Vector.empty[Vac]
    val start = java.time.LocalDate.of(2020, 1, 6)
    (0 until weeks).toVector.map { w =>
      if (w > 0) {
        // last week's archived rows leave the feed for good
        val (leaving, staying) = feed.filterNot(_.archived).partition(_ => rng.chance(0.03))
        val back = rng.shuffle(gone).take(math.max(1, live0 / 100))
        gone = gone.filterNot(g => back.exists(_.id == g.id)) ++ leaving
        val kept = staying.map(v => if (rng.chance(0.04)) change(rng, v) else v)
          .map(v => if (rng.chance(0.015)) v.copy(archived = true) else v)
        feed = kept ++ back ++ Vector.fill(live0 / 20)(fresh())
      }
      Snapshot(start.plusWeeks(w.toLong).toString, feed)
    }
  }

  // ---- analytics oracle ----------------------------------------------------

  /** Spark's `round(x, 4)` on a double (HALF_UP over the decimal text). */
  def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cells(s: String): Vector[String] = s.split("\n", -1).toVector.filter(_.nonEmpty)

  private def inScope(rows: Iterable[StateRow], year: Option[Int]) =
    rows.filter(r => year.forall(_ == r.v.year))

  /** (year, token, cnt, pct, rn) rows of the flagship top-10. */
  def profFreq(rows: Iterable[StateRow], year: Option[Int]): Set[(Int, String, Long, Double, Int)] =
    inScope(rows, year).groupBy(_.v.year).toSeq.flatMap { case (y, rs) =>
      val counts = rs.toSeq.flatMap(r => cells(r.v.profs.mkString("\n")))
        .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
      val total = counts.values.sum
      counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(10).zipWithIndex.map {
        case ((t, c), i) => (y, t, c, round4(c * 100.0 / total), i + 1)
      }
    }.toSet

  /** (year, canon, cnt) skill counts among vacancies of one profession. */
  def skillFreq(rows: Iterable[StateRow], year: Option[Int], prof: String): Set[(Int, String, Long)] =
    inScope(rows, year).filter(_.v.profs.contains(prof)).toSeq
      .flatMap(r => r.v.skills.flatMap(SynonymDict.get).map(r.v.year -> _))
      .groupBy(identity).map { case ((y, c), xs) => (y, c, xs.size.toLong) }.toSet

  /** canon → per-pivot-year sums (None where the year has none). */
  def skillPivot(rows: Iterable[StateRow], year: Option[Int]): Map[String, Vector[Option[Long]]] = {
    val ys = year.map(Vector(_)).getOrElse(Years)
    val counts = inScope(rows, year).toSeq
      .flatMap(r => r.v.skills.flatMap(SynonymDict.get).map(_ -> r.v.year))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    counts.keys.map(_._1).toSet.map { (c: String) =>
      c -> ys.map(y => counts.get(c -> y))
    }.toMap
  }

  /** The freshness gauges as of `asOf`: rows, live, removed, the
    * lifecycle high-water mark and the days from it to `asOf`. */
  def gauges(rows: Iterable[StateRow], year: Option[Int], asOf: String)
      : (Long, Long, Long, Option[String], Option[Long]) = {
    val rs = inScope(rows, year).toSeq
    val dates = rs.flatMap(r => Seq(r.added, r.updated) ++ r.removed)
    val hwm = if (dates.isEmpty) None else Some(dates.max)
    val days = hwm.map(h => java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(h), java.time.LocalDate.parse(asOf)))
    (rs.size.toLong, rs.count(_.removed.isEmpty).toLong, rs.count(_.removed.nonEmpty).toLong, hwm, days)
  }

  /** The `.prom` file expected after an admit, in the Prometheus text
    * exposition format: per gauge a `# TYPE` line and one sample, named
    * `graft_*`; days since update only when the state has a lifecycle
    * date. */
  def promText(rows: Iterable[StateRow], asOf: String): String = {
    val (n, live, removed, _, days) = gauges(rows, None, asOf)
    (Seq("rows_total" -> n, "rows_live" -> live, "rows_removed" -> removed) ++
      days.map("days_since_update" -> _)).map { case (name, v) =>
      s"# TYPE graft_$name gauge\ngraft_$name $v\n"
    }.mkString
  }

  // ---- documents for corpus curation ---------------------------------------

  final case class Doc(id: Long, text: String)

  /** One batch: clean docs plus planted quality failures, exact
    * duplicates (same text up to case) and near duplicates (one or two
    * tokens replaced). Copies always get a larger doc_id than their
    * original, so the original is the one that should survive. */
  def docBatch(seed: Long, batch: Int, n: Int): Vector[Doc] = {
    val rng = new Rng(seed, 100 + batch)
    val base = batch.toLong * 1000000L
    val docs = Vector.newBuilder[Doc]
    var made = Vector.empty[Doc]
    def tokens(k: Int, stopP: Double): String =
      Vector.fill(k)(if (rng.chance(stopP)) (if (rng.chance(0.5)) "the" else "a") else rng.pick(Words))
        .mkString(" ")
    (0 until n).foreach { i =>
      val id = base + i
      val roll = rng.int(100)
      val text =
        if (made.nonEmpty && roll < 8) {
          val o = rng.pick(made).text
          if (rng.chance(0.5)) o.capitalize else o
        } else if (made.nonEmpty && roll < 16) {
          val t = rng.pick(made).text.split(" ")
          (1 to rng.between(1, 2)).foreach(_ => t(rng.int(t.length)) = rng.pick(Words))
          t.mkString(" ")
        } else if (roll < 24) tokens(rng.between(4, 15), 0.03)
        else if (roll < 28) tokens(rng.between(80, 100), 0.03)
        else if (roll < 32) tokens(rng.between(25, 50), 0.35)
        else tokens(rng.between(25, 55), 0.04)
      val d = Doc(id, text)
      made :+= d
      docs += d
    }
    docs.result()
  }

  val DocHeader: Seq[String] = Seq("doc_id", "text", "lang", "source", "n_chars")

  def docLine(d: Doc): String = s"${d.id},${d.text},en,web,${d.text.length}"

  private val Hex = "0123456789abcdef".toCharArray

  private def md5(s: String): String = {
    val b = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) { out(2 * i) = Hex((b(i) >> 4) & 0xf); out(2 * i + 1) = Hex(b(i) & 0xf); i += 1 }
    new String(out)
  }

  /** Expected `CorpusPipeline.clean` survivors (doc_id → split), computed
    * the way the pipeline defines them: quality gate (20–70 tokens, stop
    * ratio ≤ 0.12), exact dedup on md5(lower(text)) keeping the lowest
    * id, md5 MinHash over word 3-gram sets (8 hashes, 2 bands of 4),
    * the larger id of each banded pair dropped, split on md5(doc_id). */
  def curateOracle(docs: Vector[Doc]): Map[Long, String] = {
    val gated = docs.filter { d =>
      val toks = d.text.split(" ", -1)
      val stop = toks.count(t => t == "the" || t == "a")
      toks.length >= 20 && toks.length <= 70 && round4(stop * 1.0 / toks.length) <= 0.12
    }
    val exact = gated.groupBy(d => md5(d.text.toLowerCase)).values.map(_.map(_.id).min).toSet
    val kept = docs.filter(d => exact(d.id))
    val bands = kept.flatMap { d =>
      val arr = d.text.split(" ", -1)
      val sh = if (arr.length >= 3) arr.sliding(3).map(_.mkString(" ")).toVector.distinct else Vector.empty
      if (sh.isEmpty) Nil
      else {
        val sig = (0 until 8).map(seed => sh.map(s => md5(s"$seed:$s")).min)
        (0 until 2).map(b => (b, md5(sig.slice(b * 4, b * 4 + 4).mkString("|")), d.id))
      }
    }
    val dropped = bands.groupBy(t => (t._1, t._2)).values.flatMap { ms =>
      val ids = ms.map(_._3).distinct.sorted
      ids.drop(1)
    }.toSet
    kept.filterNot(d => dropped(d.id)).map { d =>
      d.id -> (if (md5(d.id.toString).substring(0, 1) < "c") "train" else "val")
    }.toMap
  }
}
