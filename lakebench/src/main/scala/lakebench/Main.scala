package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark driver: `lakebench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR`. Prints one JSON result line last on stdout;
  * everything else goes to stderr. See lakebench/README.md. */
object Main {
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, plantWrong: Boolean)

  val Workloads = Seq("refresh_mixed", "corpus_curation")
  /** Analyst queries after each admit: one stratified block of the plan. */
  val QueriesPerRefresh = 10
  /** Operations before the window. The first refresh is the cold one;
    * curation latency falls over the first several batches as the JIT
    * compiles the hot paths, and a longer window dilutes the rest. */
  val WarmRefreshes = 1
  val WarmCurations = 6

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Opts(w, m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")), m.getOrElse("plant-wrong", "0") == "1")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("determinism")) { sys.exit(Determinism.run(Paths.get(args(1)))) }
    val o = parse(args)
    Oracle.corrupt = o.plantWrong
    // a failure in set-up or in the driver itself ends the run without a
    // result line; failures of measured operations are counted instead
    val result =
      try new Run(o).run()
      catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    System.out.println(result)
    System.out.flush()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** What one measured phase produced. In a traced phase `ops` are the
  * traced operations and `plainOps` the untraced ones interleaved with
  * them, one each in turn, so both see the same JVM and box state. */
final case class Phase(ops: Vector[Outcome], admits: Vector[Outcome], wallS: Double,
    errors: Int, plainOps: Vector[Outcome] = Vector.empty)

/** One benchmark invocation: set up once (a cold session build and
  * warm-up), then measure one window: untraced, or traced with --trace 1. */
final class Run(o: Main.Opts) {
  import Main._

  private val runDir = o.work.resolve("run")
  private val in = new Inputs(o.work, o.seed)

  private def log(s: String): Unit = System.err.println(s"[lakebench] $s")

  /** A set-up workload: its session and the state its loop continues. */
  final class Live(val spark: SparkSession, val dir: Path, val buildMs: Double) {
    val untraced = new Tracer(spark.sparkContext, on = false)
    val plan = new QueryPlan(o.seed)
    lazy val lake = new Lake(spark, untraced, in, dir)
    val reader = new Reader(spark, untraced, plan)
    lazy val curator = new Curator(spark, untraced, in, dir)
  }

  /** Session build through warm-up; input generation is timed apart. */
  private def setUp(): (Live, Double, Seq[Outcome]) = {
    Files.createDirectories(runDir)
    val t0 = System.nanoTime()
    val spark = GraftSession.tool(Cores)
    val buildMs = (System.nanoTime() - t0) / 1e6
    val g0 = System.nanoTime()
    val genS = in.ensure(spark, o.workload)
    val genNs = System.nanoTime() - g0
    if (genS > 0) log(f"input generation: $genS%.2f s (cached for seed ${o.seed}, not gated)")
    val live = new Live(spark, runDir, buildMs)
    val warm = warmUp(live)
    log("warm-up ms " + warm.map(x => math.round(x.ms)).mkString(" "))
    (live, (System.nanoTime() - t0 - genNs) / 1e9, warm)
  }

  /** Warm-up operations, checked like any other. */
  private def warmUp(l: Live): Seq[Outcome] = o.workload match {
    case "refresh_mixed" => (1 to WarmRefreshes).map(_ => refresh(l)._1)
    case "corpus_curation" => (1 to WarmCurations).map(_ => l.curator.curate())
  }

  /** One refresh: a snapshot lands and is admitted, then the analyst runs
    * a block of queries on the version it published. The latency is the
    * admit's plus the queries'; the oracle work between them is not
    * counted. Returns the refresh and its admit. */
  private def refresh(l: Live): (Outcome, Outcome) = {
    val admit = l.lake.admit(l.lake.stage())
    val (v, dir, state, date) = l.lake.current.get
    val reads = Vector.fill(QueriesPerRefresh)(l.reader.query(v, dir, state.values, date))
    val parts = admit +: reads
    (Outcome(parts.map(_.ms).sum, parts.map(_.checks).sum, parts.map(_.failures).sum), admit)
  }

  def run(): String = {
    Inputs.deleteTree(runDir)
    val (live, setupS, warm) = setUp()
    log(f"setup: $setupS%.3f s (session ${live.buildMs}%.0f ms)")
    // a traced run reports per-layer metrics only, so it measures just the
    // traced phase; its untraced operations, interleaved, give the overhead
    val (phase, metrics) =
      if (o.trace) { val (t, tr) = tracedPhase(live); (t, new Layers(o.workload, tr, t, live).metrics) }
      else { val p = measure(live, live.untraced, o.seconds); (p, endToEnd(p, setupS)) }
    val all = warm ++ phase.ops ++ phase.plainOps
    val failed = all.map(_.failures).sum + phase.errors
    val attempted = all.map(_.checks).sum + phase.errors
    log(f"fail_frac ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted)")
    live.spark.stop()
    Inputs.deleteTree(runDir)
    Json.result(failed == 0, attempted, failed, metrics)
  }

  private def endToEnd(p: Phase, setupS: Double): Seq[(String, Double, String)] = {
    val lat = p.ops.map(_.ms)
    Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", quantile(lat, 0.5), "ms"),
      ("ops_per_s", p.ops.size / p.wallS, "1/s"),
      ("rss_peak_mb", vmHwmMb(), "MB"))
  }

  private def tracedPhase(l: Live): (Phase, Tracer) = {
    val tr = new Tracer(l.spark.sparkContext, on = true)
    tr.start()
    val p = measure(l, tr, o.seconds)
    tr.stop()
    Json.writeTrace(o.work.resolve("trace").resolve(s"${o.workload}-seed${o.seed}.jsonl"), tr)
    (p, tr)
  }

  /** Swap the tracer into the workload's parts and run the loop. */
  private def measure(l: Live, tr: Tracer, seconds: Int): Phase = {
    val reader = l.reader
    reader.resetCounts()
    if (o.workload == "corpus_curation") l.curator.resetCounts()
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    var ops = Vector.empty[Outcome]
    var plainOps = Vector.empty[Outcome]
    var admits = Vector.empty[Outcome]
    var errors = 0
    var n = 0L
    var loopEnd = 0L
    def guarded(f: => Outcome): Unit = {
      val traced = tr.on && n % 2 == 0
      n += 1
      reader.tr = if (traced) tr else l.untraced
      if (o.workload == "corpus_curation") l.curator.tr = reader.tr else l.lake.tr = reader.tr
      try { val x = f; if (traced || !tr.on) ops :+= x else plainOps :+= x }
      catch { case scala.util.control.NonFatal(e) => errors += 1; log(s"op failed: $e") }
    }
    o.workload match {
      case "refresh_mixed" =>
        // closed loop: the next snapshot lands as soon as the last refresh
        // is done; staging the file is not part of the operation
        while (System.nanoTime() < end && l.lake.remaining > 0)
          guarded { val (r, a) = refresh(l); admits :+= a; r }
        loopEnd = System.nanoTime()
        if (l.lake.remaining == 0) log("snapshot history exhausted before the window ended")
      case "corpus_curation" =>
        while (System.nanoTime() < end) guarded(l.curator.curate())
        loopEnd = System.nanoTime()
    }
    val wall = (loopEnd - t0) / 1e9
    log(s"${if (tr.on) "traced" else "untraced"} ${seconds} s phase: ${ops.size} ops in ${"%.1f".format(wall)} s, ms " +
      ops.map(x => math.round(x.ms)).mkString(" ") +
      (if (admits.nonEmpty) " | admits ms " + admits.map(x => math.round(x.ms)).mkString(" ") else ""))
    Phase(ops, admits, wall, errors, plainOps)
  }
}
