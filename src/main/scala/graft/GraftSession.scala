package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Opinionated session factory: the configuration this engine assumes at
  * any scale (the harness driver builds its own session; these are the
  * settings we document and use in our own mains/tests).
  *
  *  - AQE on (runtime shuffle-partition coalescing + skew-join splitting),
  *    so `spark.sql.shuffle.partitions` is a ceiling, not a fixed cost;
  *  - auto-broadcast threshold left at default — small dims broadcast;
  *    bounded vocab dims (blocks.txt 61 lines × synonims.txt 430 lines,
  *    SURVEY §7.4) are orders of magnitude below it;
  *  - UTC session timezone pinned (tz-stripped timestamps, SURVEY §7.4);
  *  - graft's native functions registered via extensions;
  *  - `spark.sql.unionOutputPartitioning` OFF (r17): Spark 4.1's
  *    zip-merging UnionExec trusts the children's STATIC partitioning
  *    claims, but under AQE a child's runtime partition count can
  *    diverge (skew-split / coalesce / checkpoint materialization) —
  *    at sf10 the postings view's base∪log union died with "Can't zip
  *    RDDs with unequal numbers of partitions: List(32, 64)" (found by
  *    the r17 scaling run; sf≤1 never triggers it). The shuffle the
  *    optimization saves (the window exchange above the union) is one
  *    this engine already documents and bills; a loud scale-dependent
  *    crash is not worth it.
  */
object GraftSession {

  /** The conf set every graft session MUST carry, as one auditable map
    * (r17 VERDICT #4: these lines were copy-pasted across 10 tool
    * mains — one new tool missing `unionOutputPartitioning=false`
    * would silently reintroduce the sf10 zip-union crash).
    * [[builder]] folds this map in; GraftSessionSpec pins the critical
    * keys AND that no main builds a raw SparkSession around it. */
  val protectedConfs: Map[String, String] = Map(
    "spark.sql.unionOutputPartitioning" -> "false", // r17 sf10 crash fix
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // r20 (r19 VERDICT #4): the 2.4-semantics sorted-bucket-scan claim
    // is a REPO-WIDE invariant, pinned at session build instead of
    // leaked into the session by whichever query first builds a
    // bucketed state (plan shape must not depend on row order). Safe
    // here because the conf claims output order only for
    // one-file-per-bucket tables, which Layout.writeBucketedSorted
    // genuinely sorts per file; the SPARK-28173 hazard is multi-file
    // buckets, and those stay unclaimed. Layout.compactBucketed
    // restores the one-file invariant after appends.
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // Janino's compiled-class cache (static conf, default 100; one cache
    // per JVM, sized by the first session that generates code). The
    // weekly refresh loop (one admit, ten notebook queries) compiles
    // about 90 classes by its first warm refresh, then one per refresh
    // (the merge inlines the snapshot date); at 100 the LRU evicted live
    // classes and each refresh recompiled 15–37 of them (lakebench
    // refresh_mixed, seed 1). 1000 holds that working set ten times over.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.ui.enabled" -> "false")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    protectedConfs.foldLeft(
      SparkSession.builder()
        .master(master)
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  /** The one session constructor for tool mains (Verify, Bench,
    * TimeOne, …): local[SPARK_GRAFT_CPUS or `defaultCpus`], shuffle
    * partitions = cores (overridable via SPARK_GRAFT_SHUFFLE — the
    * spill-sizing lever: r18 used it to attribute the wide-merge
    * decade cliff to sort spill with cores held constant, PLANS.md
    * records the finding), protected
    * confs applied, temp warehouse dir (keeps ad-hoc catalog writes
    * out of the repo root). */
  def tool(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString).toInt
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString).toInt
    // r20: ad-hoc conf overrides for A/B measurement runs
    // (`SPARK_GRAFT_EXTRA_CONFS="spark.x=1;spark.y=2"`) — measurement
    // plumbing only; the shipped defaults stay in [[protectedConfs]]
    // and nothing in the bench/verify path sets this.
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONFS", "")
      .split(';').filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); kv.take(i).trim -> kv.drop(i + 1).trim
      }
    val s = extra.foldLeft(
      builder(s"local[$cpus]", shuffle)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-wh").toString)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** [[tool]] defaulted to the box (capped at the target's local[32]). */
  def toolMax(logLevel: String = "WARN"): SparkSession =
    tool(math.min(Runtime.getRuntime.availableProcessors(), 32), logLevel)
}
