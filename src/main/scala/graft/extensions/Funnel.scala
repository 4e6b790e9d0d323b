package graft.extensions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality-filter FUNNEL — the C4/Gopher-style rule cascade with
  * first-failing-rule attribution (reference analog: the ad-hoc
  * row-drop accounting its notebooks print between cleaning steps).
  *
  * Every real corpus release ships this table: rules applied in a
  * fixed order, each doc attributed to the FIRST rule it fails, so the
  * per-rule drop counts sum exactly to `total - survivors` (counting
  * every failed rule per doc double-counts and cannot reconcile). A
  * NULL predicate fails closed — a doc whose metrics cannot be
  * evaluated does not pass a quality gate.
  *
  * Scale shape: metrics are one narrow projection (the token array is
  * let-bound so the split runs once per row — the wordNgrams
  * discipline); attribution is a per-row CASE; the report is a
  * groupBy on the stage index whose result has at most rules+1 rows.
  * The only window runs over that rules-cardinality frame, not the
  * corpus. One shuffle end to end, reduced to ≤ rules+1 rows by the
  * partial aggregation — safe at any corpus size.
  */
object Funnel {

  /** The stop list every funnel consumer shares by default — 'the'/'a',
    * the testdata corpus' function words. Callers with a different
    * corpus pass their own list and the n_stop metric, the stop_ratio
    * rule, and [[DataCard.buildWithFunnel]]'s card rows all follow. */
  val DefaultStopwords: Seq[String] = Seq("the", "a")

  /** Per-doc quality metrics, one narrow pass: token count, distinct
    * count, stop-token count (`stopwords` — the corpus' function
    * words), plus lang passthrough. */
  def docMetrics(
      documents: DataFrame,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val arr = filter(
      split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    val m = element_at(transform(array(arr), a => struct(
      size(a).cast("long").as("n_tok"),
      size(array_distinct(a)).cast("long").as("n_distinct"),
      size(filter(a, t => t.isin(stopwords: _*))).cast("long")
        .as("n_stop"))), 1)
    documents
      .select(col("doc_id"), col("lang"), m.as("_m"))
      .select(col("doc_id"), col("lang"),
        col("_m.n_tok").as("n_tok"),
        col("_m.n_distinct").as("n_distinct"),
        col("_m.n_stop").as("n_stop"))
  }

  /** The default cascade over [[docMetrics]] columns. Thresholds are
    * set from the testdata's measured distributions so every rule
    * actually drops documents (a funnel of all-zero rows pins
    * nothing): lang zh excluded, token count in [25, 90], stop ratio
    * ≤ 0.12, distinct-token ratio ≥ 0.35. */
  def defaultRules: Seq[(String, Column)] = Seq(
    "lang_allowed" -> col("lang").isin("en", "de", "es", "fr"),
    "min_tokens" -> (col("n_tok") >= 25),
    "max_tokens" -> (col("n_tok") <= 90),
    "stop_ratio" ->
      (col("n_tok") > 0 && col("n_stop") * 1.0 / col("n_tok") <= 0.12),
    "distinct_ratio" ->
      (col("n_tok") > 0 && col("n_distinct") * 1.0 / col("n_tok") >= 0.35))

  /** 0-based index of the first failed rule; rules.size = pass. */
  private def stageIdx(rules: Seq[(String, Column)]): Column =
    rules.zipWithIndex.foldRight(lit(rules.size)) {
      case (((_, pred), i), els) =>
        when(!coalesce(pred, lit(false)), lit(i)).otherwise(els)
    }

  /** The funnel report: (stage_idx, rule, n_dropped, n_remaining),
    * one row per rule plus the terminal 'pass' row; `n_remaining` is
    * the population still alive AFTER the stage, so the last two rows
    * agree on the survivor count. */
  def funnel(
      documents: DataFrame,
      rules: Seq[(String, Column)] = defaultRules,
      stopwords: Seq[String] = DefaultStopwords): DataFrame =
    shape(docMetrics(documents, stopwords)
        .select(stageIdx(rules).as("stage_idx")),
      rules.map(_._1))

  /** Shape a one-column per-doc `stage_idx` frame into the report:
    * (stage_idx int, rule, n_dropped long, n_remaining long) for the
    * ordered stage `names` plus the terminal 'pass' row (index =
    * names.size). [[ladder]] renders the same report from counts that
    * are already known ([[CorpusPipeline.funnelFull]]). */
  private[extensions] def shape(
      stageIdxRows: DataFrame, names: Seq[String]): DataFrame = {
    val spark = stageIdxRows.sparkSession
    import spark.implicits._
    val counts = stageIdxRows
      .groupBy("stage_idx").agg(count(lit(1)).as("n"))
    val dim = (names.zipWithIndex.map { case (nm, i) => (i, nm) } :+
      (names.size, "pass")).toDF("stage_idx", "rule")
    // stage-cardinality frame (≤ names+1 rows): the unpartitioned
    // windows are bounded by the stage count, never the corpus.
    val whole = Window.orderBy("stage_idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val upTo = Window.orderBy("stage_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.join(counts, Seq("stage_idx"), "left_outer")
      .select(col("stage_idx"), col("rule"),
        when(col("rule") === "pass", 0L)
          .otherwise(coalesce(col("n"), lit(0L))).as("n_dropped"),
        coalesce(col("n"), lit(0L)).as("_n"))
      .select(col("stage_idx"), col("rule"), col("n_dropped"),
        (sum("_n").over(whole) - sum("n_dropped").over(upTo))
          .as("n_remaining"))
  }

  /** [[shape]]'s report from known counts, as a local frame (no job):
    * `dropped(i)` of the `total` docs first fail stage `names(i)`. */
  private[extensions] def ladder(
      spark: SparkSession, names: Seq[String], total: Long,
      dropped: Seq[Long]): DataFrame = {
    import spark.implicits._
    val remaining = dropped.scanLeft(total)(_ - _)
    (names.indices.map(i => (i, names(i), dropped(i), remaining(i + 1))) :+
      ((names.size, "pass", 0L, remaining.last)))
      .toDF("stage_idx", "rule", "n_dropped", "n_remaining")
  }

  /** Documents that pass every rule — the survivor frame downstream
    * stages consume (semi join back, so original columns survive). */
  def survivors(
      documents: DataFrame,
      rules: Seq[(String, Column)] = defaultRules,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val pass = docMetrics(documents, stopwords)
      .filter(stageIdx(rules) === rules.size)
      .select("doc_id")
    documents.join(pass, Seq("doc_id"), "left_semi")
  }
}
