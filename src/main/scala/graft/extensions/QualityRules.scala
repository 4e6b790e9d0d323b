package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher",
  * table A1) — the heuristic filter battery every pretraining pipeline
  * runs BEFORE the model-based scorers ([[TextAnalysis.qualityScore]]
  * exposes the raw ratios; [[DataSelection.perplexityScore]] is the
  * LM-based stage). This operator makes each rule a named, independent
  * boolean so a corpus ship can report WHICH rule rejected what —
  * per-rule counts, not just a survivor set — which is how filter
  * thresholds actually get tuned.
  *
  * All five rules are a single narrow projection over the token array
  * (no joins, no shuffles, no UDFs — plain codegen'd HOFs), so the
  * gate costs one corpus scan at any scale. The most-frequent-token
  * ratio folds over the array's DISTINCT tokens (bounded per row by
  * doc length; documents are token-bounded upstream).
  *
  * Rule thresholds are corpus-tunable parameters; defaults follow
  * Gopher's shape adapted to this harness corpus (short synthetic
  * docs): word count in [minTok, maxTok], mean word length in
  * [minMeanLen, maxMeanLen], ≥ minStop stopword hits, most-frequent
  * token ratio ≤ maxTopRatio (the "repetition" symptom), distinct
  * token ratio ≥ minDistinctRatio (the "diversity" floor). An empty
  * token array fails every rule (NULL-safe: ratios coalesce to the
  * failing side). */
object QualityRules {

  final case class Thresholds(
      minTok: Long = 10,
      maxTok: Long = 90,
      minMeanLen: Double = 2.0,
      maxMeanLen: Double = 8.0,
      stopwords: Seq[String] = Seq("the", "a", "of", "to", "and"),
      minStop: Long = 2,
      maxTopRatio: Double = 0.2,
      minDistinctRatio: Double = 0.3)

  /** The default Thresholds above are HARNESS-corpus-adapted (short
    * synthetic docs); this companion carries the publish-parity preset
    * so a real-corpus run can cite the paper's settings directly. */
  object Thresholds {

    /** Rae et al. 2021 table A1's published values, mapped field by
      * field onto this battery's five rules:
      *  - word count in [50, 100000]            → minTok / maxTok
      *  - mean word length in [3, 10] chars     → minMeanLen / maxMeanLen
      *  - ≥ 2 hits of the paper's 8-word stop list
      *    {the, be, to, of, and, that, have, with} → stopwords / minStop
      *  - most-frequent-token ratio ≤ 0.2 — the repetition symptom,
      *    this battery's token-count form of the paper's
      *    top-word character-fraction rule     → maxTopRatio
      *  - distinct-token ratio ≥ 0.8 — the diversity floor at the
      *    published shape (the paper states it as the complementary
      *    duplicate-fraction family)           → minDistinctRatio */
    val published: Thresholds = Thresholds(
      minTok = 50,
      maxTok = 100000,
      minMeanLen = 3.0,
      maxMeanLen = 10.0,
      stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStop = 2,
      maxTopRatio = 0.2,
      minDistinctRatio = 0.8)
  }

  /** The rules' shared per-doc metrics, as columns over a token-array
    * column `arr` — exposed so the flags and the report derive from
    * ONE expression set (no drift between them). */
  private def metrics(arr: Column, t: Thresholds): Seq[(String, Column)] = {
    val nTok = size(arr).cast("long")
    // every ratio is NULL on an empty token array (guarded division,
    // mirrored by CASE WHEN in the oracles) and every rule coalesces
    // NULL to fail — an empty doc fails the whole battery
    val meanLen = when(nTok > 0, round(
      aggregate(transform(arr, x => length(x)), lit(0L), (acc, x) => acc + x)
        * lit(1.0) / nTok, 4))
    val stopArr = array(t.stopwords.map(lit): _*)
    val nStop = size(filter(arr, x => array_contains(stopArr, x))).cast("long")
    // most-frequent-token count as a run-length fold over the SORTED
    // array — O(n log n) per row, the tokenEntropy idiom (the first
    // shape folded once per DISTINCT token, O(n·n_distinct) per row:
    // measured 45 s → the sorted fold at sf10's 5M docs)
    val topCnt = element_at(transform(array(array_sort(arr)), sa =>
      aggregate(
        sa,
        struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
          lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))), 1)
    val topRatio = when(nTok > 0, round(topCnt * lit(1.0) / nTok, 4))
    val distinctRatio = when(nTok > 0, round(
      size(array_distinct(arr)).cast("long") * lit(1.0) / nTok, 4))
    Seq(
      "r_word_count" -> nTok.between(t.minTok, t.maxTok),
      "r_mean_word_len" -> coalesce(
        meanLen >= t.minMeanLen && meanLen <= t.maxMeanLen, lit(false)),
      "r_stopword" -> (nStop >= t.minStop),
      "r_top_token" -> coalesce(topRatio <= t.maxTopRatio, lit(false)),
      "r_distinct" -> coalesce(distinctRatio >= t.minDistinctRatio,
        lit(false)))
  }

  private def tokenArr: Column =
    filter(split(lower(coalesce(col("text"), lit(""))), " "), x => x =!= "")

  /** Per-document rule flags: (doc_id, n_tok, r_*, pass). Every rule is
    * evaluated independently (NOT first-fail — that's
    * [[CorpusPipeline.funnelFull]]'s job), so downstream threshold
    * tuning sees each rule's full rejection set. */
  def gopherFlags(documents: DataFrame,
      t: Thresholds = Thresholds()): DataFrame = {
    val arr = tokenArr
    val ms = metrics(arr, t)
    documents.select(
      (col("doc_id") +: size(arr).cast("long").as("n_tok") +:
        ms.map { case (n, c) => c.as(n) }) :+
        ms.map(_._2).reduce(_ && _).as("pass"): _*)
  }

  /** The gate's governance roll-up: one row per rule with its
    * INDEPENDENT fail count (a doc failing three rules counts in all
    * three — the tuning view, unlike [[CorpusPipeline.funnelFull]]'s
    * first-fail attribution), plus a 'pass' row carrying the survivor
    * count. Single aggregation over the flags frame.
    * Row order is not part of the result. */
  def gopherReport(documents: DataFrame,
      t: Thresholds = Thresholds()): DataFrame = {
    val flags = gopherFlags(documents, t)
    val ruleNames = metrics(tokenArr, t).map(_._1)
    // ONE corpus scan: every rule's fail count and the survivor count
    // ride a single scalar aggregate (bounded SINGLE_PARTITION — the
    // census' benign scalar-agg class), then pivot to rows driver-free
    val agg = flags.agg(
      sum((!col(ruleNames.head)).cast("long")).as(ruleNames.head),
      (ruleNames.tail.map(n => sum((!col(n)).cast("long")).as(n)) :+
        sum(col("pass").cast("long")).as("pass")): _*)
    agg.select(explode(array((ruleNames :+ "pass").map(n =>
      struct(lit(n).as("rule"), col(n).as("n_docs"))): _*)).as("x"))
      .select(col("x.rule").as("rule"), col("x.n_docs").as("n_docs"))
  }
}
