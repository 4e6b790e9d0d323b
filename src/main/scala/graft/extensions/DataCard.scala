package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus data card — the one-page profile a dataset ships with
  * (the "dataset card" convention): corpus size, composition, dup
  * rate, token statistics and the sketch-estimated cardinality, as a
  * uniform (metric, value) frame a release pipeline writes next to
  * the shards. Complements [[TrainingSet.compose]] (the data) with
  * the report ABOUT the data; the reference's notebooks print these
  * numbers ad hoc (counts, per-source shares) — here they are one
  * operator with one oracle.
  *
  * Determinism discipline: every metric is integer-derived (counts,
  * sums of longs) with at most ONE final double division, rounded —
  * no float accumulations anywhere, so the card is bitwise
  * reproducible (the corpus-ratio form of the per-doc means: e.g.
  * stop_ratio is corpus stop tokens / corpus tokens, not an
  * order-dependent average of per-doc ratios). A ratio whose divisor
  * is zero (no documents, or documents with no tokens) renders as
  * NULL, as the DuckDB oracles' `/` does, instead of failing the card
  * with DIVIDE_BY_ZERO under ANSI mode. distinct_token_est is
  * the KMV sketch beside the exact count — the pair IS the sketch's
  * accuracy line in the shipped report.
  *
  * Scale shape: one narrow pass derives per-doc counters; everything
  * aggregates map-side to single rows except the token frame (one
  * content-keyed shuffle for distinct/top-token, the KMV fold beside
  * it) — and the exact distinct column is the one you drop at 100 TB,
  * which is why its estimate ships in the same card. */
object DataCard {

  /** A card ratio: NULL when the divisor is zero (see the scaladoc). */
  private def ratio(num: String, den: String): Column =
    try_divide(col(num).cast("double"), col(den))

  def build(documents: DataFrame, stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val spark = documents.sparkSession
    val toks = filter(split(lower(coalesce(col("text"), lit(""))), " "),
      t => t =!= "")
    val perDoc = documents.select(
      col("doc_id"), col("source"), col("lang"),
      coalesce(col("n_chars"), lit(0L)).as("n_chars"),
      size(toks).cast("long").as("n_tok"),
      size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
        .cast("long").as("n_stop"),
      md5(lower(coalesce(col("text"), lit(""))).cast("binary")).as("tkey"))
      .localCheckpoint()

    val base = perDoc.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum("n_tok").as("total_tokens"),
      sum("n_chars").as("total_chars"),
      sum(when(col("n_tok") === 0, 1L).otherwise(0L)).as("empty_docs"),
      countDistinct(col("tkey")).as("distinct_texts"),
      sum("n_stop").as("total_stop"))

    val tokFrame = documents.select(explode(toks).as("tok"))
    // top-token count and distinct count come out of ONE aggregate over
    // the (tok, cnt) frame — the card only reports the top COUNT, so no
    // orderBy/limit branch is needed and the token explode+groupBy runs
    // once for both metrics (the KMV estimate is the second, sketch-side
    // pass over the raw token frame)
    val tokAgg = tokFrame.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .agg(max("cnt").as("top_tok_cnt"),
        count(lit(1)).as("distinct_tokens"))
    val distinctEst = Sketches.kmvCardinality(tokFrame, k = 256)
    val maxSource = perDoc.groupBy("source").agg(count(lit(1)).as("sd"))
      .agg(max("sd").as("max_source_docs"))

    val wide = base.crossJoin(tokAgg)
      .crossJoin(distinctEst).crossJoin(maxSource)

    // ONE evaluation of the 1-row wide frame, exploded to the 13 card
    // rows — the first draft union'd 13 single-row selects of `wide`,
    // which replicated the whole aggregate subtree (including three
    // separate token explode+groupBy passes) once per row in the plan:
    // the suite's slowest query for no semantic reason (r11 audit).
    def row(name: String, c: org.apache.spark.sql.Column) =
      struct(lit(name).as("metric"), round(c.cast("double"), 4).as("value"))

    wide.select(explode(array(
        row("n_docs", col("n_docs")),
        row("n_sources", col("n_sources")),
        row("n_langs", col("n_langs")),
        row("total_tokens", col("total_tokens")),
        row("total_chars", col("total_chars")),
        row("empty_docs", col("empty_docs")),
        row("exact_dup_docs", col("n_docs") - col("distinct_texts")),
        row("distinct_tokens", col("distinct_tokens")),
        row("distinct_token_est", col("d_est")),
        row("mean_doc_tokens", ratio("total_tokens", "n_docs")),
        row("stop_ratio", ratio("total_stop", "total_tokens")),
        row("top_token_share", ratio("top_tok_cnt", "total_tokens")),
        row("max_source_share", ratio("max_source_docs", "n_docs"))))
        .as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
  }

  /** [[build]] plus the quality-funnel drop table folded in as card
    * rows — `funnel_<rule>_dropped` per rule and `funnel_survivors`
    * for the pass row — so the shipped one-pager answers "how many
    * docs would each gate drop" next to what the corpus IS. Same
    * (metric, value) contract, same integer-derived determinism
    * ([[Funnel.funnel]]'s counts reconcile exactly by construction). */
  def buildWithFunnel(
      documents: DataFrame,
      stopwords: Seq[String] = Funnel.DefaultStopwords): DataFrame = {
    // stopwords reach BOTH the card's stop_ratio row (build) and the
    // funnel's stop-gate rows — a custom list must not leave the two
    // halves of the one-pager disagreeing on what a stop token is
    val f = Funnel.funnel(documents, stopwords = stopwords)
      .select(
        when(col("rule") === "pass", lit("funnel_survivors"))
          .otherwise(concat(lit("funnel_"), col("rule"), lit("_dropped")))
          .as("metric"),
        round(when(col("rule") === "pass", col("n_remaining"))
          .otherwise(col("n_dropped")).cast("double"), 4).as("value"))
    build(documents, stopwords).unionByName(f)
  }

  // ------------------------------------------------------------------
  // Mergeable card states (round 11) — the 100 TB release pattern: each
  // partition/day/source ships a bounded CARD STATE; states merge
  // associatively without re-reading any raw data; the merged state
  // renders the release card. Counts and per-source/lang tallies merge
  // by sum (exact); the two distinct counts travel as KMV min-hash
  // ROWS, and k-smallest-of-union makes their merge EXACT with respect
  // to the sketch (k smallest of A ∪ B = k smallest of the two k-min
  // sets' union) — so merge ∘ buildState ≡ buildState ∘ union
  // BITWISE, the law DataCardSpec pins and q_card_merged oracles.
  // top_token_share is the one card row that is NOT mergeable from
  // bounded state (a global top needs the full vocabulary or a CMS
  // candidate protocol) and is deliberately absent from the merged
  // render — documented honesty beats a silently-approximate number.

  /** Bounded mergeable state: (kind, key, n) rows —
    * `sum` tallies, per-`source` / per-`lang` doc counts, and the k
    * smallest distinct 48-bit text/token hashes (`kmv_text` /
    * `kmv_tok`, key = zero-padded hash so the state frame is
    * string-keyed and sortable). Size ≤ 5 + |sources| + |langs| + 2k
    * rows regardless of corpus size. Reads `documents` five times (the
    * tallies, per-source and per-lang counts and the two KMV sets), so
    * callers hand it a materialized frame: q_card_merged a checkpoint
    * of each half, [[graft.streaming.StreamingDataCard]] the batch's
    * checkpoint, which the sink frees. */
  def buildState(
      documents: DataFrame,
      k: Int = 256,
      stopwords: Seq[String] = Funnel.DefaultStopwords): DataFrame = {
    val toks = filter(split(lower(coalesce(col("text"), lit(""))), " "),
      t => t =!= "")
    val perDoc = documents.select(
      col("source"), col("lang"),
      coalesce(col("n_chars"), lit(0L)).as("n_chars"),
      size(toks).cast("long").as("n_tok"),
      size(filter(toks, t => t.isin(stopwords: _*)))
        .cast("long").as("n_stop"),
      lower(coalesce(col("text"), lit(""))).as("_lt"))

    def row(kind: String, key: Column, n: Column) =
      struct(lit(kind).as("kind"), key.as("key"), n.cast("long").as("n"))
    val sums = perDoc.agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"), sum("n_stop").as("total_stop"),
        sum(when(col("n_tok") === 0, 1L).otherwise(0L)).as("empty_docs"))
      .select(explode(array(
        row("sum", lit("n_docs"), col("n_docs")),
        row("sum", lit("total_tokens"), coalesce(col("total_tokens"), lit(0L))),
        row("sum", lit("total_chars"), coalesce(col("total_chars"), lit(0L))),
        row("sum", lit("total_stop"), coalesce(col("total_stop"), lit(0L))),
        // sum(when(...)) over zero rows is NULL like the other sums —
        // without the coalesce a state built from an empty partition
        // carries a NULL tally and an all-empty merge renders NULL
        row("sum", lit("empty_docs"), coalesce(col("empty_docs"), lit(0L)))))
        .as("r"))
      .select("r.kind", "r.key", "r.n")
    val sources = perDoc.groupBy(col("source").as("key"))
      .agg(count(lit(1)).as("n"))
      .select(lit("source").as("kind"), col("key"), col("n"))
    val langs = perDoc.groupBy(col("lang").as("key"))
      .agg(count(lit(1)).as("n"))
      .select(lit("lang").as("kind"), col("key"), col("n"))
    // r20 (guide §2.3): the k smallest DISTINCT hashes via the bounded
    // KMinDistinct aggregate — partial buffers carry ≤ k longs per task
    // and merge to one k-long row, replacing the old full distinct
    // exchange of EVERY hash plus a global TakeOrdered. Same k values
    // (set-union-then-take-k ≡ distinct-sort-limit), same row shape.
    def kmins(kind: String, hashes: DataFrame) = {
      val km = udaf(new graft.functions.KMinDistinct(k))
      hashes.agg(km(col("h")).as("_mins"))
        .select(explode(col("_mins")).as("h"))
        .select(lit(kind).as("kind"),
          lpad(col("h").cast("string"), 15, "0").as("key"), col("h").as("n"))
    }
    // r20: native one-digest kmv hash (bit-identical; see
    // Sketches.kmvHashNative) — the per-token hex-string alloc + radix
    // parse was the state build's hottest expression
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val kmvText = kmins("kmv_text",
      perDoc.select(Sketches.kmvHashNative(col("_lt")).as("h")))
    val kmvTok = kmins("kmv_tok",
      perDoc.select(explode(filter(split(col("_lt"), " "), t => t =!= ""))
          .as("tok"))
        .select(Sketches.kmvHashNative(col("tok")).as("h")))
    sums.unionByName(sources).unionByName(langs)
      .unionByName(kmvText).unionByName(kmvTok)
  }

  /** Associative state merge: tallies sum, KMV kinds keep the k
    * smallest distinct hashes of the union. */
  def mergeStates(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame = {
    val all = a.unionByName(b)
    val tallies = all.filter(!col("kind").startsWith("kmv_"))
      .groupBy("kind", "key").agg(sum("n").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("kind").orderBy("n")
    val kmv = all.filter(col("kind").startsWith("kmv_"))
      .select("kind", "key", "n").distinct()
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k).drop("_rk")
    tallies.unionByName(kmv)
  }

  /** The release card from a (merged) state: every tally-derived row
    * of [[build]] plus the two KMV estimates; same (metric, value)
    * contract and the same integer-derived/one-division float
    * discipline. */
  def renderMerged(state: DataFrame, k: Int = 256): DataFrame = {
    val spark = state.sparkSession
    val s = state.localCheckpoint()
    val sums = s.filter(col("kind") === "sum")
      .groupBy().pivot("key").agg(first("n"))
    val srcAgg = s.filter(col("kind") === "source")
      .agg(count(lit(1)).as("n_sources"), max("n").as("max_source_docs"))
    val langAgg = s.filter(col("kind") === "lang")
      .agg(count(lit(1)).as("n_langs"))
    def kmvEst(kind: String) = {
      // estimator mirrors Sketches.kmvCardinality: below k → exact
      // count of hashes; at k → (k-1)·2^48 / h_k
      val r = s.filter(col("kind") === kind)
        .orderBy("n").limit(k)
        .agg(count(lit(1)).as("n_h"), max("n").as("hk")).head()
      if (r.getLong(0) < k) r.getLong(0).toDouble
      else (k - 1).toDouble * 281474976710656.0 / r.getLong(1)
    }
    val estText = kmvEst("kmv_text")
    val estTok = kmvEst("kmv_tok")
    val wide = sums.crossJoin(broadcast(srcAgg)).crossJoin(broadcast(langAgg))
    def row(name: String, c: Column) =
      struct(lit(name).as("metric"), round(c.cast("double"), 4).as("value"))
    wide.select(explode(array(
        row("n_docs", col("n_docs")),
        row("n_sources", col("n_sources")),
        row("n_langs", col("n_langs")),
        row("total_tokens", col("total_tokens")),
        row("total_chars", col("total_chars")),
        row("empty_docs", col("empty_docs")),
        row("distinct_text_est", lit(estText)),
        row("distinct_token_est", lit(estTok)),
        row("mean_doc_tokens", ratio("total_tokens", "n_docs")),
        row("stop_ratio", ratio("total_stop", "total_tokens")),
        row("max_source_share", ratio("max_source_docs", "n_docs"))))
        .as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
  }
}
