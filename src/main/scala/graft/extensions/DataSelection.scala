package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-model data curation — the selection stages a pretraining
  * corpus passes between cleaning and the trainer, each driven by a
  * small held-out REFERENCE slice standing in for "text we want more
  * of" (CCNet's Wikipedia; DSIR's target domain):
  *
  *   1. [[dsirWeights]] — per-document importance as the hashed-unigram
  *      log-likelihood ratio between the reference and raw feature
  *      distributions (Xie et al. 2023, "Data Selection for Language
  *      Models via Importance Resampling", arXiv:2302.03169), with
  *      [[dsirSelect]] as the top-K resampling step.
  *   2. [[perplexityPartition]] — per-language head/middle/tail thirds
  *      by reference-LM perplexity (Wenzek et al. 2020, "CCNet:
  *      Extracting High Quality Monolingual Datasets from Web Crawl
  *      Data", arXiv:1911.00359; the KenLM pass is stood in for by the
  *      same add-k bigram model [[TextAnalysis.bigramLmScore]] uses —
  *      trained HERE on the reference slice only, where bigramLmScore
  *      trains on the corpus itself and so drifts as the corpus grows).
  *   3. [[curriculum]] — a deterministic training ORDER from those
  *      tiers: most reference-like stage first, seeded shuffle within a
  *      stage (curriculum learning, Bengio et al. 2009, applied as
  *      corpus-scale data ordering).
  *
  * The reference slice is the deterministic 1-in-5 doc_id split (the
  * q_decontaminate / q_containment held-out convention) — production
  * would pass a curated corpus; every shape below is agnostic to how
  * the slice was drawn. Reference docs are scored by nothing and
  * appear in no output: they are the measuring stick, not the corpus.
  *
  * Scale shapes (100 TB discipline): the LM / feature tables are the
  * ONLY state — bigram counts are Zipf-bounded well below corpus size
  * and shuffle on content keys; the DSIR feature table is ≤ `buckets`
  * rows by construction and broadcasts; tier assignment ranks through
  * [[Packing.globalRowNumber]] (range partition + broadcast offsets),
  * never a single-partition or per-language window; selection is
  * TakeOrderedAndProject (per-task top-K heaps). No collect anywhere
  * except globalRowNumber's partition-count handshake (≤ shuffle
  * partitions rows).
  */
object DataSelection {

  /** The shared oracle tokenizer (lowered, empties dropped) — the
    * [[TextTokens]] definition as the ARRAY, which scoring needs.
    * private[graft] so the streaming twins ([[graft.streaming
    * .StreamingDsir]], [[graft.streaming.StreamingPerplexity]]) build
    * their batch projections through THE SAME expression — a re-inlined
    * copy could silently desynchronize batch and streaming scores if
    * this definition ever changed (r15 ADVICE). */
  private[graft] def toks: Column =
    filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")

  /** Deterministic held-out membership: every 5th doc_id is reference. */
  private def isRef: Column = pmod(col("doc_id"), lit(5L)) === 0

  /** The add-k bigram LM trained on the reference slice: bigram counts,
    * left-context totals, and the reference vocabulary size. Exposed so
    * [[graft.streaming.StreamingPerplexity]] can freeze the same model
    * and score micro-batches against it without formula drift. */
  final case class RefLm(model: DataFrame, ctx: DataFrame, vocab: DataFrame)

  private def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(
      """CASE WHEN size(arr) >= 2
          THEN transform(sequence(1, size(arr) - 1),
                         i -> concat_ws(' ', slice(arr, i, 2)))
          ELSE CAST(array() AS ARRAY<STRING>) END""")).as("bg"))

  private def tokenized(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"), toks.as("arr"))
      .withColumn("is_ref", isRef)

  /** Train the reference LM from the full corpus frame (the reference
    * slice is cut out internally). Two map-side-combinable
    * aggregations plus one scalar — the model is Zipf-bounded (distinct
    * reference bigrams, far below corpus size). All three frames are
    * localCheckpoint'ed: the LM is built ONCE and every consumer joins
    * materialized blocks — without the freeze the scoring plan re-ran
    * the reference aggregations per consumer subtree (census-caught:
    * q_ppl_score read the corpus 5×; now the final plan reads it twice
    * — the scoring bigrams and the id/lang spine — and the frozen
    * build pays its reference-slice scans once). Materializing the LM
    * is what any real pipeline does with a trained model. */
  def refLm(documents: DataFrame): RefLm = {
    val docs = tokenized(documents)
    val model = bigramsOf(docs.filter(col("is_ref")))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .localCheckpoint()
    val ctx = model.withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum("c_bg").as("c_w1"))
      .localCheckpoint()
    val vocab = docs.filter(col("is_ref")).select(explode(col("arr")).as("tok"))
      .agg(countDistinct("tok").as("v"))
      .localCheckpoint()
    RefLm(model, ctx, vocab)
  }

  /** Score `docs` (a `(doc_id, lang, arr, is_ref)` projection's
    * non-reference rows, or a streaming micro-batch shaped the same)
    * by mean log₂ P(w₂|w₁) under `lm`: P = (c_bg + k) / (c_w1 + k·V)
    * with zero counts for transitions the reference never makes —
    * out-of-reference text scores LOW instead of NULL. Only docs with
    * < 2 tokens (no transitions) score NULL. */
  def scoreAgainst(docs: DataFrame, lm: RefLm, k: Double): DataFrame = {
    val scored = bigramsOf(docs)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(lm.model, Seq("bg"), "left_outer")
      .join(lm.ctx, Seq("w1"), "left_outer")
      .crossJoin(broadcast(lm.vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2((coalesce(col("c_bg"), lit(0L)) + lit(k)) /
          (coalesce(col("c_w1"), lit(0L)) + lit(k) * col("v")))), 4)
          .as("avg_log2_p"))
    docs.select("doc_id", "lang")
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_log2_p"))
  }

  /** Per-document reference-LM score over the non-reference corpus:
    * `(doc_id, lang, n_bigrams, avg_log2_p)` — the perplexity-filter
    * signal (higher = more reference-like). Memoized through the
    * dedup-family shared-frame stage boundary: the partition, summary,
    * and curriculum consumers all read ONE materialized scored frame
    * per (input plan, k) instead of re-running the LM build + scoring
    * shuffles (at cluster scale: persist the scored frame between
    * pipeline stages). */
  def perplexityScore(documents: DataFrame, k: Double = 0.5): DataFrame =
    Dedup.sharedFrame(documents, "ppl_score", k) {
      val docs = tokenized(documents)
      scoreAgainst(docs.filter(!col("is_ref")), refLm(documents), k)
    }

  /** CCNet's head/middle/tail partition: per LANGUAGE, rank docs by
    * score (best first, unscorable last) and cut exact rank thirds —
    * bucket = (3·r) div n over the 0-based within-language rank. Rank
    * thirds, not score quantiles, so the split is exact, deterministic,
    * and integer-only. The rank comes from ONE [[Packing
    * .globalRowNumber]] over (lang, score, doc_id) minus broadcast
    * per-language start offsets — a language is never a single window
    * partition (the q_length_buckets idiom), so a 100 TB mono-language
    * corpus still ranks across the cluster. */
  def perplexityPartition(documents: DataFrame, k: Double = 0.5): DataFrame =
    Dedup.sharedFrame(documents, "ppl_partition", k) {
      perplexityPartitionBuild(documents, k)
    }

  private def perplexityPartitionBuild(
      documents: DataFrame, k: Double): DataFrame = {
    // rank/group on a null-safe language key: a NULL lang is its own
    // CCNet partition (the oracle's window groups nulls the same way);
    // a plain equi-join on lang would silently DROP null-lang docs.
    // The key is a (isnull, value) STRUCT, not coalesce(lang, filler):
    // any filler string — the prior NUL sentinel included — is some
    // conceivable real lang value and would silently merge that
    // language with the NULL partition while the DuckDB oracle's
    // PARTITION BY lang keeps them separate (r15 ADVICE). A struct is
    // orderable and range-partitionable, and collision-free by
    // construction.
    val scored = perplexityScore(documents, k)
      .withColumn("_lg",
        struct(col("lang").isNull.as("n"), coalesce(col("lang"), lit("")).as("v")))
    val ranked = Packing.globalRowNumber(scored,
      Seq(col("_lg"), col("avg_log2_p").desc_nulls_last, col("doc_id")), "_rn")
    val extents = ranked.groupBy("_lg")
      .agg(min("_rn").as("_l0"), count(lit(1)).as("_n"))
    ranked.join(broadcast(extents), Seq("_lg"))
      .withColumn("_b", expr("(( _rn - _l0) * 3) div _n"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_log2_p"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("_b").cast("int") + 1).as("bucket"))
  }

  /** The partition's governance roll-up: docs and bigram mass per
    * (lang, bucket), plus each bucket's within-language doc share in
    * ppm — all int64, so the row hashes identically cross-engine (the
    * q_shard_balance lesson). */
  def perplexitySummary(documents: DataFrame, k: Double = 0.5): DataFrame =
    perplexityPartition(documents, k)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("bigram_sum"))
      .withColumn("lang_docs",
        sum("n_docs").over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang")))
      .select(col("lang"), col("bucket"), col("n_docs"), col("bigram_sum"),
        expr("(n_docs * 1000000) div lang_docs").as("share_ppm"))

  /** DoReMi-style excess-loss domain weights (Xie et al. 2023,
    * simplified to the deterministic one-shot a data engine can run
    * without a proxy-model training loop): per SOURCE, the mean
    * reference-LM loss (−[[perplexityScore]], the engine's proxy for
    * "how hard this domain still is"), its EXCESS over the
    * cross-source mean (clipped at 0 — domains already easier than
    * average get no boost, DoReMi's clipping), and the resulting
    * mixture weight softmax(η·excess) smoothed with `epsilon` of
    * uniform (the Group-DRO smoothing that keeps every domain
    * sampled). Feeds [[Mixture]] the same way q_mixture_soft feeds
    * dedup-adjusted mass — an alternative weighting channel, biased
    * toward learnable-headroom domains instead of raw token mass.
    *
    * Determinism discipline: per-doc scores are rounded(4) upstream →
    * DECIMAL-summed per source; per-source losses rounded(4) →
    * DECIMAL-summed for the cross-source mean; exp() outputs
    * rounded(6) → DECIMAL-summed for the softmax denominator — every
    * sum is order-independent, so both engines divide identical exact
    * numerators (the q_shard_balance lesson applied to a transcendental
    * chain). EVERY source appears in the output (a LEFT join from the
    * per-source doc counts — r18 ADVICE: an inner join silently dropped
    * a source whose docs all sit in the reference slice): sources with
    * no scorable docs carry loss NULL and take excess 0 (the neutral
    * uniform share), and the cross-source mean divides by the number of
    * sources WITH a loss, so unscorable sources can't deflate the base.
    * `n_docs` counts ALL of a source's documents.
    *
    * Scale shape: rides the memoized scored frame ([[perplexityScore]])
    * with one narrow source join; everything after the per-source
    * aggregate is K-row arithmetic on broadcast scalars.
    * Row order is not part of the result. */
  def excessLossWeights(
      documents: DataFrame, eta: Double = 1.0,
      epsilon: Double = 0.1): DataFrame = {
    val scored = perplexityScore(documents)
      .select(col("doc_id"), col("avg_log2_p").cast("decimal(18,4)").as("s"))
    // ONE documents pass: the LEFT join keeps every doc (so n_docs
    // counts the reference slice too and no source is dropped), while
    // ssum/n_scored aggregate only the matched scores
    val bySrc = documents.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("s").as("ssum"),
        count(col("s")).as("n_scored"))
      .select(col("source"), col("n_docs"),
        when(col("n_scored") > 0,
          round(-col("ssum").cast("double") / col("n_scored"), 4))
          .as("loss"))
    val base = bySrc.agg(
      (sum(col("loss").cast("decimal(18,4)")).cast("double") /
        count(col("loss"))).as("base"))
    val withW = bySrc.crossJoin(broadcast(base))
      .withColumn("excess",
        coalesce(round(greatest(col("loss") - col("base"), lit(0.0)), 4),
          lit(0.0)))
      .withColumn("w0",
        round(exp(lit(eta) * col("excess")), 6).cast("decimal(18,6)"))
    val tot = withW.agg(sum(col("w0")).cast("double").as("wsum"),
      count(lit(1)).as("k"))
    withW.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("loss"), col("excess"),
        round(lit(1.0 - epsilon) * col("w0").cast("double") / col("wsum") +
          lit(epsilon) / col("k"), 6).as("weight"))
  }

  /** DSIR importance weights: hash every token into one of `buckets`
    * feature ids (the 48-bit md5 lane [[Sketches.kmvHash]] mod B), fit
    * add-k unigram feature models for the reference (target) and
    * non-reference (raw) slices, and score each raw doc by its mean
    * per-token log-likelihood ratio log₂(p_target(f) / p_raw(f)) —
    * positive = looks more like the reference than like the raw pool.
    *
    * One explode builds BOTH feature tables (conditional sums on the
    * is_ref flag); the ratio table is ≤ `buckets` rows by construction
    * and broadcasts into the scoring join, so scoring is a narrow
    * broadcast-join + per-doc aggregate — no data-scaled shuffle beyond
    * the doc_id one. Docs with zero tokens weight NULL. */
  def dsirWeights(
      documents: DataFrame, buckets: Int = 4096, k: Double = 0.5): DataFrame =
    Dedup.sharedFrame(documents, "dsir_weights", buckets, k) {
      dsirWeightsBuild(documents, buckets, k)
    }

  /** The frozen DSIR feature-ratio table over the FULL domain [0, B):
    * per feature id, log₂ p_target/p_raw with add-k smoothing —
    * exactly `buckets` rows (features the corpus never hashed to carry
    * the all-zero smoothed ratio), so a NEW document's tokens always
    * find their feature — the streaming-scoring contract
    * ([[graft.streaming.StreamingDsir]] freezes this once) — and the
    * broadcast is fixed-size by construction. localCheckpoint'ed: the
    * build (and its bounded single-partition total) never re-enters a
    * consumer plan (census discipline). */
  private[graft] def featureRatio(
      documents: DataFrame, buckets: Int, k: Double): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val docs = tokenized(documents)
    val seen = docs
      .select(col("doc_id"), col("is_ref"), explode(col("arr")).as("tok"))
      // r20: native one-digest kmv hash (bit-identical — see
      // Sketches.kmvHashNative); this is the per-token inner loop of
      // every DSIR build
      .withColumn("f",
        pmod(Sketches.kmvHashNative(col("tok")), lit(buckets.toLong)))
      .groupBy("f").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_t"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("c_r"))
    val counts = docs.sparkSession.range(buckets).select(col("id").as("f"))
      .join(seen, Seq("f"), "left_outer")
      .select(col("f"), coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_r"), lit(0L)).as("c_r"))
    val totals = counts.agg(sum("c_t").as("n_t"), sum("c_r").as("n_r"))
    counts.crossJoin(broadcast(totals))
      .select(col("f"),
        log2(((col("c_t") + lit(k)) / (col("n_t") + lit(k * buckets))) *
          ((col("n_r") + lit(k * buckets)) / (col("c_r") + lit(k)))).as("lr"))
      .localCheckpoint()
  }

  /** Score a `(doc_id, arr)` projection against a frozen ratio table —
    * the one scoring formula batch and streaming share, so they cannot
    * drift apart. Zero-token docs weight NULL. */
  private[graft] def scoreTokensAgainst(
      docs: DataFrame, ratio: DataFrame, buckets: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val scored = docs
      .select(col("doc_id"), explode(col("arr")).as("tok"))
      .withColumn("f",
        pmod(Sketches.kmvHashNative(col("tok")), lit(buckets.toLong)))
      .join(broadcast(ratio), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), round(avg(col("lr")), 4).as("llr_avg"))
    docs.select("doc_id")
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"), col("llr_avg"))
  }

  private def dsirWeightsBuild(
      documents: DataFrame, buckets: Int, k: Double): DataFrame =
    scoreTokensAgainst(
      tokenized(documents).filter(!col("is_ref")).select("doc_id", "arr"),
      featureRatio(documents, buckets, k), buckets)

  /** The resampling step: the `topK` most reference-like raw docs by
    * (weight desc, doc_id). Plans as TakeOrderedAndProject — every task
    * keeps a K-bounded heap, the driver merges heads; the corpus is
    * never globally sorted. */
  def dsirSelect(
      documents: DataFrame, topK: Int,
      buckets: Int = 4096, k: Double = 0.5): DataFrame =
    dsirWeights(documents, buckets, k)
      .orderBy(col("llr_avg").desc_nulls_last, col("doc_id")).limit(topK)

  /** Curation cross-check: do the two selectors agree? Per perplexity
    * tier, how many of its docs DSIR's top-K also picked — the
    * diagnostic a pipeline reads before trusting either method alone
    * (strong agreement in the head and none in the tail is the healthy
    * shape; agreement concentrated in the tail means one of the two
    * yardsticks is mis-trained). All-int64 output (agreement in ppm);
    * both inputs are the memoized frames, so this costs two ≤3-group
    * aggregates over frozen state. */
  def selectionAgreement(
      documents: DataFrame, topK: Int = 200,
      buckets: Int = 4096, k: Double = 0.5): DataFrame = {
    val tiers = perplexityPartition(documents, k).select("doc_id", "bucket")
    val top = dsirSelect(documents, topK, buckets, k)
      .select(col("doc_id")).withColumn("in_top", lit(1L))
    tiers.join(top, Seq("doc_id"), "left_outer")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_top"), lit(0L))).as("n_dsir_top"))
      .withColumn("agree_ppm", expr("(n_dsir_top * 1000000) div n_docs"))
  }

  /** Curriculum order: stage = the perplexity tier as 0/1/2 (head
    * first — train on reference-like text before tail noise), position
    * = one more [[Packing.globalRowNumber]] over (stage, md5(seed ":"
    * doc_id), doc_id) — the [[Packing.epochShuffle]] key, so within a
    * stage the order is a seeded deterministic shuffle and different
    * seeds decorrelate. Output `(doc_id, stage, position)`; a loader
    * reads in position order. */
  def curriculum(
      documents: DataFrame, seed: Long, k: Double = 0.5): DataFrame = {
    val staged = perplexityPartition(documents, k)
      .select(col("doc_id"),
        expr("CASE bucket WHEN 'head' THEN 0L WHEN 'middle' THEN 1L ELSE 2L END")
          .as("stage"))
      .withColumn("_key", md5(concat_ws(":", lit(seed), col("doc_id"))))
    Packing.globalRowNumber(staged,
      Seq(col("stage"), col("_key"), col("doc_id")), "position")
      .select(col("doc_id"), col("stage"), col("position"))
  }

  /** The trainer-feed capstone: curriculum order → data-parallel
    * placement → fixed-budget chunk spans, in one frame a loader can
    * consume directly. Shard = position mod `numShards` (round-robin
    * over the curriculum order), which keeps BOTH invariants at once:
    * every shard sees the stages in curriculum order, and shard doc
    * counts differ by at most one. Within a shard, the running token
    * total ([[TextTokens.count]] — the counting contract) cuts
    * `budget`-token training chunks exactly as [[Packing.packChunks]]
    * does; a 0-token doc occupies its boundary chunk.
    *
    * Scale shape: the memoized curriculum frame joins the one-scan
    * token metadata on doc_id, then ONE window partitioned by shard —
    * the shard is the data-parallel worker, so the per-shard cumsum is
    * the packing contract's inherent sequential unit (see packChunks),
    * never a global window. All-integer output. */
  def trainerFeed(
      documents: DataFrame, numShards: Int, budget: Int,
      seed: Long, k: Double = 0.5): DataFrame = {
    require(numShards > 0 && budget > 0,
      s"numShards/budget must be positive: $numShards/$budget")
    val meta = documents.select(col("doc_id"), TextTokens.count.as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("position")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    curriculum(documents, seed, k)
      .join(meta, Seq("doc_id"))
      .withColumn("shard", pmod(col("position"), lit(numShards.toLong)))
      .withColumn("end_tok", sum("n_tok").over(w))
      .select(col("doc_id"), col("stage"), col("position"), col("shard"),
        col("n_tok"), col("end_tok"),
        expr(s"(end_tok - n_tok) div $budget").as("chunk_first"),
        expr(s"""greatest((end_tok - n_tok) div $budget,
                          (greatest(end_tok, 1L) - 1L) div $budget)""")
          .as("chunk_last"))
  }
}
