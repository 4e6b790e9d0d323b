package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §7.1
  * step 7): language ID, quality scoring, token counting, fingerprinting.
  * All row-local (narrow) except languageId's small broadcast join —
  * embarrassingly parallel at any scale. */
object TextAnalysis {

  /** (marker token, language) profile used by [[languageId]]. */
  val MarkerProfile: Seq[(String, String)] = Seq(
    ("the", "en"), ("a", "en"), ("data", "de"), ("table", "de"),
    ("query", "es"), ("row", "es"), ("join", "fr"), ("merge", "fr"),
    ("spark", "zh"), ("batch", "zh"))

  /** N-gram/stopword-profile language ID: score each language by marker
    * hits, pick the arg-max (ties broken by language code); docs with no
    * marker hit get "und".
    *
    * A FIXED small marker profile compiles into the projection itself:
    * one codegen'd `filter`-count per language and an `array_max` argmax
    * — zero shuffles, so 100 TB identifies at scan speed. (The previous
    * explode → broadcast-join → two-shuffle window form only earns its
    * shuffles when the profile is itself a large table.) Tie-break trick:
    * argmax over struct(cnt, reverseIdx) — the lexicographic struct max
    * takes the highest count, then the highest reverse index, which is
    * the alphabetically SMALLEST language code. */
  def languageId(documents: DataFrame): DataFrame = {
    val byLang: Seq[(String, Seq[String])] = MarkerProfile
      .groupBy(_._2).view.mapValues(_.map(_._1)).toSeq.sortBy(_._1)
    val codes = byLang.map(_._1)
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    // one-eval discipline (the wordNgrams idiom + a Generate barrier):
    // the token array is let-bound as a lambda variable so the split
    // runs once per row, not once per language, and the argmax struct
    // crosses to the final projection through a single-element explode
    // so its two field extracts don't re-run the scoring array
    val summary = transform(array(arr), a =>
      array_max(array(byLang.zipWithIndex.map { case ((_, toks), i) =>
        struct(
          size(filter(a, t => t.isInCollection(toks))).as("cnt"),
          lit(codes.size - 1 - i).as("ri"))
      }: _*)))
    documents.select(col("doc_id"), explode(summary).as("b"))
      .select(col("doc_id"),
        when(col("b.cnt") === 0, lit("und"))
          .otherwise(element_at(
            array(codes.reverse.map(lit): _*), col("b.ri") + 1))
          .as("pred"))
  }

  /** Quality metrics: token count, mean token length, stopword ratio —
    * the length/punct/stopword heuristics of C4/Gopher-style filters.
    * [[CorpusPipeline]]'s quality gate filters on the same [[nTok]] and
    * [[stopRatio]] columns. */
  def qualityScore(documents: DataFrame,
      stopwords: Seq[String] = Funnel.DefaultStopwords): DataFrame = {
    val sumLen = aggregate(transform(wsTokens, t => length(t)), lit(0), (acc, x) => acc + x)
    documents.select(col("doc_id"),
      nTok.as("n_tok"),
      col("n_chars"),
      round(sumLen * lit(1.0) / nTok, 4).as("avg_tok_len"),
      stopRatio(stopwords).as("stop_ratio"))
  }

  /** `text` split on single spaces, NULL read as "": never empty, so
    * [[nTok]] ≥ 1 and no ratio over it divides by zero. */
  private def wsTokens: Column = split(coalesce(col("text"), lit("")), " ")

  /** [[qualityScore]]'s `n_tok` and `stop_ratio`. */
  private[extensions] def nTok: Column = size(wsTokens).cast("long")
  private[extensions] def stopRatio(stopwords: Seq[String]): Column = {
    val stop = array(stopwords.map(lit): _*)
    val nStop = size(filter(wsTokens, t => array_contains(stop, t))).cast("long")
    round(nStop * lit(1.0) / nTok, 4)
  }

  /** Share of a doc's word bigrams ([[wordNgrams]]) that repeat an
    * earlier one, unrounded; 0 for a doc with no bigram. */
  private[extensions] def dupBigramRatio: Column = {
    val grams = wordNgrams(2)
    val nBi = size(grams).cast("long")
    val nDis = size(array_distinct(grams)).cast("long")
    when(nBi > 0, (nBi - nDis) * lit(1.0) / nBi).otherwise(lit(0.0))
  }

  /** Whitespace token count + BPE-ish regex token count
    * (letters / digit runs / other symbols). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      nTok.as("ws_tokens"),
      size(regexp_extract_all(coalesce(col("text"), lit("")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"))

  /** Per-document Shannon entropy of the unigram distribution — the
    * diversity half of a quality filter (a keyboard-mash or template doc
    * has low entropy at any length; [[qualityScore]]'s ratios miss it).
    * The histogram is a single run-length pass over the SORTED token
    * array: sort once (O(n log n) per row), then fold runs left to
    * right, adding each run's -p·ln p term when the next run starts
    * (the final run lands in the finish lambda). Runs arrive in sorted
    * order, so the fold's term order — and therefore the double sum —
    * is bit-identical to summing over the sorted distinct set, keeping
    * the bitwise DuckDB oracle; the whole operator stays a zero-shuffle
    * narrow projection (plan-pinned). The previous shape re-scanned the
    * token array once per DISTINCT token (O(n_tok · n_distinct) per
    * row) — the same per-row quadratic class whose measured cost on one
    * 8k-token document sank the naive co-occurrence plan (see
    * [[cooccurrence]]); the sorted fold removes the hazard instead of
    * capping it, and the bench `scale` section prices an 8k-token doc
    * each round. The sorted array is a let-bound lambda variable
    * (one-eval discipline). */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val toksE = filter(split(lower(coalesce(col("text"), lit(""))), " "),
      t => t =!= "")
    documents.select(col("doc_id"),
      element_at(transform(array(array_sort(toksE)), arr => {
        val n = size(arr)
        def term(run: Column) =
          (run.cast("double") / n) * log(run.cast("double") / n)
        val fold = aggregate(
          arr,
          struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
            lit(0.0).as("ent"), lit(0L).as("nd")),
          (acc, t) =>
            when(acc.getField("prev").isNull, // first token: open run 1
              struct(t.as("prev"), lit(1L).as("run"),
                lit(0.0).as("ent"), lit(1L).as("nd")))
            .when(t === acc.getField("prev"), // same run: extend
              struct(t.as("prev"), (acc.getField("run") + 1L).as("run"),
                acc.getField("ent").as("ent"), acc.getField("nd").as("nd")))
            .otherwise( // new run: bank the finished run's term
              struct(t.as("prev"), lit(1L).as("run"),
                (acc.getField("ent") + term(acc.getField("run"))).as("ent"),
                (acc.getField("nd") + 1L).as("nd"))),
          acc => struct(
            acc.getField("nd").as("nd"),
            when(acc.getField("run") > 0L,
              acc.getField("ent") + term(acc.getField("run")))
              .otherwise(lit(0.0)).as("ent")))
        struct(
          n.cast("long").as("n_tok"),
          fold.getField("nd").cast("long").as("n_distinct"),
          when(n > 0, round(-fold.getField("ent"), 4) + 0.0)
            .otherwise(lit(0.0)).as("entropy"))
      }), 1).as("s"))
      .select(col("doc_id"), col("s.n_tok"), col("s.n_distinct"),
        col("s.entropy"))
  }

  /** Mean-IDF novelty score per document: how informative (rare) the
    * document's tokens are against the corpus — boilerplate scores low,
    * unique content scores high; the per-doc aggregate of the IDF table
    * a TF-IDF pipeline already maintains. All shuffles are inherent to
    * the semantics: the document-frequency build (a (doc, token)
    * distinct plus a token-keyed count), the IDF join back (broadcast
    * when the vocab fits, token-keyed otherwise), and the per-doc
    * fold; the corpus-size scalar rides a broadcast. Per-doc summation
    * uses an
    * EXACT DECIMAL over 6-decimal-rounded IDFs, so the distributed sum
    * is order-independent and the result bitwise-stable (SURVEY §5.1
    * discipline) — a double sum here would hash-diverge run to run. */
  def docNovelty(documents: DataFrame): DataFrame = {
    val words = filter(split(lower(coalesce(col("text"), lit(""))), " "),
      t => t =!= "")
    val toks = documents.select(col("doc_id"), explode(words).as("token"))
    // r20 (guide §2.4): df = docs-per-token needs each token once PER
    // DOC — array_distinct inside the row replaces the old
    // `toks.distinct()`, whose exchange shuffled the whole exploded
    // token stream only to drop within-doc repeats. Same df values;
    // one exchange fewer.
    val docFreq = documents
      .select(explode(array_distinct(words)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    val idf = docFreq.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("n_docs").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").as("idf"))
    toks.join(idf, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("idf").as("sum_idf"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sum_idf").cast("double") / col("n_tok"), 4).as("novelty"))
  }

  /** Within-document token co-occurrence counts over distinct tokens —
    * the inverted-index self-join shape (equi-join on doc_id, never a
    * corpus-wide cross product).
    *
    * The per-doc pair count is quadratic in DISTINCT tokens per doc: a
    * 10k-token document alone emits 5·10⁷ pairs — at 100 TB with long
    * documents this is the pipeline's scale-killer. `maxTokensPerDoc`
    * caps each document's contribution to its top-m tokens by term
    * frequency (ties by token, deterministic) BEFORE pairing, bounding
    * the blowup at m(m-1)/2 pairs per doc. None = exact (the oracle'd
    * default at sf ≤ 0.1, where docs are short).
    *
    * `pairStrategy` picks the pair generator (identical output):
    *  - "join" (default): doc_id self-join of the token index. Pays one
    *    more shuffle than the HOF but pairs rows via sort-merge-join
    *    machinery (codegen'd comparisons, spillable).
    *  - "hof": collect each doc's sorted token set and emit pairs with a
    *    nested-transform HOF — one fewer shuffle, but the per-row work
    *    is quadratic in the doc's distinct tokens and runs as interpreted
    *    struct allocation inside one task per doc.
    *    Measured (32 threads, warm): sf0.1 short docs join 1.0 s vs hof
    *    1.35 s; one 3k-distinct-token doc join 6.3 s vs hof 17 s; one
    *    8k-token doc join 38 s vs hof 107 s. The join wins in every
    *    regime and degrades far more gracefully under long-doc skew, so
    *    the r2 HOF default is retired (kept for the parity spec). */
  def cooccurrence(
      documents: DataFrame,
      maxTokensPerDoc: Option[Int] = None,
      pairStrategy: String = "join"): DataFrame = {
    val toksAll = documents
      .select(col("doc_id"),
        explode(split(lower(coalesce(col("text"), lit(""))), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val toks = maxTokensPerDoc match {
      case Some(m) =>
        val tf = toksAll.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("tok"))
        tf.withColumn("rn", row_number().over(w)).filter(col("rn") <= m)
          .select("doc_id", "tok")
      // r20 (guide §2.4): per-doc distinct via array_distinct in the
      // row instead of a full exchange of the exploded token stream
      // (same rows — (doc_id, tok) can only repeat within a doc).
      case None => documents.select(col("doc_id"),
        explode(array_distinct(filter(
          split(lower(coalesce(col("text"), lit(""))), " "),
          t => t =!= ""))).as("tok"))
    }
    pairStrategy match {
      case "hof" =>
        toks.groupBy("doc_id").agg(array_sort(collect_set("tok")).as("arr"))
          .select(explode(expr(
            """flatten(transform(arr, (x, i) ->
                 transform(slice(arr, i + 2, size(arr)),
                           y -> struct(x AS ta, y AS tb))))""")).as("p"))
          .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
          .agg(count(lit(1)).as("cnt"))
      case "join" =>
        toks.alias("x")
          .join(toks.alias("y"),
            col("x.doc_id") === col("y.doc_id") && col("x.tok") < col("y.tok"))
          .groupBy(col("x.tok").as("ta"), col("y.tok").as("tb"))
          .agg(count(lit(1)).as("cnt"))
      case other =>
        throw new IllegalArgumentException(s"unknown pairStrategy: $other")
    }
  }

  /** PII-style masking: replace every match of `pattern` with `mask` and
    * report how many spans were redacted — the pre-training scrub pass
    * (emails, phone numbers, ids). Pure narrow projection; the pattern
    * compiles once per task via codegen'd regexp_replace. */
  def redact(
      documents: DataFrame,
      pattern: String = "[0-9][0-9]+",
      mask: String = "<num>"): DataFrame =
    documents.select(col("doc_id"),
      regexp_replace(coalesce(col("text"), lit("")), pattern, mask).as("redacted"),
      size(regexp_extract_all(coalesce(col("text"), lit("")),
        lit(pattern), lit(0))).cast("long").as("n_redacted"))

  /** Content fingerprint: md5 over the sorted distinct token set —
    * order-insensitive, whitespace-normalization-insensitive. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      md5(concat_ws(" ",
        array_sort(array_distinct(
          filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= ""))))
        .cast("binary")).as("fp"))

  /** Word n-grams of `text` as one narrow projection (empty array when
    * the doc has fewer than n tokens).
    *
    * The token array is let-bound via `transform(array(arr), a -> …)` so
    * it materializes ONCE per row: referencing the raw split expression
    * inside the gram lambda would re-split the whole text per
    * `element_at` — measured 20× slower on 54-token docs (the same trap
    * `Dedup.computeShingles` documents). */
  private[extensions] def wordNgrams(n: Int) = {
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    flatten(transform(array(arr), a =>
      when(size(a) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(a) - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(k => element_at(a, i + k)): _*)))))
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * `n`-gram with a held-out benchmark set — the eval-leak scrub every
    * pretraining pipeline runs (real pipelines use 13-grams; the synthetic
    * corpus's tiny vocabulary needs shorter grams to exercise both
    * outcomes). Output: one row per training doc with the count of
    * DISTINCT contaminated n-grams and the drop verdict.
    *
    * Scale shape: the benchmark's distinct n-gram set is tiny next to the
    * corpus (eval suites are MBs against 100 TB), so it broadcasts — the
    * corpus side stays a narrow generate + one broadcast-hash semi pass +
    * one groupBy on doc_id. Never a corpus×corpus join. */
  def decontaminate(documents: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val hits = contaminationHits(documents, benchmark, n)
    documents.select("doc_id")
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Benchmark-gram dims up to this count take the broadcast-hint path;
    * above it the join degrades to a plain shuffle — the [[Membership]]
    * discipline (degrade, never OOM the driver). ~10⁶ distinct grams ≈
    * tens of MB broadcast; a production decontamination pass (every
    * eval suite × 13-grams) can run to hundreds of MB, where an
    * unconditional hint would kill the driver rather than slow the
    * join. */
  private[extensions] val BroadcastGramLimit = 1000000L

  /** The hint, made conditional: one count job over the (already
    * distinct, benchmark-sized) gram dim decides; the corpus side is
    * untouched either way. The gram dim is localCheckpoint'ed FIRST so
    * the sizing count and the join consume one materialization — the
    * r8 shape ran the benchmark's explode + distinct once for the
    * count and again inside the join, scanning the benchmark twice per
    * call. (Construction is eager either way — the count must run
    * before the join strategy can be chosen; the checkpoint is bounded
    * by the benchmark gram dim, the side already small enough to
    * consider broadcasting.) */
  private def maybeBroadcastGrams(grams: DataFrame, limit: Long): DataFrame = {
    val m = grams.localCheckpoint()
    if (m.count() <= limit) broadcast(m) else m
  }

  /** (doc_id, n_shared) for contaminated docs only — references
    * `documents` ONCE, so pipeline callers that anti-join the result back
    * ([[CorpusPipeline.cleanFull]]) don't double-evaluate their input. */
  private[extensions] def contaminationHits(
      documents: DataFrame, benchmark: DataFrame, n: Int,
      broadcastGramLimit: Long = BroadcastGramLimit): DataFrame = {
    // dedup AFTER the broadcast join, not before: a pre-join
    // `docGrams.distinct()` would shuffle the corpus' ENTIRE exploded
    // gram set just to deduplicate it, when only the matched (hit) rows
    // — bounded by |benchmark grams| × contaminated docs — ever need the
    // distinct. This way the corpus side reaches the broadcast join as a
    // pure narrow generate, and the sole corpus-derived shuffle is the
    // per-doc count_distinct over hits (map-side partials apply).
    val docGrams = documents
      .select(col("doc_id"), explode(wordNgrams(n)).as("gram"))
    val benchGrams = benchmark
      .select(explode(wordNgrams(n)).as("gram")).distinct()
    docGrams.join(maybeBroadcastGrams(benchGrams, broadcastGramLimit), "gram")
      .groupBy("doc_id").agg(count_distinct(col("gram")).as("n_shared"))
  }

  /** The leak report a decontamination run publishes — [[decontaminate]]
    * inverted to the BENCHMARK's perspective: for every held-out doc,
    * how many corpus documents share an `n`-gram with it and how many
    * of its distinct grams leaked. The eval-integrity readout: a
    * benchmark row with high counts is compromised and its eval numbers
    * inflated. Same scale shape as the forward direction — the bounded
    * benchmark gram set broadcasts WHEN BOUNDED (one count job on the
    * dim decides, `broadcastGramLimit`; past the limit the join
    * degrades to a shuffle instead of OOMing the driver), the corpus
    * side stays a narrow generate, and the only corpus-derived shuffle
    * is the post-join per-benchmark-doc aggregation (rows bounded by
    * hits, not corpus).
    * Zero-leak benchmark docs appear with zero counts: a report that
    * silently omits the clean rows can't distinguish "clean" from
    * "not checked". */
  def contaminationReport(
      documents: DataFrame, benchmark: DataFrame, n: Int,
      broadcastGramLimit: Long = BroadcastGramLimit): DataFrame = {
    val corpusGrams = documents
      .select(col("doc_id").as("corpus_id"), explode(wordNgrams(n)).as("gram"))
    val benchGrams = benchmark
      // r20 (guide §2.4): (bench_id, gram) repeats only WITHIN a doc —
      // array_distinct in the row replaces the post-explode distinct's
      // full exchange (same rows; benchGrams is then checkpointed by
      // maybeBroadcastGrams exactly as before).
      .select(col("doc_id").as("bench_id"),
        explode(array_distinct(wordNgrams(n))).as("gram"))
    val hits = corpusGrams
      .join(maybeBroadcastGrams(benchGrams, broadcastGramLimit), "gram")
      .groupBy("bench_id")
      .agg(count_distinct(col("corpus_id")).as("n_corpus_docs"),
        count_distinct(col("gram")).as("n_leaked_grams"))
    benchmark.select(col("doc_id").as("bench_id")).distinct()
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"))
  }

  /** Gopher-style repetition signals: the duplicate-bigram fraction
    * (repeated-n-gram text is boilerplate/spam) and the top-unigram mass
    * ratio. The bigram stats are per-row HOF arithmetic (narrow); the
    * top-token ratio runs as explode → per-(doc,token) count → per-doc
    * max/sum — two shuffles on doc_id, spillable, no per-row quadratic
    * work, so long documents cannot blow up a single task. */
  def repetition(documents: DataFrame): DataFrame = {
    // one-eval discipline: the bigram build runs once per row inside the
    // lambda; the counts cross to the ratio projection via a Generate
    // barrier (see Winnowing.fingerprints)
    val summary = transform(array(wordNgrams(2)), g => struct(
      size(g).cast("long").as("n_bigrams"),
      size(array_distinct(g)).cast("long").as("n_dis")))
    val biStats = documents
      .select(col("doc_id"), explode(summary).as("s"))
      .select(col("doc_id"),
        col("s.n_bigrams").as("n_bigrams"),
        when(col("s.n_bigrams") > 0,
          round((col("s.n_bigrams") - col("s.n_dis")) * lit(1.0) /
            col("s.n_bigrams"), 4))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"))
    val toks = documents
      .select(col("doc_id"),
        explode(filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= ""))
          .as("tok"))
    val topTok = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(round(max("cnt") * lit(1.0) / sum("cnt"), 4).as("top_tok_ratio"))
    biStats.join(topTok, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_bigrams"), col("dup_bigram_ratio"),
        coalesce(col("top_tok_ratio"), lit(0.0)).as("top_tok_ratio"))
  }

  /** Okapi BM25 retrieval: top-`k` documents for a bag of query terms —
    * the lexical ranking a curation pipeline runs for retrieval-based
    * selection and decontamination triage (find the corpus documents
    * closest to a benchmark prompt BEFORE the n-gram containment pass).
    * Lucene's idf variant: ln(1 + (N − df + 0.5)/(df + 0.5)), tf
    * saturation k1, length normalization b against the corpus mean
    * document length.
    *
    * Scale shape (r16 ADVICE rewrite — the old explode-based plan
    * tokenized the corpus three times: dl, stats-via-dl, and qt each
    * re-derived the exploded tokens): the corpus is now scanned ONCE
    * into a narrow per-doc frame `(doc_id, dl, per-term tf array)` —
    * dl is `size(tokens)` and each query term's tf a codegen'd array
    * `filter`+`size`, so there is NO token explode and NO full-corpus
    * token shuffle anywhere in the plan. That frame rides the
    * [[Dedup.sharedFrame]] memo (keyed on corpus plan + terms), so its
    * three consumers — corpus stats, df/idf, and the contribution join
    * — read one materialized build instead of re-scanning (at cluster
    * scale: the standard persist-intermediate stage; opt out via
    * `spark.graft.dedup.shareFrames=false`, which leaves three scans of
    * the still-explode-free projection). df/idf collapse to ≤|terms|
    * rows and broadcast; the final top-k is TakeOrderedAndProject
    * (per-task heaps, never a global sort). Per-term contributions are
    * 6-decimal-rounded and summed as EXACT DECIMAL, so the
    * ≤|terms|-row per-doc sum is order-independent and bitwise-stable
    * (the [[docNovelty]] discipline — a double sum would hash-diverge
    * run to run). */
  /** The narrow per-doc lexical frame `(doc_id, dl, per-term tf array)`
    * — [[bm25]]'s single corpus scan, memoized; also the per-BATCH
    * frame the streaming twin derives inside foreachBatch (share=false
    * there: a micro-batch is never re-read). */
  private[graft] def bm25PerDoc(documents: DataFrame,
      queryTerms: Seq[String], share: Boolean = true): DataFrame = {
    // distinct FIRST (r17 ADVICE): a duplicated query term would emit two
    // identical tf structs, doubling that term's df (shifting idf) and
    // double-counting its per-doc contribution — the old explode+
    // isInCollection form was duplicate-robust, this array build must be
    // made so explicitly. The memo key uses the same deduped bag so
    // bm25(["a","a"]) and bm25(["a"]) share one materialization.
    val terms = queryTerms.distinct
    val build = documents
      .select(col("doc_id"),
        filter(split(lower(coalesce(col("text"), lit(""))), " "),
          t => t =!= "").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        array(terms.map(t =>
          struct(lit(t).as("token"),
            size(filter(col("toks"), x => x === lit(t)))
              .cast("long").as("tf"))): _*).as("tfs"))
      .filter(col("dl") > 0)
    if (share) Dedup.sharedFrame(documents, "bm25_perdoc", terms)(build)
    else build
  }

  /** Explode a [[bm25PerDoc]] frame to present-term rows
    * (doc_id, dl, token, tf > 0). */
  private[graft] def bm25Tf(perDoc: DataFrame): DataFrame = perDoc
    .select(col("doc_id"), col("dl"), explode(col("tfs")).as("t"))
    .select(col("doc_id"), col("dl"), col("t.token").as("token"),
      col("t.tf").as("tf"))
    .filter(col("tf") > 0)

  /** The two FROZEN corpus dims of the lexical ranking: the 1-row
    * (n_docs, avgdl) stats and the ≤|terms|-row idf table. These are
    * what a streaming deployment derives once from the corpus, persists,
    * and broadcasts per batch (refreshed at compaction cadence) —
    * [[graft.streaming.StreamingRetrievalDecon]]. */
  private[graft] def bm25Dims(perDoc: DataFrame,
      tf: DataFrame): (DataFrame, DataFrame) = {
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6)
          .as("idf"))
    (stats, idf)
  }

  /** Score present-term rows against (possibly frozen) dims — the exact
    * contribution formula of [[bm25]], shared verbatim by the static
    * ranking and the streaming twin so batch ≡ static is true by
    * construction, not by parallel reimplementation. */
  private[graft] def bm25Score(tf: DataFrame, stats: DataFrame,
      idf: DataFrame, k1: Double, b: Double): DataFrame =
    tf.join(broadcast(idf), "token")
      .crossJoin(broadcast(stats.select("avgdl")))
      .select(col("doc_id"),
        round(col("idf") * (col("tf") * (k1 + 1)) /
            (col("tf") +
              lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(18,6)").as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("s"))
      .select(col("doc_id"), round(col("s").cast("double"), 4).as("bm25"))

  def bm25(documents: DataFrame, queryTerms: Seq[String], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val perDoc = bm25PerDoc(documents, queryTerms)
    val tf = bm25Tf(perDoc)
    val (stats, idf) = bm25Dims(perDoc, tf)
    bm25Score(tf, stats, idf, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Two-stage retrieval-based decontamination triage — the composition
    * [[bm25]]'s scaladoc advertises (r16 VERDICT #4): BM25 retrieves the
    * top-`k` corpus documents for the benchmark prompt's term bag, and
    * ONLY those k candidates pay the n-gram containment pass against the
    * benchmark's gram set. The standard two-stage shape at corpus scale:
    * the expensive directional check (which fraction of the candidate's
    * distinct `n`-grams appear in the benchmark) runs over a
    * k-bounded frame, never the corpus — the corpus pays exactly the
    * BM25 retrieval (one memoized narrow scan) plus one broadcast-k
    * row-lookup join to fetch candidate text.
    *
    * Output per retrieved candidate: its BM25 score, distinct-gram
    * count, shared-gram count, containment ratio, and the drop verdict
    * — ordered by retrieval rank. The containment direction is the
    * [[Dedup.containment]] convention (candidate-side denominator: how
    * much of the DOC is benchmark material).
    *
    * Scale shape: `topk` is TakeOrderedAndProject (k rows) and
    * BROADCASTS into the text-fetch join, so the candidate gram
    * generate sits above a k-row frame (PlanAssertionsSpec pins
    * TakeOrderedAndProject inside the broadcast build side); the
    * benchmark gram dim rides the same conditional-broadcast guard as
    * [[decontaminate]]. */
  /** The benchmark's distinct n-gram dim under the conditional-broadcast
    * guard — built once and reused across calls/batches (the frozen dim
    * of the streaming twin). */
  private[graft] def benchGramDim(benchmark: DataFrame, n: Int): DataFrame =
    maybeBroadcastGrams(
      benchmark.select(explode(wordNgrams(n)).as("gram")).distinct(),
      BroadcastGramLimit)

  /** Per-candidate distinct-gram and shared-gram counts against a
    * prebuilt [[benchGramDim]] — the containment stage shared verbatim
    * by [[retrievalDecon]] and the streaming twin. `cands` must carry
    * (doc_id, text); docs too short to shingle are absent (callers
    * coalesce to 0). */
  private[graft] def candidateContainment(cands: DataFrame,
      benchGrams: DataFrame, n: Int): DataFrame = {
    val dg = cands.select(col("doc_id"),
      explode(array_distinct(wordNgrams(n))).as("gram"))
    val ng = dg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val sh = dg.join(benchGrams, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    ng.join(sh, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  def retrievalDecon(
      documents: DataFrame,
      benchmark: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      n: Int = 4): DataFrame = {
    val topk = bm25(documents, queryTerms, k)
    val cands = broadcast(topk)
      .join(documents.select(col("doc_id"), col("text")), "doc_id")
    val cont = candidateContainment(cands, benchGramDim(benchmark, n), n)
    topk.join(cont, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("bm25"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(coalesce(col("n_shared"), lit(0L)) / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("containment"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** Bootstrap quality classifier — the cheap linear text classifier a
    * curation pipeline trains on a weak label and sweeps over the whole
    * corpus (the fastText-quality-filter stage, minus the external
    * model): the weak label here is the corpus' own length median
    * (docs above median n_chars = "good"), the weights are the classic
    * Naive-Bayes log-count ratios w(tok) = ln(((tfg+1)/(Tg+V)) /
    * ((tfb+1)/(Tb+V))) (the NBSVM construction), and each document
    * scores the length-normalized sum Σ w(tok)·tf / dl with
    * `keep = score > threshold`. Entirely corpus-derived, so the DuckDB
    * oracle reproduces training AND inference bit-for-bit.
    *
    * Scale shape: ONE token shuffle builds the class-count vocab dim
    * (vocab-sized, broadcast back under the same conditional-broadcast
    * guard as [[decontaminate]] — degrade to a shuffle join, never OOM
    * the driver); the median and the class totals are broadcast
    * scalars; scoring is the per-doc tf groupBy joined against the
    * broadcast weights. Per-token contributions are 6-decimal-rounded
    * and DECIMAL-summed (the [[bm25]] discipline) so the per-doc sum is
    * order-independent and bitwise-stable. */
  /** (doc_id, n_chars, toks) for token-bearing docs — the classifier's
    * input projection, shared by training and inference. */
  private def classifierDocs(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), col("n_chars"),
      filter(split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "").as("toks"))
    .filter(size(col("toks")) > 0)

  /** TRAIN: the NB log-count-ratio weight table (tok, w) from the
    * corpus' length-median weak label — the frozen dim a streaming
    * deployment persists and broadcasts per batch
    * ([[graft.streaming.StreamingClassifier]]). */
  private[graft] def nbWeights(documents: DataFrame): DataFrame = {
    val docs = classifierDocs(documents)
    val med = docs.agg(percentile(col("n_chars"), lit(0.5)).as("med"))
    val toks = docs
      .select(col("doc_id"), col("n_chars"), explode(col("toks")).as("tok"))
      .crossJoin(broadcast(med))
      .withColumn("good", col("n_chars") > col("med"))
    val classCounts = toks.groupBy("tok").agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("tfg"),
      sum(when(!col("good"), 1L).otherwise(0L)).as("tfb"))
    val totals = classCounts
      .agg(sum("tfg").as("tg"), sum("tfb").as("tb"), count(lit(1)).as("v"))
    classCounts.crossJoin(broadcast(totals))
      .select(col("tok"),
        round(log(((col("tfg") + lit(1.0)) / (col("tg") + col("v"))) /
          ((col("tfb") + lit(1.0)) / (col("tb") + col("v")))), 6).as("w"))
  }

  /** Prepare the NB weight table as a frozen dim: ONE localCheckpoint +
    * sizing count, broadcast if it fits — decided HERE, once, not inside
    * the per-call/per-batch scorer (r17 ADVICE: [[scoreWithWeights]]
    * used to re-run maybeBroadcastGrams on every invocation, so a
    * long-running stream re-materialized the vocab dim and leaked a
    * checkpointed RDD per micro-batch). Mirrors how
    * [[graft.streaming.StreamingRetrievalDecon]] freezes benchGrams. */
  private[graft] def prepareWeightDim(weights: DataFrame): DataFrame =
    maybeBroadcastGrams(weights, BroadcastGramLimit)

  /** INFER: score documents against a PREPARED weight dim
    * ([[prepareWeightDim]]) — Σ w(tok)·tf / dl with keep =
    * score > threshold. Consumes the dim as-is (no re-materialization:
    * per batch = batch tf + the already-decided weight join). Tokens
    * outside the weight vocab contribute 0 (the inner join drops them)
    * while still counting toward dl — unseen-token behavior a
    * frozen-vocab deployment needs. Shared verbatim by
    * [[classifierScore]] and the streaming twin.
    * Row order is not part of the result. */
  private[graft] def scoreWithWeights(documents: DataFrame,
      weights: DataFrame, threshold: Double): DataFrame = {
    val docs = classifierDocs(documents)
    val tf = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(weights, "tok")
      .select(col("doc_id"),
        round(col("w") * col("tf"), 6).cast("decimal(18,6)").as("c"))
      .groupBy("doc_id").agg(sum("c").as("s"))
    // left join: a doc with NO vocab token still reports (score 0) —
    // the frozen-vocab streaming case; self-trained corpora always match
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        // + 0.0 collapses IEEE −0.0 (a tiny negative score rounded to
        // zero) to +0.0, which the engines otherwise stringify apart
        (round(coalesce(col("s").cast("double"), lit(0.0)) /
          col("n_toks"), 4) + lit(0.0)).as("score"))
      .withColumn("keep", col("score") > threshold)
  }

  def classifierScore(documents: DataFrame,
                      threshold: Double = 0.0): DataFrame =
    scoreWithWeights(documents, prepareWeightDim(nbWeights(documents)),
      threshold)

  /** Distribution-based quality cutoff — keep documents at or above their
    * stratum's `q`-quantile of a quality metric (percentile filters are
    * how real pipelines set thresholds: "drop the worst quartile per
    * language" instead of a global magic number). Returns survivors with
    * the threshold that admitted them.
    *
    * Scale shape: one groupBy computing a per-stratum scalar (the
    * quantile), broadcast back over the corpus, then a narrow filter.
    * `percentile` here is exact (sorts each group's values in the agg
    * buffer) to stay oracle-comparable; at 100 TB swap in
    * `approx_percentile(metric, q, accuracy)` — the plan shape (tiny
    * threshold dim, broadcast, narrow filter) is unchanged. */
  def qualityCutoff(
      documents: DataFrame,
      metricCol: String = "n_chars",
      stratumCol: String = "lang",
      q: Double = 0.25): DataFrame = {
    val cut = documents.groupBy(col(stratumCol).as("stratum"))
      .agg(round(percentile(col(metricCol), lit(q)), 4).as("cutoff"))
    documents.join(broadcast(cut), col(stratumCol) === col("stratum"))
      .filter(col(metricCol) >= col("cutoff"))
      .select(col("doc_id"), col(stratumCol), col(metricCol), col("cutoff"))
  }

  /** Out-of-vocabulary rate per document against a `vocabSize`-term
    * vocabulary derived from the corpus itself (top terms by frequency,
    * ties by token) — the tokenizer-coverage check run before committing
    * to a vocab. Output: per-doc token count, OOV count, OOV ratio.
    *
    * Scale shape: one TF shuffle + a top-k that reduces to `vocabSize`
    * rows, folded to a single array row and broadcast; the per-doc scan
    * is then a narrow filter-count against the broadcast array. The
    * corpus is never joined per-token against the vocab. */
  def oovRate(documents: DataFrame, vocabSize: Int = 25): DataFrame = {
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    val vocab = documents
      .select(explode(arr).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .agg(collect_set("tok").as("vocab"))
    // one-eval discipline: bind the token array as a lambda variable and
    // carry (n_tok, n_oov) through a Generate barrier, so the split and
    // the vocab-membership filter run once per row instead of once per
    // output column (see Winnowing.fingerprints)
    val summary = transform(array(arr), a => struct(
      size(a).cast("long").as("n_tok"),
      size(filter(a, t => !array_contains(col("vocab"), t)))
        .cast("long").as("n_oov")))
    documents.crossJoin(broadcast(vocab))
      .select(col("doc_id"), explode(summary).as("s"))
      .select(col("doc_id"),
        col("s.n_tok").as("n_tok"),
        col("s.n_oov").as("n_oov"),
        when(col("s.n_tok") > 0,
          round(col("s.n_oov") * lit(1.0) / col("s.n_tok"), 4))
          .otherwise(lit(0.0)).as("oov_ratio"))
  }

  /** Window-level exact-substring duplication — the span-granular dedup
    * signal (Lee et al.'s exact-substring dedup, at fixed `k`-token
    * window granularity): a window of text appearing in more than one
    * document is boilerplate/template material even when whole documents
    * are not near-dups. Per doc: total k-token windows, windows whose
    * text recurs in ≥2 distinct docs, and the duplicated fraction
    * (window positions counted with multiplicity).
    *
    * Scale shape: one per-doc count over the SHARED duplicated-window-
    * position frame ([[dupWindowPositions]] — a row there is exactly a
    * window position whose text recurs in ≥2 distinct docs, so the
    * per-doc row count IS the duplicated-window count with
    * multiplicity) plus a narrow window-total projection and a
    * doc_id left join. The window shuffles run once per (corpus, k,
    * hashWindows) across this, [[exactSubstrSpans]]/[[exactSubstrClean]]
    * /[[exactSubstrApply]] and the training-set composition. At 100 TB
    * set `hashWindows = true` to xxhash64 the window string before the
    * shuffle and move 8-byte keys instead of ~40-byte strings — same
    * lever as [[Dedup.ngramJaccard]]'s encodeShingles, same collision
    * caveat (a 64-bit collision can merge two distinct windows; at 2^32
    * distinct windows the birthday bound puts one collision in ~half of
    * corpora — acceptable for a dup-REMOVAL signal, not for an
    * exactness proof). */
  def duplicatedSpans(
      documents: DataFrame, k: Int = 6, hashWindows: Boolean = false): DataFrame = {
    val hits = dupWindowPositions(documents, k, hashWindows)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val nDup = coalesce(col("n_dup"), lit(0L))
    documents.select(col("doc_id"), size(wordNgrams(k)).cast("long").as("n_windows"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_windows"),
        nDup.as("n_dup_windows"),
        when(col("n_windows") > 0, round(nDup * lit(1.0) / col("n_windows"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Cross-doc duplicated window positions with each window's canonical
    * owner (the smallest doc_id containing it) — the shared front half of
    * [[exactSubstrSpans]] and [[exactSubstrClean]]. A window counts as
    * duplicated only when it recurs in ≥2 DISTINCT docs; intra-doc
    * repetition is [[repetition]]'s domain.
    *
    * `hashWindows` keys the df/owner shuffle and the join-back on
    * xxhash64(win) instead of the raw ~k·7-byte window string — at 100
    * TB the shuffle volume drops ~5× while ownership (min doc_id) and
    * every downstream span stays keyed per window. Collision caveat as
    * [[duplicatedSpans]]; hashed ≡ raw is pinned in ExactSubstrSpec.
    *
    * Session-memoized via [[Dedup.sharedFrame]] (the shingles
    * discipline, incl. the `spark.graft.dedup.shareFrames` opt-out):
    * spans, clean, apply and the training-set composition all consume
    * this same frame, so its two shuffles run once per (corpus, k,
    * hashWindows) instead of once per caller — at cluster scale the
    * persisted window-position table between pipeline stages. */
  private def dupWindowPositions(
      documents: DataFrame, k: Int, hashWindows: Boolean = false): DataFrame =
    Dedup.sharedFrame(documents, "dup_window_positions", k, hashWindows) {
      val winKey = if (hashWindows) xxhash64(col("win")) else col("win")
      val wins = documents
        .select(col("doc_id"), posexplode(wordNgrams(k)).as(Seq("pos", "win")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), winKey.as("win"))
      val owners = wins.groupBy("win")
        .agg(count_distinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
        .filter(col("nd") > 1)
        .select("win", "owner")
      wins.join(owners, "win").select("doc_id", "pos", "owner")
    }

  /** Gaps-and-islands merge of duplicated window positions into maximal
    * token spans: windows whose [pos, pos+k) token intervals overlap or
    * touch (next pos ≤ prev pos + k) fuse into one span. Output one row
    * per (doc, span): [span_start, span_end) in 0-based token indices.
    * Merged spans are disjoint by construction (a new run only opens
    * past the previous interval's end), so downstream token counts can
    * sum span lengths without double counting. */
  private def mergeWindowSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    dupPos
      .withColumn("new_run",
        when(prev.isNull || col("pos") > prev + k, 1L).otherwise(0L))
      .withColumn("run", sum(col("new_run"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "run")
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_windows"))
  }

  /** Exact-substring duplicated SPANS — the removal-ready half of
    * [[duplicatedSpans]] (which only counts): maximal cross-doc
    * duplicated regions per document, merged from overlapping k-token
    * duplicated windows (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — ExactSubstr at fixed
    * window granularity; reference analog: the repeated-template habr
    * bodies `get_habr.py:21-35` whose boilerplate survives doc-level
    * dedup). Output: [span_start, span_end) 0-based token intervals plus
    * the window count each span fused.
    *
    * Scale shape: one shuffle on the window key (df + owner agg, content
    * -derived keys so no skew), an equi-join back, then one doc-keyed
    * sort for the islands merge — the per-doc Window partitions on
    * doc_id, and the span groupBy reuses that partitioning (grouping
    * keys ⊇ partition key ⇒ no extra Exchange). At 100 TB set
    * `hashWindows = true` — the [[dupWindowPositions]] lever, priced
    * per round as scale.substr_hashed. */
  def exactSubstrSpans(
      documents: DataFrame, k: Int = 6, hashWindows: Boolean = false): DataFrame =
    mergeWindowSpans(dupWindowPositions(documents, k, hashWindows), k)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"))

  /** Exact-substring REMOVAL policy — keep one canonical copy: a
    * duplicated window's tokens are removable in every doc EXCEPT its
    * owner (smallest doc_id containing that window). Per doc: token
    * count, tokens inside merged removable spans, and the kept
    * fraction — the budget line a span-level scrub ships. Docs with
    * nothing removable keep_frac 1.0 (report-completeness rule, as the
    * leak report). Ownership is per WINDOW, not per span: a doc can own
    * one window of a merged span and still lose the span's other
    * tokens — mutual sharing trims both sides, and when an owner's
    * NON-owned neighbor windows merge into a span covering its owned
    * window, even the owned window's tokens are removed from the owner
    * (its text then survives only where OTHER docs own overlapping
    * windows). So ownership bounds the budget — an owned window is
    * never itself the REASON tokens leave its owner — but is not a
    * per-position survival guarantee; that matches Lee et al.'s
    * remove-everywhere default, softened per window rather than per
    * position. */
  def exactSubstrClean(
      documents: DataFrame, k: Int = 6, hashWindows: Boolean = false): DataFrame = {
    val removable = dupWindowPositions(documents, k, hashWindows)
      .filter(col("doc_id") =!= col("owner"))
    val removed = mergeWindowSpans(removable, k)
      .groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start")).as("n_removed"))
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    val nRem = coalesce(col("n_removed"), lit(0L))
    documents.select(col("doc_id"), size(arr).cast("long").as("n_tok"))
      .join(removed, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"), nRem.as("n_removed"),
        when(col("n_tok") > 0,
          round((col("n_tok") - nRem) * lit(1.0) / col("n_tok"), 4))
          .otherwise(lit(1.0)).as("keep_frac"))
  }

  /** Apply the [[exactSubstrClean]] policy to the text itself — the
    * artifact a span-level scrub actually ships: tokens inside merged
    * non-owned duplicated spans are cut, survivors re-joined with single
    * spaces (tokenization is the same lower/split/drop-empties as every
    * text operator, so reconstruction is deterministic in both engines;
    * original inter-token whitespace is not preserved — the scrub
    * canonicalizes, as C4-style cleaners do). Docs with nothing
    * removable emit their canonicalized text unchanged.
    *
    * Scale shape: [[exactSubstrClean]]'s two shuffles plus one per-doc
    * span-list collect (bounded: spans per doc ≤ windows per doc), then
    * a narrow indexed-filter HOF over the token array — the rebuild
    * never shuffles the text twice. */
  def exactSubstrApply(
      documents: DataFrame, k: Int = 6, hashWindows: Boolean = false): DataFrame = {
    val removable = dupWindowPositions(documents, k, hashWindows)
      .filter(col("doc_id") =!= col("owner"))
    val spans = mergeWindowSpans(removable, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    val spansOrEmpty = coalesce(col("spans"),
      array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    documents.join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        concat_ws(" ", filter(arr, (t, i) =>
          !exists(spansOrEmpty, s =>
            i.cast("long") >= s.getField("span_start") &&
              i.cast("long") < s.getField("span_end")))).as("clean_text"))
  }

  /** Deterministic stratified sampling — the data-mixing step that turns
    * raw source proportions into a training mix: each stratum keeps the
    * fraction `rates(stratum)` of its rows, chosen by an md5 bucket of the
    * stable `doc_id` (NOT rand(): re-runs, retries, and both engines of
    * the oracle compare must select the same rows). Strata missing from
    * `rates` are dropped (rate 0).
    *
    * Scale shape: pure narrow filter — hash, bucket, compare against a
    * broadcast (stratum → threshold) map. No shuffle, no sort, no state;
    * resharding the survivors is the caller's choice. */
  def stratifiedSample(
      documents: DataFrame,
      rates: Map[String, Double],
      stratumCol: String = "lang",
      buckets: Int = 100): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long"),
      lit(buckets))
    val thresholds = rates.toSeq.map { case (s, r) =>
      (s, math.round(r * buckets)) }.toDF("stratum", "keep_below")
    documents
      .withColumn("bucket", bucket)
      .join(broadcast(thresholds), col(stratumCol) === col("stratum"))
      .filter(col("bucket") < col("keep_below"))
      .select(col("doc_id"), col(stratumCol), col("bucket"))
  }

  /** Mixture-enforcing sampler — closes the loop [[mixingWeights]]
    * opens: sources OVER-represented relative to their α-tempered
    * target weight are deterministically downsampled (content-stable
    * md5 bucketing, the same admission function as
    * [[stratifiedSample]]); under-represented sources pass whole — the
    * rate caps at 1 because upsampling is a repeat-epochs decision in
    * the trainer, not a filter. Output: per source, the applied rate
    * and the admitted count (zero-admission sources kept, same
    * report-completeness rule as the leak report).
    *
    * Determinism: the rate derives from the 4-decimal rounded
    * share/weight pair, the bucket threshold is an explicit
    * floor(rate·buckets + 0.5) — no engine-specific round-half
    * semantics — and admission is a pure function of doc_id. Scale
    * shape: one pass over the corpus against a broadcast |sources|-row
    * rate dim; the weights build is [[mixingWeights]]'s bounded
    * aggregation. */
  def mixtureSample(
      documents: DataFrame, alpha: Double = 0.5, buckets: Int = 100): DataFrame = {
    val rates = mixtureRates(documents, alpha)
    val admitted = admittedBy(documents, rates, buckets)
      .groupBy("source").agg(count(lit(1)).as("n_admitted"))
    rates.join(admitted, Seq("source"), "left")
      .select(col("source"), col("rate"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
  }

  /** The per-source admission-rate dim of [[mixtureSample]]. */
  private def mixtureRates(documents: DataFrame, alpha: Double): DataFrame =
    mixingWeights(documents, alpha)
      .select(col("source"),
        least(lit(1.0), round(col("weight") / col("share"), 4)).as("rate"))

  /** The admitted (doc_id, source) rows under a rate dim — one narrow
    * pass against the broadcast rates, the same md5-bucket admission
    * function as [[stratifiedSample]]. */
  private def admittedBy(
      documents: DataFrame, rates: DataFrame, buckets: Int): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long"),
      lit(buckets))
    documents.join(broadcast(rates), "source")
      .withColumn("bucket", bucket)
      .filter(col("bucket") < floor(col("rate") * buckets + lit(0.5)))
      .select("doc_id", "source")
  }

  /** [[mixtureSample]]'s admission decision PER DOCUMENT — the row-level
    * predicate the summary aggregates, exposed for composition
    * ([[Dedup.trainEvalSplit]] intersects it with the leakage-safe
    * folds). Deterministic: a pure function of (doc_id, per-source
    * rate), so re-runs and both oracle engines admit the same rows. */
  def mixtureAdmitted(
      documents: DataFrame, alpha: Double = 0.5, buckets: Int = 100): DataFrame =
    admittedBy(documents, mixtureRates(documents, alpha), buckets)

  /** Bigram language-model quality score — the perplexity-proxy filter of
    * real pretraining pipelines (a cheap stand-in for a KenLM pass): train
    * an add-k-smoothed bigram model ON the corpus itself, then score each
    * document by its mean log₂ P(w_i | w_{i-1}). Low scores flag
    * gibberish / boilerplate whose transitions the corpus never makes.
    *
    * P(w₂|w₁) = (C(w₁w₂) + k) / (C(w₁·) + k·V), with C(w₁·) the count of
    * bigrams starting at w₁ and V the corpus vocabulary size.
    *
    * Scale shape: two corpus-wide aggregations build the model (bigram
    * counts, context totals — both map-side-combinable), V is one scalar
    * broadcast, and scoring is the bigram frame re-joined to the model on
    * the bigram key: shuffles on content-derived keys only, model rows ≈
    * distinct bigrams (Zipf-bounded far below corpus size). Docs with
    * fewer than 2 tokens score NULL (no transitions to judge). */
  def bigramLmScore(documents: DataFrame, k: Double = 0.5): DataFrame = {
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    val docs = documents.select(col("doc_id"), arr.as("arr"))
    val bigrams = docs.select(col("doc_id"), explode(expr(
      """CASE WHEN size(arr) >= 2
          THEN transform(sequence(1, size(arr) - 1),
                         i -> concat_ws(' ', slice(arr, i, 2)))
          ELSE CAST(array() AS ARRAY<STRING>) END""")).as("bg"))
    val model = bigrams.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val ctx = model.groupBy("w1").agg(sum("c_bg").as("c_w1"))
    val vocab = docs.select(explode(col("arr")).as("tok"))
      .agg(countDistinct("tok").as("v"))
    val scored = bigrams
      .join(model, "bg")
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2((col("c_bg") + lit(k)) / (col("c_w1") + lit(k) * col("v")))), 4)
          .as("avg_log2_p"))
    documents.select("doc_id").join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_log2_p"))
  }

  /** Token-frequency head statistics (Zipf profile): the `topK` most
    * frequent tokens with rank and cumulative corpus share — the signal
    * that sizes tokenizer vocabularies and stopword lists ("the top 50
    * tokens cover X% of the corpus").
    *
    * Scale shape: the head is extracted by `orderBy().limit(topK)`,
    * which Spark plans as TakeOrderedAndProject — every task keeps a
    * topK-bounded heap and the driver merges heads, so the full
    * vocabulary is NEVER sorted, on one task or any. The unpartitioned
    * rank/cum window then runs over exactly `topK` rows (trivial by
    * construction), and the corpus total is a scalar aggregate joined
    * back broadcast. The total order (cnt desc, tok) is shared by the
    * limit and the window, so ties at the boundary resolve identically
    * — output is bitwise what the full-sort formulation produced. */
  def zipfStats(documents: DataFrame, topK: Int = 50): DataFrame = {
    val counts = documents
      .select(explode(split(lower(coalesce(col("text"), lit(""))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val head = counts.orderBy(col("cnt").desc, col("tok")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    head
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok").as("token"), col("cnt"),
        round(col("cum") * lit(1.0) / col("total"), 4).as("cum_share"))
  }

  /** Temperature-based source mixing weights — the "how much of each
    * source goes into the training mix" computation every multi-source
    * pretraining run makes: per-source size share p_s (by characters — a
    * token-count proxy), tempered to w_s ∝ p_s^α and renormalized.
    * α = 1 keeps natural proportions, α = 0 is uniform; the usual
    * 0 < α < 1 upsamples small high-quality sources (the UnifiedQA /
    * multilingual-sampling trick).
    *
    * Determinism across engines: α = 0.5 computes via sqrt (IEEE
    * correctly-rounded in both Spark and DuckDB, unlike pow), and the
    * normalizing sum folds over the SOURCE-SORTED weight list so
    * fp addition order is pinned — the same ordered-fold contract the
    * embedding dot products use. The fold list is one row per SOURCE
    * (dozens, not documents), collected to a single row: bounded by the
    * source vocabulary, never by corpus size.
    *
    * Scale shape: one map-side-combinable aggregation over the corpus,
    * then arithmetic on a |sources|-row frame joined back broadcast. */
  def mixingWeights(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val tempered = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .withColumn("t",
        if (alpha == 0.5) sqrt(col("n_chars").cast("double"))
        else pow(col("n_chars").cast("double"), lit(alpha)))
    val totals = tempered
      .agg(sum("n_chars").as("chars_tot"),
        aggregate(array_sort(collect_list(struct(col("source"), col("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("t_tot"))
    tempered.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(col("n_chars") / col("chars_tot"), 4).as("share"),
        round(col("t") / col("t_tot"), 4).as("weight"))
  }

  /** Per-document surface statistics: token count, distinct-token count,
    * type-token ratio (the repetition/diversity signal), and mean token
    * length — the cheap profile columns a corpus-quality dashboard
    * filters on. Pure narrow projection; the token array is let-bound
    * once per row (the wordNgrams trap). */
  def textStats(documents: DataFrame): DataFrame = {
    val arr = filter(split(lower(coalesce(col("text"), lit(""))), " "), t => t =!= "")
    // one-eval discipline: lambda-bound token array + Generate barrier —
    // CollapseProject would otherwise re-inline the split into every
    // output column (see Winnowing.fingerprints)
    val summary = transform(array(arr), a => struct(
      size(a).cast("long").as("n_tokens"),
      size(array_distinct(a)).cast("long").as("n_distinct"),
      aggregate(a, lit(0.0), (acc, t) => acc + length(t)).as("len_sum")))
    documents
      .select(col("doc_id"), explode(summary).as("s"))
      .select(col("doc_id"),
        col("s.n_tokens").as("n_tokens"),
        col("s.n_distinct").as("n_distinct"),
        when(col("s.n_tokens") > 0,
          round(col("s.n_distinct") * lit(1.0) / col("s.n_tokens"), 4))
          .as("ttr"),
        when(col("s.n_tokens") > 0,
          round(col("s.len_sum") / col("s.n_tokens"), 4)).as("mean_tok_len"))
  }

  /** Per-source token-distribution drift vs the whole corpus:
    * Jensen-Shannon divergence over the corpus's `topN` tokens — the
    * monitoring number a mixture pipeline tracks per source/snapshot to
    * catch a feed whose content shifted (reference analog: the per-year
    * profession-share comparisons of `dml_script.ipynb`, generalized to
    * a proper distribution distance).
    *
    * Scale shape: one token explode feeds BOTH the vocab top-N (a
    * TakeOrdered bounded heap — never a full-vocab sort) and the
    * per-(source, token) counts restricted to that vocab by a broadcast
    * semi-join. The JS fold itself runs over a |sources| × topN grid —
    * driver-trivial at any corpus size; corpus scale only deepens the
    * two count aggregations, which combine map-side.
    *
    * Determinism: all counts are exact longs; the divergence is an
    * ordered fold over the token-sorted term list with an explicit
    * per-term grouping, so Spark and DuckDB accumulate identical
    * doubles (q_src_drift). */
  def sourceDrift(documents: DataFrame, topN: Int = 50): DataFrame =
    driftVsProfile(documents, vocabProfile(documents, topN))

  /** Reference distribution for drift monitoring: the corpus's `topN`
    * tokens with their counts, via a TakeOrdered bounded heap (never a
    * full-vocab sort). Persist this once per corpus snapshot; it is the
    * static side of [[driftVsProfile]] and of the streaming monitor
    * (graft.streaming.DriftMonitor). */
  def vocabProfile(documents: DataFrame, topN: Int = 50): DataFrame =
    documents.select(explode(filter(
        split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("corpus_cnt"))
      .orderBy(col("corpus_cnt").desc, col("token")).limit(topN)

  /** Per-source JS divergence of `documents` against a fixed
    * (token, corpus_cnt) profile — the generalized core of
    * [[sourceDrift]], reused by the streaming monitor where the profile
    * is the HISTORICAL corpus and `documents` is one micro-batch. */
  def driftVsProfile(documents: DataFrame, profile: DataFrame): DataFrame = {
    val vocab = profile.select(col("token"), col("corpus_cnt"))
    val tok = documents.select(col("source"),
      explode(filter(split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "")).as("token"))
    val srcCnt = tok.join(broadcast(vocab.select("token")), "token")
      .groupBy("source", "token").agg(count(lit(1)).as("src_cnt"))
    val grid = documents.select("source").distinct()
      .crossJoin(broadcast(vocab))
      .join(srcCnt, Seq("source", "token"), "left")
      .withColumn("src_cnt", coalesce(col("src_cnt"), lit(0L)))
    val per = grid.groupBy("source").agg(
      sum("src_cnt").as("src_total"),
      sum(when(col("src_cnt") > 0, 1L).otherwise(0L)).as("n_vocab_hits"),
      sum("corpus_cnt").as("corpus_total"),
      array_sort(collect_list(struct(col("token"), col("src_cnt"),
        col("corpus_cnt")))).as("terms"))
    per.select(col("source"), col("n_vocab_hits"), col("src_total"),
      round(aggregate(col("terms"), lit(0.0), (acc, t) => {
        // greatest(total, 1): a source with ZERO vocab hits (or an empty
        // profile) has src_cnt = 0 everywhere, so the guarded division
        // still yields exactly p = 0 — no ANSI 0/0, identical doubles
        // whenever the total is positive
        val p = t.getField("src_cnt") * lit(1.0) /
          greatest(col("src_total"), lit(1L))
        val q = t.getField("corpus_cnt") * lit(1.0) /
          greatest(col("corpus_total"), lit(1L))
        val m = (p + q) / lit(2.0)
        acc + (when(t.getField("src_cnt") > 0, lit(0.5) * p * log(p / m))
            .otherwise(lit(0.0))
          + when(t.getField("corpus_cnt") > 0, lit(0.5) * q * log(q / m))
            .otherwise(lit(0.0)))
      }) + lit(0.0), 4).as("js_div"))
  }

  /** Text canonicalization: lowercase, strip non-alphanumerics to
    * spaces, collapse runs of whitespace, trim — the normalization pass
    * that precedes hashing/dedup so formatting deltas don't defeat
    * exact-match. Pure narrow projection: scan-speed at any scale. */
  def normalizeText(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "),
      " {2,}", " "))
    documents.select(col("doc_id"), norm.as("norm"))
      .withColumn("n_chars_norm", length(col("norm")).cast("long"))
  }
}
