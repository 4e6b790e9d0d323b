package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Counting sketches — the bounded-memory summaries a 100 TB corpus
  * profile runs on when exact answers would shuffle the full token
  * stream to one place:
  *
  *  - Count-Min (Cormode & Muthukrishnan, J. Algorithms 2005): a d×w
  *    counter grid estimating per-token frequency with one-sided error
  *    (est ≥ true; est ≤ true + εN w.h.p., ε = e/w). The sketch is
  *    d·w rows REGARDLESS of corpus size — the whole build is one
  *    map-side-combinable aggregation, and estimation is a broadcast
  *    join of the (tiny) grid against the query keys.
  *  - KMV / k-minimum-values (Bar-Yossef et al., RANDOM 2002; Beyer et
  *    al., SIGMOD 2007): distinct-count estimation from the k smallest
  *    distinct hash values, (k−1)/U(k) with U(k) the k-th minimum as a
  *    fraction of hash space. Mergeable by construction (union of
  *    k-smallest sets → k-smallest of union), so partial aggregation
  *    carries ≤ k longs per task — never a per-group sort of the
  *    vocabulary.
  *
  * Both hash with md5 — the repo's cross-engine hash (SURVEY §5.1) —
  * so every estimate is bitwise reproducible in the DuckDB oracle.
  * Both estimators are order-independent (counter sums; min/set-union),
  * hence deterministic under any partitioning — the property that
  * makes an APPROXIMATE sketch an EXACTLY-oracled query.
  *
  * Reference provenance: the reference profiles token frequencies by
  * collecting full counters to the driver (001_….ipynb:751-754); these
  * sketches are the bounded-memory re-expression of that profile for
  * corpora where the vocabulary itself doesn't fit.
  */
object Sketches {

  /** The corpus token stream: (doc_id, tok), lowercased, empties out —
    * the same tokenization every TextAnalysis operator uses. */
  def tokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      explode(filter(split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "")).as("tok"))

  /** The CMS hash, declarative reference form: row i's bucket is hex
    * slice [8i, 8i+8) of md5(tok), mod width (md5's 128 bits are 4
    * independent 32-bit lanes; slicing a wide hash is the standard way
    * to derive the d hashes). 8 hex chars = 32 bits, so the conv fits
    * a long exactly and the DuckDB twin
    * (`substr(md5(tok), seed*8 + 1, 8)`) parses the identical value.
    * Depth is capped at 4 by the 32 hex chars.
    *
    * The hot path is the native [[graft.functions.Md5Lanes]] (one
    * digest, no hex string, no radix parse — Md5LanesSpec pins
    * bit-for-bit parity against THIS form); this Column stays as the
    * executable spec of the hash. */
  def cmsLane(digest: Column, seed: Column, width: Int): Column =
    pmod(conv(substring(digest, seed * lit(8) + lit(1), lit(8)),
      16, 10).cast("long"), lit(width.toLong))

  /** Hash-then-explode: the native [[graft.functions.Md5Lanes]] emits
    * all four 32-bit lanes from ONE digest (no hex string, no radix
    * parse — bit-for-bit the [[cmsLane]] hex-slice values, so the
    * DuckDB oracles are untouched), in a projection BELOW the
    * Generate so it is evaluated once per TOKEN, not once per
    * (token, seed) — CollapseProject cannot inline an attribute
    * through a Generate barrier (the wordNgrams one-eval discipline;
    * an inlined digest re-ran md5 d times). posexplode's position IS
    * the seed. */
  private def hashedSeeds(in: DataFrame, tok: Column, depth: Int,
      width: Int, keep: Seq[Column] = Seq.empty): DataFrame = {
    require(depth >= 1 && depth <= 4, s"depth $depth outside md5's 4 lanes")
    graft.functions.GraftFunctions.register(in.sparkSession)
    in.select(keep :+
        slice(call_function("md5_lanes", tok.cast("string")), 1, depth)
          .as("_lanes"): _*)
      .select(keep :+ posexplode(col("_lanes")).as(Seq("seed", "lane")): _*)
      .withColumn("bucket", pmod(col("lane"), lit(width.toLong)))
      .drop("lane")
  }

  /** Build the Count-Min grid over a token stream: one exploded
    * aggregation to ≤ depth·width rows (seed, bucket, cnt). Untouched
    * buckets are absent (zero) — [[cmsEstimate]] coalesces.
    *
    * Scale shape: tokens × depth rows enter a groupBy whose partial
    * (map-side) combine collapses each task to ≤ d·w counters before
    * the exchange — the shuffle moves O(d·w · tasks), not the corpus. */
  def cmsBuild(toks: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame =
    hashedSeeds(toks, col("tok"), depth, width)
      .groupBy("seed", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate each key against a built grid: min over the key's
    * depth counters. `keys` needs a `tok` column; the grid is broadcast
    * (≤ d·w rows by construction), so estimation never shuffles the
    * key side. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val probes = hashedSeeds(keys, col("tok"), depth, width,
      keep = keys.columns.map(col).toIndexedSeq)
    probes.join(broadcast(sketch), Seq("seed", "bucket"), "left_outer")
      .groupBy(keys.columns.map(col).toIndexedSeq: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** The frequency-profile contract row: the exact top-`topK` tokens
    * (cnt desc, tok — total order, TakeOrderedAndProject so no full
    * vocabulary sort) with their CMS estimates and the one-sided
    * overcount. `overcount ≥ 0` is the sketch's THEOREM, not a test
    * tolerance — SketchesSpec asserts it for the whole vocabulary.
    *
    * Two passes over the token stream by design: the exact head exists
    * only for this contract (the production path is [[cmsBuild]]
    * alone), and materializing the stream to save the second scan is
    * exactly what would NOT survive 100 TB. */
  def cmsTopK(documents: DataFrame, topK: Int = 20,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val toks = tokens(documents)
    val head = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(topK)
    val sketch = cmsBuild(toks, depth, width)
    cmsEstimate(sketch, head, depth, width)
      .select(col("tok").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
  }

  /** CMS grid over a join-key column (any type — keyed by its string
    * form, the cross-engine canonical): the input to [[cmsJoinSize]]. */
  def cmsKeyGrid(df: DataFrame, key: String,
      depth: Int = 4, width: Int = 8192): DataFrame =
    cmsBuild(df.select(col(key).cast("string").as("tok")), depth, width)

  /** Equi-join cardinality estimation from two CMS grids — the
    * inner-product estimator (Cormode & Muthukrishnan 2005, §4.2, the
    * AMS F₂ idea): |A ⋈ B on k| = Σ_v c_A(v)·c_B(v), estimated as
    * min over the d rows of Σ_b gridA[d][b]·gridB[d][b]. One-sided
    * like the point estimate — hash collisions only ADD cross terms,
    * so est ≥ true always.
    *
    * Why an engine wants this: whether a join is broadcastable, whether
    * its output fits a stage budget, whether a key is skewed enough to
    * salt — all need |A ⋈ B| BEFORE paying the shuffle. The grids are
    * one bounded-memory pass over each side (built independently —
    * e.g. at ingest time per partition of a 100 TB table) and the
    * estimate is a d·w-row join — milliseconds, corpus-size-free.
    * Returns one row: `est_pairs`. */
  def cmsJoinSize(gridA: DataFrame, gridB: DataFrame): DataFrame =
    gridA.select(col("seed"), col("bucket"), col("cnt").as("ca"))
      .join(gridB.select(col("seed"), col("bucket"), col("cnt").as("cb")),
        Seq("seed", "bucket"))
      .groupBy("seed").agg(sum(col("ca") * col("cb")).as("dot"))
      .agg(min("dot").as("est_pairs"))

  /** Key-skew factor from sketches alone — the decide-to-salt signal
    * BEFORE any shuffle: F₂·D/N², with F₂ the CMS self-inner-product
    * (second frequency moment, [[cmsJoinSize]] of a grid with itself)
    * and D the KMV cardinality estimate. A uniform key scores ≈ 1; a
    * key holding `share` of the rows scores ≈ share²·D. The AQE
    * skew-join split (pinned in SkewJoinEvidenceSpec) REACTS to skew
    * mid-query; this predicts it from ingest-time sketches so the plan
    * (salting granularity, broadcast threshold) is chosen up front.
    *
    * Width sizing: the F₂ estimate's noise floor is N²/w, which is
    * exactly a uniform key's true F₂ (N²/D) when w = D — so w ≫ D is
    * required for "uniform reads as 1"; heavy skew is detectable at
    * any width. Three column-pruned aggregations over the key (count,
    * grid, KMV); at ingest they ride the same scan. */
  def skewFactor(df: DataFrame, key: String,
      depth: Int = 4, width: Int = 1 << 20, k: Int = 256): DataFrame = {
    val keys = df.select(col(key).cast("string").as("tok"))
    val nRows = keys.agg(count(lit(1)).as("n_rows"))
    val grid = cmsBuild(keys, depth, width).localCheckpoint()
    val f2 = cmsJoinSize(grid, grid).select(col("est_pairs").as("f2_est"))
    val dEst = kmvCardinality(keys, k)
    nRows.crossJoin(f2).crossJoin(dEst)
      .select(col("n_rows"), col("f2_est"), round(col("d_est"), 1).as("d_est"),
        round(col("f2_est") * col("d_est")
          / (col("n_rows").cast("double") * col("n_rows").cast("double")), 4)
          .as("skew_factor"))
  }

  /** Global KMV cardinality estimate of a value stream (`tok` column):
    * one row, `d_est` — the ungrouped form of [[kmvDistinct]]'s
    * estimator, shared by [[skewFactor]] and the data card. */
  def kmvCardinality(keys: DataFrame, k: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.register(keys.sparkSession)
    val agg = udaf(new graft.functions.KMinDistinct(k))
    keys.select(kmvHashNative(col("tok")).as("h"))
      .agg(agg(col("h")).as("mins"))
      .select(when(size(col("mins")) < k, size(col("mins")).cast("double"))
        .otherwise(lit(k - 1) * lit(HashSpace)
          / element_at(col("mins"), k).cast("double")).as("d_est"))
  }

  /** Per-source 48-bit shingle hashes — the KMV input stream, shared
    * with [[graft.streaming.StreamingSketch]]'s per-batch state build. */
  def shingleHashes(documents: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("source"),
        explode(TextAnalysis.wordNgrams(n)).as("s"))
      .select(col("source"), col("s"), kmvHashNative(col("s")).as("h"))
  }

  /** KMV hash: first 12 hex chars of md5(tok) as a long in [0, 16^12).
    * 48 bits — exact in a long AND in a double (≤ 2^53), so the
    * estimator's double division is bitwise cross-engine. */
  def kmvHash(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 12), 16, 10).cast("long")

  /** [[kmvHash]] in its hot-path native form (r20, guide §1.2 step 2):
    * ONE md5 digest via [[graft.functions.Md5Lanes]] — no 32-char hex
    * string allocation, no radix parse per token — with hex chars 1–12
    * reassembled as lane₀·2¹⁶ | lane₁≫16. Bit-identical to [[kmvHash]]
    * (hex chars [0,12) are digest bytes [0,6) big-endian; Md5LanesSpec
    * pins the lane/hex equivalence), so every DuckDB oracle matches
    * unchanged; SketchesSpec pins this form against the declarative
    * one directly. The declarative [[kmvHash]] stays as the executable
    * spec and for column-only contexts with no session in scope to
    * register against (callers of THIS form register first — every
    * graft-built session already carries the function via
    * GraftExtensions). The lanes array is let-bound via the
    * one-element-transform idiom so the digest runs once per row. */
  private[extensions] def kmvHashNative(tok: Column): Column =
    element_at(transform(array(call_function("md5_lanes", tok.cast("string"))),
      l => shiftleft(element_at(l, 1), 16) + shiftright(element_at(l, 2), 16)), 1)

  private val HashSpace: Double = 281474976710656.0 // 16^12 = 2^48

  /** Per-source distinct-SHINGLE estimate from the k smallest distinct
    * hashes, beside the exact count it approximates (the accuracy
    * contract — same discipline as q_minhash_est / q_winnow_est).
    * Shingles (`n`-token windows), not unigrams: the synthetic corpus's
    * 31-token vocabulary would leave a unigram sketch permanently in
    * exact mode, while the shingle space (≥ 1k distinct per source at
    * every sf) engages the estimator tri-scale — and distinct-shingle
    * cardinality is the number the dedup family actually sizes its
    * signature frames by.
    *
    * est = (k−1) · 16^12 / h(k) when ≥ k distinct hashes exist, else
    * the sketch holds EVERY distinct hash and reports exactly.
    *
    * Scale shape: the k-smallest set rides [[graft.functions.KMinDistinct]]
    * — a bounded sorted buffer per task, merge tree O(k·partitions) —
    * and the exact side is countDistinct on the same shuffle; at 100 TB
    * you drop the exact column and the whole answer is k longs per
    * group. */
  def kmvDistinct(documents: DataFrame, k: Int = 64, n: Int = 3): DataFrame = {
    val agg = udaf(new graft.functions.KMinDistinct(k))
    shingleHashes(documents, n)
      .groupBy("source")
      .agg(countDistinct(col("s")).as("n_exact"),
        agg(col("h")).as("mins"))
      .select(col("source"), col("n_exact"),
        round(when(size(col("mins")) < k,
            size(col("mins")).cast("double"))
          .otherwise(lit(k - 1) * lit(HashSpace)
            / element_at(col("mins"), k).cast("double")), 4).as("kmv_est"))
  }

  // ── Mergeable quantile state ──────────────────────────────────────
  // The third member of the bounded-summary family: counts (CMS),
  // distinct (KMV), and now QUANTILES — a fixed-bin histogram whose
  // state is ≤ `bins` (bin, cnt) rows, mergeable by plain union+sum
  // (associative, commutative — merge ∘ build ≡ build ∘ union holds
  // EXACTLY, not just w.h.p.), with quantile error bounded by one bin
  // width by construction. Everything is int64 — binning, ranks, and
  // the reported edge — so the estimate is bitwise cross-engine with
  // zero float discipline needed (the lesson of q_shard_balance).

  /** Histogram state of a long-valued column over [lo, hi): sparse
    * (bin, cnt) rows, bin = (v−lo)·bins div (hi−lo) with both tails
    * clamped into the edge bins. One map-side-combinable aggregation;
    * ≤ `bins` rows regardless of input size. */
  def histState(
      values: DataFrame, vCol: String, lo: Long, hi: Long,
      bins: Int): DataFrame =
    values.select(expr(
        s"""CAST(CASE WHEN $vCol < ${lo}L THEN 0
                      WHEN $vCol >= ${hi}L THEN ${bins - 1}
                      ELSE (CAST($vCol AS BIGINT) - ${lo}L) * ${bins}L
                           DIV ${hi - lo}L END AS INT)""").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))

  /** Union+sum of two histogram states — the exact merge. */
  def mergeHist(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bin").agg(sum("cnt").as("cnt"))

  /** Quantile estimates from a (merged) state: for each q (per-mille,
    * so ranks stay integer), the upper edge of the first bin whose
    * cumulative count reaches rank ⌈q·N/1000⌉ — within one bin width
    * (precisely ⌈(hi−lo)/bins⌉, since the integer edge arithmetic can
    * round adjacent edges apart by the ceiling) of the exact order
    * statistic by construction. The cumulative
    * window runs over ≤ `bins` rows (bounded by construction, the
    * [[Funnel]] ladder discipline), and the q probe is a broadcast of
    * |qs| rows — nothing here scales with the data. */
  def histQuantile(
      state: DataFrame, qsPermille: Seq[Int], lo: Long, hi: Long,
      bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the ≤ bins-row state once (the renderMerged
    // discipline): the cum/n windows and the q join are separate
    // consumers, and an unmaterialized state would re-run its whole
    // build subtree — corpus scan included — per consumer
    // (the formatted plan showed 4 scans; now the build runs once)
    val s = state.localCheckpoint()
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = s
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    import state.sparkSession.implicits._
    val qs = qsPermille.toDF("q_permille")
    broadcast(qs)
      .join(cum, expr("cum >= (q_permille * n + 999) DIV 1000"))
      .groupBy("q_permille").agg(min("bin").as("bin"))
      .select(col("q_permille"),
        expr(s"CAST(${lo}L + (bin + 1L) * ${hi - lo}L DIV ${bins}L AS BIGINT)")
          .as("est"))
  }

  // ── Mergeable HLL distinct state ──────────────────────────────────
  // The fourth bounded-summary member (Flajolet et al. 2007,
  // "HyperLogLog: the analysis of a near-optimal cardinality
  // estimation algorithm"). KMV already estimates distincts, but its
  // state is a k-smallest multiset whose merge re-sorts; the HLL state
  // is ≤ m (bucket, max-rho) int rows whose merge is a plain
  // union+MAX — idempotent, associative, commutative, so re-merging a
  // replayed slice is a NO-OP (the overwrite-by-id property the CMS
  // leg lacks). Determinism discipline: rho comes from the length of
  // bin(rest) — pure string/integer ops, no log2 boundary risk — and
  // the estimator's power sums are computed in int64 fixed point
  // (Σ 2^(43−rho) is exact: every term dyadic, total < 2^50), so the
  // only float is the single final division, mirrored verbatim in the
  // oracle.

  /** Fixed HLL geometry: m = 64 buckets from the low 6 bits of the
    * 48-bit [[kmvHash]]; the remaining 42 bits feed rho ∈ [1, 43]. */
  private val HllM = 64
  private val HllAlpha = 0.709 // Flajolet's alpha_64
  private val HllFixed1 = 1L << 43 // 2^43, the rho fixed-point scale

  /** Registers from a `(source, h)` hash stream — the state-building
    * half [[hllState]] and [[hllDistinctMerged]] share. */
  private def hllRegisters(hashes: DataFrame): DataFrame =
    hashes
      .select(col("source"),
        pmod(col("h"), lit(HllM.toLong)).as("bucket"),
        expr(s"""CAST(CASE WHEN h div ${HllM} > 0
                      THEN 43 - length(bin(h div ${HllM}))
                      ELSE 43 END AS INT)""").as("rho"))
      .groupBy("source", "bucket").agg(max("rho").as("r"))

  /** Per-source HLL state over `n`-token shingles: ≤ m rows of
    * (source, bucket, r) with r = max rho seen. One map-side-
    * combinable aggregation; merge with [[mergeHll]]. */
  def hllState(documents: DataFrame, n: Int = 3): DataFrame =
    hllRegisters(shingleHashes(documents, n))

  /** Union+MAX of two HLL states — the exact merge; replayed slices
    * are no-ops (max is idempotent). */
  def mergeHll(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source", "bucket").agg(max("r").as("r"))

  /** Per-source estimate from a (merged) state: the standard HLL
    * harmonic mean over m registers (absent buckets count 2^0, i.e.
    * 2^43 in fixed point) with Flajolet's small-range linear-counting
    * correction when raw ≤ 2.5m and empty buckets remain. The state
    * aggregate is ≤ m rows per source — nothing scales with data. */
  def hllEstimate(state: DataFrame): DataFrame =
    state.groupBy("source")
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 43 - r)")).as("s_present"))
      .select(col("source"),
        (lit(HllM.toLong) - col("n_buckets")).as("zeros"),
        (col("s_present") + (lit(HllM.toLong) - col("n_buckets")) * lit(HllFixed1))
          .as("s_fixed"))
      .select(col("source"),
        round(
          when(col("zeros") > 0 &&
              lit(HllAlpha) * lit(3.6028797018963968e16) / col("s_fixed") <= 160.0,
            lit(64.0) * log(lit(64.0) / col("zeros")))
            .otherwise(lit(HllAlpha) * lit(3.6028797018963968e16) / col("s_fixed")),
          4).as("hll_est"))

  /** The accuracy contract (q_minhash_est / q_winnow_est / q_kmv
    * discipline): per-source exact distinct-shingle count beside the
    * HLL estimate from [[hllState]]+[[hllEstimate]]. */
  def hllDistinct(documents: DataFrame, n: Int = 3): DataFrame = {
    val exact = shingleHashes(documents, n)
      .groupBy("source").agg(countDistinct(col("s")).as("n_exact"))
    exact.join(hllEstimate(hllState(documents, n)), Seq("source"))
  }

  /** Merge-transparency twin of [[hllDistinct]]: the state is built in
    * two doc_id-parity halves and [[mergeHll]]'d, reported beside the
    * SAME exact count — and oracled against the FLAT one-pass SQL, so
    * merge ∘ build ≡ build ∘ union is pinned by the driver's hash gate,
    * not only by a spec (the q_card_merged discipline). */
  def hllDistinctMerged(documents: DataFrame, n: Int = 3): DataFrame = {
    // ONE shingle pass, frozen (the q_postings_compact termPairs
    // discipline): the two half-states and the exact side all slice
    // this frame, so the demonstration costs one corpus scan, not
    // three
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val hashes = documents.select(col("doc_id"), col("source"),
        explode(TextAnalysis.wordNgrams(n)).as("s"))
      .select(col("doc_id"), col("source"), col("s"),
        kmvHashNative(col("s")).as("h"))
      .localCheckpoint()
    def half(parity: Int) = hllRegisters(
      hashes.filter(pmod(col("doc_id"), lit(2L)) === parity)
        .select("source", "h"))
    val exact = hashes.groupBy("source")
      .agg(countDistinct(col("s")).as("n_exact"))
    exact.join(hllEstimate(mergeHll(half(0), half(1))), Seq("source"))
  }
}
