package graft.extensions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Line-level (document-frequency) deduplication — the FineWeb /
  * RefinedWeb boilerplate-removal recipe (Penedo et al. 2023 "The
  * RefinedWeb Dataset for Falcon LLM", §G.2 line-wise corrections;
  * Penedo et al. 2024 "The FineWeb Datasets"): a LINE that recurs across
  * many documents is template boilerplate (nav bars, cookie banners,
  * share buttons), and is dropped from EVERY document that carries it.
  *
  * This is deliberately different policy from the exact-substring family
  * ([[TextAnalysis.exactSubstrClean]], Lee et al. 2022): substring dedup
  * keeps one canonical copy of long quoted spans; line dedup keeps ZERO
  * copies of high-document-frequency lines, because boilerplate carries
  * no training signal for anyone. The unit is also different — fixed
  * line boundaries, not every sliding window — so the index is ~1/lineLen
  * the size of the substring gram index.
  *
  * The harness corpus has no newlines (TESTDATA.md: space-separated
  * token soup), so a "line" here is each NON-OVERLAPPING window of
  * `lineLen` tokens (the last line keeps its partial tail) — the same
  * fixed-span analogy C4 uses for its three-sentence unit (Raffel et al.
  * 2020, §2.2 "we discarded any three-sentence span occurring more than
  * once"). On a real corpus the splitter would be `split(text, '\n')`;
  * every downstream step is boundary-agnostic.
  *
  * Reference analog: the reference dedups whole rows on content hash at
  * ingest (feeder_postgres.py upsert) — [[Dedup.exactDedup]] subsumes
  * that; line dedup is the sub-document upgrade a 100 TB web corpus
  * needs first (boilerplate dominates duplicated bytes there).
  *
  * Scale shape (the whole family): one narrow projection explodes docs
  * to (doc_id, idx, line) — corpus_tokens/lineLen rows, 1/lineLen of
  * the substring index; one shuffle keyed on the line string builds the
  * document-frequency table; the dup-line set (df > maxDf) is the
  * BOILERPLATE set — tiny relative to the corpus by construction (it is
  * the point of the filter), so the left_anti join broadcasts it under
  * AQE; one final shuffle on doc_id reassembles survivors. No corpus×
  * corpus pairs anywhere, no window over a global ordering. Skew note:
  * the df groupBy's hottest key IS the most-duplicated line; its
  * partial_count combines map-side, so the hot key ships one row per
  * input partition, not one per occurrence.
  *
  * The census-leg single-scan (r19 VERDICT #2): one call exploded the
  * corpus into lines TWICE — once to derive the dup set, once as the
  * anti-join's left side — and a census/scrub timing split (PLANS.md)
  * attributed about half the family's sf100 cost to the census leg.
  * [[lines]] now rides
  * [[Dedup.sharedFrame]] (session-memoized localCheckpoint keyed on the
  * corpus plan + lineLen), so the explode runs ONCE and both legs — and
  * every other registry row of the family — read the materialized
  * frame. Per-batch callers ([[graft.streaming.StreamingLineGate]])
  * pass `share = false`: a memo keyed on a different plan every
  * micro-batch would only accumulate entries.
  *
  * At FineWeb scale the exact-df path's cost concentrates in the string
  * census (full line payloads through the shuffle) and in the anti-join
  * once the dup set outgrows the broadcast threshold.
  * [[dedupLinesBloom]] is the demonstrated 2-pass answer (r19 VERDICT
  * #1): pass 1 runs the census on xxhash64(line) ONLY — 8-byte keys,
  * no string payload, map-side combine — and folds the dup set into a
  * broadcast Bloom bitset (a treeAggregate; the set never materializes
  * as a join side); pass 2 scrubs with a codegen'd scan-side probe
  * ([[graft.functions.BloomProbe]]) — NO join at all. The exact df
  * table stays the auditable default and what the oracle verifies
  * line-by-line; the Bloom variant is driver-verified under the SAME
  * oracle on the harness corpus (where its filter is sized so the
  * expected false positive count is ≪ 1).
  */
object LineDedup {

  /** House tokenization — [[DataSelection.toks]] (the ONE shared
    * expression, r15 ADVICE: a re-inlined copy could silently
    * desynchronize this census from every other tokenized surface). */
  private def toks: Column = DataSelection.toks

  /** Non-overlapping `lineLen`-token lines of one doc, in order:
    * array<string>, empty for empty docs. `slice` past the end returns
    * the partial tail, which is exactly the last-line semantics. The
    * token array is let-bound through a single-element `transform`
    * lambda (the [[Winnowing.winnowedSet]] idiom) so the split+filter
    * pipeline runs once per ROW, not once per line. */
  private def lineArray(lineLen: Int): Column =
    flatten(transform(array(toks), t =>
      when(size(t) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), ((size(t) - 1) / lineLen).cast("int")),
          i => concat_ws(" ", slice(t, i * lineLen + 1, lit(lineLen)))))))

  /** Exploded line table: (doc_id, idx, line), idx 0-based within doc.
    * Empty documents contribute no rows (they rejoin in [[dedupLines]]).
    * With `share = true` (default) the frame is session-memoized and
    * localCheckpoint'ed via [[Dedup.sharedFrame]] — ONE corpus explode
    * feeds the census leg, the scrub leg and every sibling row of the
    * family; pass `share = false` from per-batch/streaming callers
    * (plan-keyed memo entries would accumulate batch by batch). */
  def lines(
      documents: DataFrame, lineLen: Int, share: Boolean = true): DataFrame = {
    require(lineLen >= 1, s"lineLen must be >= 1, got $lineLen")
    def build = documents
      .select(col("doc_id"), posexplode(lineArray(lineLen)))
      .toDF("doc_id", "idx", "line")
    if (share) Dedup.sharedFrame(documents, "line_dedup_lines", lineLen)(build)
    else build
  }

  /** Per-line document frequency and occurrence count — the census the
    * policy thresholds on. */
  def lineDf(
      documents: DataFrame, lineLen: Int, share: Boolean = true): DataFrame =
    lines(documents, lineLen, share)
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))

  /** The boilerplate census: the `topN` most-widely-shared lines
    * (df > maxDf), a total order (n_docs DESC, n_occ DESC, line ASC) so
    * the cut is deterministic. This is the report a curation run reads
    * BEFORE committing to a threshold. */
  def boilerplateLines(
      documents: DataFrame, lineLen: Int = 6, maxDf: Int = 1,
      topN: Int = 20): DataFrame =
    lineDf(documents, lineLen)
      .filter(col("n_docs") > maxDf)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("line"))
      .limit(topN)

  /** Drop every line with document frequency > `maxDf` from every doc
    * and reassemble the survivors in document order. Output: one row
    * per input document —
    * (doc_id, n_lines, n_kept, text_clean) — so fully-boilerplate docs
    * surface as n_kept = 0 / empty text rather than vanishing.
    *
    * Keep-ZERO-copies is the deliberate policy (scaladoc above); the
    * keep-one-canonical-copy alternative for quoted prose is
    * [[TextAnalysis.exactSubstrClean]]. */
  def dedupLines(
      documents: DataFrame, lineLen: Int = 6, maxDf: Int = 1): DataFrame =
    applyDupSet(documents,
      lineDf(documents, lineLen).filter(col("n_docs") > maxDf).select("line"),
      lineLen)

  /** [[dedupLines]] with the exact-df census replaced by a 2-PASS BLOOM
    * (r19 VERDICT #1 — the FineWeb-scale path, previously a prose
    * claim): pass 1 derives the dup-line set keyed on xxhash64(line)
    * only (the census shuffle carries 8-byte keys, never line strings)
    * and folds it into a broadcast Bloom bitset; pass 2 drops every
    * line whose probe hits — a codegen'd scan-side filter, NO anti-join
    * — and reassembles survivors.
    *
    * FALSE-POSITIVE CONTRACT (explicit, keep-zero direction): a Bloom
    * false positive drops an innocent line from every document carrying
    * it — extra removal, never resurrection, and never a policy
    * violation (the keep-zero policy already errs toward dropping).
    * Expected extra drops ≈ distinct_lines × fpp; at the defaults
    * (fpp = 1e-9, capacity 2²⁰ dup lines) a corpus of 10⁶ distinct
    * lines expects ~10⁻³ false drops, so on the harness corpus the
    * output is bit-identical to [[dedupLines]] (LineDedupBloomSpec pins
    * parity; the driver verifies q_line_dedup_bloom under q_line_dedup's
    * oracle verbatim). Size `expectedDupLines`/`fpp` so
    * corpus_distinct_lines × fpp stays ≪ 1 for exactness, or accept the
    * documented drop rate for memory: the bitset costs
    * ~1.44·log₂(1/fpp) bits per dup line (~5.4 MB at the defaults),
    * against an exact dup-line table that at web scale outgrows any
    * broadcast threshold.
    *
    * The 64-bit hash key carries [[dedupLinesEncoded]]'s collision
    * caveat unchanged: two distinct lines colliding under xxhash64
    * alias in the census. */
  def dedupLinesBloom(
      documents: DataFrame, lineLen: Int = 6, maxDf: Int = 1,
      expectedDupLines: Long = 1L << 20, fpp: Double = 1e-9): DataFrame = {
    val dupHashes = dupLineHashes(documents, lineLen, maxDf)
    // stat.bloomFilter NPEs on zero rows (the Membership guard); an
    // empty dup set means nothing to scrub — every line survives
    if (dupHashes.isEmpty)
      return rebuild(documents, lines(documents, lineLen), lineLen)
    applyDupBloom(documents,
      Membership.hashSetFilter(dupHashes, "_h", expectedDupLines, fpp),
      lineLen)
  }

  /** The Bloom path's pass-1 census: dup-line keys as `_h` =
    * xxhash64(line) — 8-byte shuffle keys, no string payload. The seam
    * [[dedupLinesBloom]] (set from the corpus itself) and
    * [[graft.streaming.StreamingLineGate.freezeBoilerplateBloom]] (set
    * FROZEN from a reference corpus) share.
    *
    * Memoized + localCheckpoint'ed via [[Dedup.sharedFrame]] (under
    * `share`): BOTH consumers run two actions over it — the zero-row
    * guard (stat.bloomFilter NPEs on empty input) and the filter fold
    * itself — and without the checkpoint each action re-executed the
    * full census aggregation, doubling exactly the cost the r20 freeze
    * levers price. The memo key also keeps [[Membership.hashSetFilter]]'s
    * plan-keyed filter memo stable across calls. */
  private[graft] def dupLineHashes(
      documents: DataFrame, lineLen: Int, maxDf: Int,
      share: Boolean = true): DataFrame = {
    def build = lines(documents, lineLen, share)
      .select(xxhash64(col("line")).as("_h"), col("doc_id"))
      .groupBy("_h").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDf).select("_h")
    if (share)
      Dedup.sharedFrame(documents, "line_dedup_dup_hashes", lineLen, maxDf)(
        build)
    else build
  }

  /** The Bloom path's pass-2 scrub against an already-built broadcast
    * bitset — the [[applyDupSet]] twin for the probe regime (same
    * per-doc output contract, stateless given the filter, so
    * batch ≡ static; the FP contract is [[dedupLinesBloom]]'s).
    * Streaming callers pass `share = false` (the [[lines]] contract). */
  private[graft] def applyDupBloom(
      documents: DataFrame, bf: Broadcast[BloomFilter], lineLen: Int,
      share: Boolean = true): DataFrame =
    rebuild(documents,
      Membership.filterByProbe(lines(documents, lineLen, share), bf,
        xxhash64(col("line")), keepMembers = false),
      lineLen)

  /** The dictionary-encoded path of [[dedupLines]] (the
    * [[Dedup.ngramJaccard]] encodeShingles discipline): census and
    * anti-join keyed on xxhash64(line) instead of the line string, so
    * the SMJ sorts that dominate once the boilerplate set outgrows the
    * broadcast threshold compare 8-byte longs, not ~40-byte strings,
    * and the census shuffle drops the string payload entirely.
    * Result-identical absent a 64-bit collision — the driver verifies
    * it end-to-end under q_line_dedup's oracle VERBATIM
    * (q_line_dedup_encoded). The string path stays the default: its
    * census is the auditable artifact ([[boilerplateLines]] needs the
    * strings). */
  def dedupLinesEncoded(
      documents: DataFrame, lineLen: Int = 6, maxDf: Int = 1): DataFrame = {
    val shared = lines(documents, lineLen) // one explode, both legs
    val dupHashes = shared
      .select(xxhash64(col("line")).as("_h"), col("doc_id"))
      .groupBy("_h").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDf).select("_h")
    val l = shared.withColumn("_h", xxhash64(col("line")))
    rebuild(documents,
      l.join(dupHashes, Seq("_h"), "left_anti").drop("_h"), lineLen)
  }

  /** Scrub `documents` against an EXTERNAL duplicated-line set — the
    * seam [[dedupLines]] (set derived from the corpus itself) and the
    * admission twin [[graft.streaming.StreamingLineGate]] (set FROZEN
    * from a reference corpus) share; per-doc output contract is
    * [[dedupLines]]'s. Stateless given the set, so batch ≡ static.
    * Streaming callers pass `share = false` (per-batch plans would
    * accumulate memo entries — the [[lines]] contract). */
  private[graft] def applyDupSet(
      documents: DataFrame, dup: DataFrame, lineLen: Int,
      share: Boolean = true): DataFrame =
    rebuild(documents,
      lines(documents, lineLen, share).join(dup, Seq("line"), "left_anti"),
      lineLen)

  /** Reassemble surviving lines per doc and resurrect empty /
    * fully-boilerplate docs from the documents side. */
  private def rebuild(
      documents: DataFrame, kept: DataFrame, lineLen: Int): DataFrame = {
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")), " ").as("text_clean"))
    documents
      .select(col("doc_id"),
        when(size(toks) === 0, lit(0L))
          .otherwise(((size(toks) - 1) / lineLen).cast("long") + 1L)
          .as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Per-source removal mass — the readout that tells a curation run
    * WHICH feeds are template-heavy (the [[TextAnalysis]] dupSpanReport
    * discipline applied to the line policy). frac_dropped is NULL for a
    * source with zero lines. */
  def report(
      documents: DataFrame, lineLen: Int = 6, maxDf: Int = 1): DataFrame =
    dedupLines(documents, lineLen, maxDf)
      .join(documents.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_lines").as("total_lines"),
        sum(col("n_lines") - col("n_kept")).as("dropped_lines"),
        round(sum(col("n_lines") - col("n_kept")) * lit(1.0) /
          nullif(sum("n_lines"), lit(0)), 4).as("frac_dropped"))
}
