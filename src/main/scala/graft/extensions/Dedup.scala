package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §7.1 step 7 — beyond reference parity).
  *
  * All operators are pure DataFrame pipelines: shuffles only on
  * content-derived keys (hash / band signature / shingle), never a
  * driver-side collect, so each scales linearly with executors. Hashes are
  * md5-based so results are engine-independent (oracle-exact in DuckDB)
  * and stable across Spark versions — hot paths could swap in xxhash64
  * (also a Catalyst built-in) where cross-engine equality is not needed.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One shuffle on the 128-bit content hash; at 100 TB the md5 keys
    * distribute uniformly so no skew handling is needed. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(lower(coalesce(col("text"), lit(""))).cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")

  /** MinHash + LSH banded candidate pairs over word-3-gram shingles.
    *
    * signature_j(doc) = min over shingles of md5(j ":" shingle);
    * `numHashes` signatures split into bands of `rowsPerBand`; docs
    * sharing any band signature become a candidate pair. The self-join
    * runs on (band, band_key) buckets — the classic LSH trick that
    * replaces the O(n²) all-pairs comparison with a shuffle on bucket
    * keys. Shingles (not unigrams) keep the element universe large so
    * only genuinely similar docs collide: with a small vocabulary,
    * unigram token SETS are near-identical across documents and banding
    * degenerates to all-pairs. */
  def minHashLsh(
      documents: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false,
      share: Boolean = true): DataFrame = {
    if (shareEnabled(documents.sparkSession, share))
      memoized(documents, ("minhash", numHashes, rowsPerBand, fastHash))(
        computeMinHashLsh(documents, numHashes, rowsPerBand, fastHash, share))
    else computeMinHashLsh(documents, numHashes, rowsPerBand, fastHash, share)
  }

  private def computeMinHashLsh(
      documents: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      fastHash: Boolean,
      share: Boolean): DataFrame =
    minHashLshFromShingles(
      shingles(documents, share = share), numHashes, rowsPerBand, fastHash,
      share)

  /** [[minHashLsh]] starting from an existing (doc_id, s) shingle frame —
    * the entry point for pipelines that already hold one (e.g.
    * [[CorpusPipeline]] derives its gate-filtered shingles from the
    * session-shared full-corpus frame by a semi-join instead of
    * re-scanning and re-distincting the filtered documents). */
  def minHashLshFromShingles(
      shingleFrame: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false,
      share: Boolean = true): DataFrame = {
    val buckets0 = bandBuckets(shingleFrame, numHashes, rowsPerBand, fastHash, share)
    // the self-join reads the bucket frame TWICE; with the session memo
    // off (share=false — one-shot pipelines, planted-corpus queries) an
    // unmaterialized frame re-runs the shingle distinct + signature
    // aggregation per side (r13 scan census: 8 corpus scans in
    // q_dedup_minhash_fast) — a within-plan checkpoint is still owed
    // even when cross-query sharing isn't
    val buckets =
      if (shareEnabled(shingleFrame.sparkSession, share)) buckets0
      else buckets0.localCheckpoint()
    buckets.alias("x")
      .join(buckets.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** The (doc_id, band, bkey) LSH bucket rows of a shingle frame — the
    * self-join input of [[minHashLshFromShingles]] and the PERSISTED
    * INDEX of incremental dedup (see [[lshProbe]]).
    *
    * ONE shuffle: shingle sets collapse to a per-doc row, then the whole
    * signature (numHashes mins) and every band key are computed in a
    * single narrow projection via higher-order functions — no
    * per-(doc, seed) or per-(doc, band) aggregations.
    *
    * fastHash swaps md5 (32-hex-char strings, engine-portable and
    * oracle-exact in DuckDB) for xxhash64 (codegen'd 64-bit longs, no
    * digest allocation) in both the signature mins and the band keys.
    * Identical docs collide identically under either family; NEAR-dup
    * candidate sets can differ — use fastHash where throughput matters
    * and md5 where cross-engine equality is asserted. */
  private def shingleHashSql(fastHash: Boolean) =
    if (fastHash) "xxhash64(seed, s)"
    else "md5(CAST(concat(CAST(seed AS STRING), ':', s) AS BINARY))"

  private def bandKeySql(fastHash: Boolean, rowsPerBand: Int) =
    if (fastHash) s"xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand))"
    else s"md5(CAST(concat_ws('|', slice(sig, b * $rowsPerBand + 1, $rowsPerBand)) AS BINARY))"

  private def sigSql(shArr: String, numHashes: Int, fastHash: Boolean) =
    s"""transform(sequence(0, ${numHashes - 1}),
                  seed -> array_min(transform($shArr, s -> ${shingleHashSql(fastHash)})))"""

  private def bandStructsSql(numBands: Int, fastHash: Boolean, rowsPerBand: Int) =
    s"""transform(sequence(0, ${numBands - 1}),
                  b -> named_struct(
                    'band', CAST(b AS INT),
                    'bkey', ${bandKeySql(fastHash, rowsPerBand)}))"""

  def bandBuckets(
      shingleFrame: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false,
      share: Boolean = true): DataFrame =
    bandsFromSignatures(
      signatures(shingleFrame, numHashes, fastHash, share), numHashes,
      rowsPerBand, fastHash)

  /** Per-doc MinHash signature frame `(doc_id, sig, n_shingles)` — the
    * ONE aggregation of the LSH family (collect the shingle set, fold it
    * to `numHashes` mins in a single narrow projection). Band keys
    * ([[bandsFromSignatures]]) and Jaccard estimates
    * ([[jaccardEstimate]]) both derive from it, so a pipeline that needs
    * both computes the signatures ONCE. Memoized per (input plan,
    * params) like [[shingles]] — it is the dominant shuffle of every
    * MinHash query, and deterministic; pass `share = false` for
    * one-shot inputs (e.g. the probe side of [[lshProbe]], whose plan
    * differs every batch and would only grow the memo). */
  def signatures(
      shingleFrame: DataFrame,
      numHashes: Int = 8,
      fastHash: Boolean = false,
      share: Boolean = true): DataFrame = {
    if (shareEnabled(shingleFrame.sparkSession, share))
      memoized(shingleFrame, ("signatures", numHashes, fastHash))(
        computeSignatures(shingleFrame, numHashes, fastHash))
    else computeSignatures(shingleFrame, numHashes, fastHash)
  }

  private def computeSignatures(
      shingleFrame: DataFrame,
      numHashes: Int,
      fastHash: Boolean): DataFrame =
    shingleFrame
      .groupBy("doc_id")
      .agg(collect_set(col("s")).as("sh"))
      .select(col("doc_id"), expr(sigSql("sh", numHashes, fastHash)).as("sig"),
        size(col("sh")).cast("long").as("n_shingles"))

  /** Explode a signature frame into `(doc_id, band, bkey)` bucket rows —
    * pure narrow generate, no shuffle. `numHashes`/`rowsPerBand`/
    * `fastHash` must match the configuration that built `sigs`. */
  def bandsFromSignatures(
      sigs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false): DataFrame =
    sigs.select(col("doc_id"),
        explode(expr(bandStructsSql(numHashes / rowsPerBand, fastHash, rowsPerBand)))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  /** [[bandBuckets]] computed entirely row-locally — no explode, no
    * groupBy: each document's shingle set, signature, and band keys are
    * built inside one projection over its own text. Identical output to
    * the exploded path (array_min is order-insensitive, so collect_set
    * vs array_distinct ordering cannot matter; BandBucketsParitySpec
    * pins it). This is the STREAMING-SAFE formulation: a stateless
    * narrow projection needs no watermark or state store, so arriving
    * documents can be banded per micro-batch and stream-static-joined
    * against a persisted corpus index
    * ([[graft.streaming.StreamingDedup]] — parity vs the batch
    * [[lshProbe]] pinned in StreamingDedupSpec). */
  def bandBucketsRowLocal(
      documents: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false,
      n: Int = 3): DataFrame = {
    val shArr =
      s"""array_distinct(CASE WHEN size(arr) >= $n
            THEN transform(sequence(1, size(arr) - ${n - 1}),
                           i -> concat_ws(' ', slice(arr, i, $n)))
            ELSE CAST(array() AS ARRAY<STRING>) END)"""
    documents
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"), expr(shArr).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), expr(sigSql("sh", numHashes, fastHash)).as("sig"))
      .select(col("doc_id"),
        explode(expr(bandStructsSql(numHashes / rowsPerBand, fastHash, rowsPerBand)))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  /** Incremental near-dup probe — how dedup actually runs on a LIVE
    * 100 TB corpus: the corpus' [[bandBuckets]] index is computed once
    * and persisted (parquet, partitioned/bucketed by (band, bkey)); each
    * arriving batch shingles and buckets ONLY ITSELF and equi-joins the
    * index. Cost per batch is proportional to the batch, not the corpus
    * — nothing of the historical corpus is re-shingled, re-hashed, or
    * re-shuffled (with a bucketed index layout the probe join needs no
    * index-side shuffle at all).
    *
    * Returns (corpus_id, new_id) candidate pairs. Band parameters must
    * match those used to build the index — signatures from different
    * configurations never collide meaningfully. */
  def lshProbe(
      index: DataFrame,
      newDocs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false): DataFrame = {
    // r20 (guide §2.4): the probe side banded ROW-LOCALLY — identical
    // rows to the exploded path (BandBucketsParitySpec), but a pure
    // narrow projection instead of explode + collect_set, so the
    // arriving batch pays ZERO shuffle before the index join (the
    // formulation StreamingDedup already used per micro-batch; batch
    // and streaming probes now share it).
    val probe = bandBucketsRowLocal(newDocs, numHashes, rowsPerBand, fastHash)
    index.alias("x")
      .join(probe.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("new_id"))
      .distinct()
  }

  /** 64-bit SimHash fingerprint per document: per-bit vote over the first
    * 64 bits of each distinct word-3-gram shingle's md5. Shingles, not
    * unigram tokens, for the same reason as [[minHashLsh]]: with a small
    * shared vocabulary every doc's token SET is near-identical, so a
    * token-set fingerprint is degenerate (at sf0.1 it put ~1M pairs
    * within hamming ≤ 3); shingle sets keep fingerprints discriminative.
    *
    * ONE shuffle: the distinct token set collapses to a per-doc row, the
    * token hashes are computed once each, and all 16 bit-votes + the final
    * fingerprint assembly run as nested higher-order folds in a single
    * narrow projection (the per-(doc, bit) exploded formulation costs two
    * more shuffles and 16× the rows). */
  def simHash(documents: DataFrame, share: Boolean = true): DataFrame = {
    if (shareEnabled(documents.sparkSession, share))
      memoized(documents, "simhash")(computeSimHash(documents, share))
    else computeSimHash(documents, share)
  }

  private def computeSimHash(documents: DataFrame, share: Boolean): DataFrame = {
    // ONE shuffle (the per-doc shingle collect); the whole 64-bit
    // fingerprint is computed per row by the native SimHash64 expression
    // — no 64× bit explode, no per-(doc, bit) aggregation. The DuckDB
    // oracle of q_dedup_simhash pins its equivalence to the declarative
    // md5-hex construction.
    graft.functions.GraftFunctions.register(documents.sparkSession)
    shingles(documents, share = share)
      .groupBy("doc_id").agg(collect_set(col("s")).as("feats"))
      .select(col("doc_id"), call_function("simhash64", col("feats")).as("simhash"))
  }

  /** SimHash near-dup candidate pairs: band the 64-bit fingerprint into
    * two 32-bit buckets (a pair within hamming distance ≤ 32 must agree
    * on at least one band), bucket-join the bands, then filter candidates by
    * exact hamming distance. Same LSH shape as [[minHashLsh]]: the
    * all-pairs comparison never materializes. */
  def simHashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simHash(documents)
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("i"), (col("simhash").bitwiseAND(4294967295L)).as("bv")),
          struct(lit(1).as("i"), expr("shiftright(simhash, 32)").as("bv")))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.i"), col("band.bv"))
    // hamming filter BEFORE distinct: the cheap bit_count prunes most
    // candidates while they are still join output, so the distinct
    // (a shuffle) only deduplicates surviving pairs
    bands.alias("x")
      .join(bands.alias("y"),
        col("x.i") === col("y.i") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Generic Hamming-banded near-dup pairs over ANY 64-bit fingerprint
    * column — the [[simHashPairs]] machinery factored out so every
    * Hamming-space signal (text SimHash, image aHash/dHash —
    * [[Multimodal.imageHashPairs]]) shares one banding operator.
    *
    * `numBands` equal-width bands of the 64-bit hash become bucket
    * keys; candidates share at least one band; exact
    * `bit_count(xor) ≤ maxHamming` then filters. With
    * `numBands > maxHamming` (the default: maxHamming+1, rounded up to
    * a divisor of 64) the pigeonhole principle makes the candidate set
    * COMPLETE — ≤ maxHamming differing bits cannot touch every band —
    * so banding is purely an optimization, never a recall trade
    * (MultimodalSpec pins banded ≡ brute-force). [[simHashPairs]]'s own
    * 2×32 banding predates this and stays as-is for oracle stability
    * (its candidate set is complete only to hamming 1; its oracle
    * replicates that banding exactly).
    *
    * Scale shape: one narrow band explode (numBands rows/doc), one
    * bucket-keyed self-join — the all-pairs comparison never
    * materializes; the cheap bit_count prunes before the distinct. */
  /** The (id, h, i, bv) band rows of a 64-bit hash frame — the
    * self-join input of [[hammingBandPairs]] and the PERSISTED INDEX of
    * streaming media admission ([[graft.streaming.StreamingMediaDedup]]
    * — the [[bandBuckets]]/[[lshProbe]] relationship, in Hamming
    * space). Pure narrow projection (numBands rows per hash), so it is
    * STREAMING-SAFE on an arriving side. */
  def hammingBands(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      numBands: Int = 4): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    hashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"),
        explode(expr(
          s"""transform(sequence(0, ${numBands - 1}),
                        b -> named_struct(
                          'i', CAST(b AS INT),
                          'bv', shiftright(h, b * $width) & $mask))""")).as("band"))
      .select(col("id"), col("h"), col("band.i"), col("band.bv"))
  }

  /** @param bucketCols optional PRE-BUCKET key columns (e.g. lang,
    *   source): candidates are restricted to same-bucket pairs, which
    *   divides the banding's n²/2^width same-band collision kernel by
    *   the bucket count — the scale lever for band saturation (the sf1
    *   slope note in PLANS.md). Within a bucket the pigeonhole
    *   completeness guarantee is unchanged; cross-bucket pairs are
    *   deliberately out of scope (a cross-language "near-dup" under a
    *   content hash is noise, which is what makes the key safe). */
  def hammingBandPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      numBands: Int = 4,
      bucketCols: Seq[String] = Nil): DataFrame = {
    require(numBands > maxHamming,
      s"completeness needs numBands > maxHamming, got $numBands <= $maxHamming")
    val bands0 = hammingBands(hashes, idCol, hashCol, numBands)
    // bucket columns ride along only when asked — the default path's
    // plan (and cost) is untouched
    val bands = if (bucketCols.isEmpty) bands0
      else bands0.join(
        hashes.select((idCol +: bucketCols).map(col): _*)
          .withColumnRenamed(idCol, "id"),
        Seq("id"))
    val sameBucket = bucketCols
      .map(c => col(s"x.$c") <=> col(s"y.$c"))
      .foldLeft(col("x.i") === col("y.i") && col("x.bv") === col("y.bv") &&
        col("x.id") < col("y.id"))(_ && _)
    bands.alias("x")
      .join(bands.alias("y"), sameBucket)
      .select(col("x.id").as("a"), col("y.id").as("b"),
        expr("CAST(bit_count(x.h ^ y.h) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Canonical-document selection — the "choose the survivor" step a
    * user runs AFTER near-dup detection: cluster documents by their
    * 64-bit SimHash fingerprint (identical fingerprint ⇒ near-identical
    * content) and keep the best representative per cluster — longest
    * text, ties to the smallest doc_id. Returns the full assignment map
    * (every doc with its cluster and canonical id), so the corpus filter
    * is a `kept` predicate and provenance survives: dropped docs still
    * point at what replaced them.
    *
    * Cost: the SimHash shuffle plus ONE window over (cluster) — at
    * 100 TB fingerprints distribute uniformly so the window partitions
    * are tiny and skew-free.
    *
    * Total over the corpus: documents too short to shingle (< 3 tokens,
    * or null/empty text) have no SimHash row; they get their own
    * singleton fallback cluster (their doc_id) rather than silently
    * vanishing from the assignment — a survivor map that loses corpus
    * rows is a contract hole (it would drop them from every downstream
    * filter). Singleton ⇒ always kept: with no shingles there is nothing
    * to near-dup against. */
  def keepCanonical(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
    documents.select(col("doc_id"), col("n_chars"))
      .join(simHash(documents).withColumnRenamed("simhash", "cluster"),
        Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("canonical_id", first("doc_id").over(w))
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("kept"))
  }

  /** Leak-proof train/val/test split: assignment is decided per near-dup
    * CLUSTER (the 64-bit SimHash fingerprint), not per document, so a
    * near-identical copy of a training document can never land in the
    * eval split — the contamination a plain per-doc hash split allows
    * whenever the corpus still contains near-dups (it always does; dedup
    * thresholds are tuned for precision, not recall). Split is the first
    * hex digit of md5(cluster): deterministic, content-derived, and
    * engine-reproducible (q_split_cluster's DuckDB oracle rebuilds it).
    *
    * Default bounds: hex < "c" → train (12/16 = 75%), < "e" → val
    * (2/16 = 12.5%), else test (12.5%).
    *
    * Scale shape: the SimHash shuffle plus one narrow projection — the
    * split itself adds NO shuffle, and clusters distribute uniformly
    * under md5 so split sizes concentrate tightly at any corpus size.
    *
    * Total over the corpus: shingle-less documents (< 3 tokens, null or
    * empty text) get a singleton fallback cluster (their doc_id) so
    * EVERY corpus row receives a split — a split operator that silently
    * assigns nothing to some rows corrupts downstream dataset sizes.
    * Singleton clusters carry no leak risk: with no shingles there is no
    * near-dup to co-locate. */
  def splitByCluster(
      documents: DataFrame,
      trainHexBound: String = "c",
      valHexBound: String = "e"): DataFrame = {
    // bounds compare against LOWERCASE md5 hex digits lexicographically;
    // an uppercase or non-hex bound would silently skew proportions
    // (e.g. "C" < every hex digit), so fail fast instead
    def validBound(b: String) =
      b.length == 1 && (b.head.isDigit || (b.head >= 'a' && b.head <= 'g'))
    require(validBound(trainHexBound) && validBound(valHexBound),
      s"split bounds must be one char in 0-9/a-g, got '$trainHexBound'/'$valHexBound'")
    require(trainHexBound <= valHexBound,
      s"trainHexBound '$trainHexBound' must be <= valHexBound '$valHexBound'")
    val h = substring(md5(col("cluster").cast("string").cast("binary")), 1, 1)
    documents.select(col("doc_id"))
      .join(simHash(documents).withColumnRenamed("simhash", "cluster"),
        Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .select(col("doc_id"), col("cluster"),
        when(h < trainHexBound, "train")
          .when(h < valHexBound, "val")
          .otherwise("test").as("split"))
  }

  /** Cross-source content-overlap matrix — the observability readout
    * that tells a corpus owner WHICH feeds copy from each other
    * (complements [[keepCanonical]]'s per-source survivorship): for each
    * source pair, how many distinct `k`-token text windows appear in
    * both, and the overlap coefficient |A∩B| / min(|A|, |B|) over the
    * sources' distinct window sets. Window granularity (Lee et al.'s
    * exact-substring unit, as in [[TextAnalysis.duplicatedSpans]])
    * catches shared boilerplate and partial copying that whole-document
    * hashing misses.
    *
    * Scale shape: one distinct over (window-hash, source), then a
    * self-equi-join on the hash. The join's per-key fan-out is bounded
    * by |sources|² (a window appears in at most |sources| rows after
    * the distinct), so no content hotness can blow it up; the pair
    * matrix is |sources|² rows — driver-trivial at any corpus size. */
  def sourceOverlap(documents: DataFrame, k: Int = 6): DataFrame = {
    // three consumers (both self-join sides + the totals) share the
    // distinct's exchange via ReuseExchange — identical subtrees dedup
    // in-flight, so no checkpoint is owed here (measured: a
    // localCheckpoint changed nothing, r13 census follow-up)
    // r20 (guide §2.3): array_distinct BEFORE the explode — a window
    // repeated inside one doc was md5'd once per occurrence and only
    // then deduped by the distinct's partial aggregate; hashing the
    // per-doc distinct set feeds the same (h, source) set with fewer
    // digests and fewer pre-aggregate rows. The cross-doc distinct
    // (and its shared exchange) stays — that dedup is real.
    val hs = documents.select(col("source"),
      explode(array_distinct(TextAnalysis.wordNgrams(k))).as("win"))
      .select(md5(col("win").cast("binary")).as("h"), col("source"))
      .distinct()
    val totals = hs.groupBy("source").agg(count(lit(1)).as("n"))
    hs.alias("a")
      .join(hs.alias("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(totals.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") * lit(1.0) / least(col("na"), col("nb")), 4)
          .as("overlap_coef"))
  }

  /** MinHash accuracy contract: for every LSH candidate pair, the
    * estimated Jaccard (fraction of agreeing signature components) next
    * to the EXACT shingle Jaccard. This is the measurement that justifies
    * trusting the sketch at scale — the exact column is computable only
    * for the candidate pairs (tiny), never all pairs, so the comparison
    * itself stays 100 TB-safe. The md5 hash family makes the ESTIMATE
    * engine-independent: an external system can reproduce the signatures
    * bit-for-bit (the DuckDB oracle of q_minhash_est does). */
  def jaccardEstimate(
      documents: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    val sh = shingles(documents)
    // ONE signature aggregation, materialized (memoized, like the
    // shingle frame), feeding BOTH the band keys (candidate generation)
    // and the estimate columns — r5 ran the same collect_set + signature
    // fold twice, once inside bandBuckets and once for the estimate,
    // which doubled the query's dominant shuffle. The memo's
    // localCheckpoint is the stage boundary a cluster pipeline would get
    // by persisting the signature table between stages.
    val sigs = signatures(sh, numHashes, fastHash = false)
    val buckets = bandsFromSignatures(sigs, numHashes, rowsPerBand)
    val pairs = buckets.alias("x")
      .join(buckets.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // exact |∩| per CANDIDATE pair, candidate-DRIVEN: start from the
    // (tiny) pair set, attach a's shingles, then equi-join b's shingles
    // on (doc_id, s). Work is |pairs| × shingles-per-doc — linear — and
    // never materializes the co-shingle self-join, whose output is
    // O(df²) per shingle and explodes on one hot shingle (the blowup
    // ngramJaccard's maxDf cap exists to kill).
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    pairs
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga"),
        col("n_shingles").as("na")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb"),
        col("n_shingles").as("nb")), "b")
      .join(inter, Seq("a", "b"))
      .select(col("a"), col("b"),
        round(expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))")
          * lit(1.0) / numHashes, 4).as("est_jac"),
        round(col("i") * lit(1.0) / (col("na") + col("nb") - col("i")), 4)
          .as("exact_jac"))
  }

  /** Asymmetric shingle CONTAINMENT over the MinHash-LSH candidate
    * pairs: cont_a = |A∩B|/|A| (how much of a sits inside b), cont_b =
    * |A∩B|/|B| — Broder's companion measure to resemblance, and the
    * DIRECTION a survivor policy needs that Jaccard cannot give: a
    * short document quoted whole inside a long one scores low Jaccard
    * (the union is large) but cont≈1 on the short side, so "drop the
    * CONTAINED doc" catches quote/re-post/boilerplate-wrapped subsets
    * that resemblance-threshold dedup walks past.
    *
    * Same scale shape as [[jaccardEstimate]]: candidates from the
    * banded LSH join (memoized — a pipeline running both pays the
    * signature build once), exact intersections candidate-DRIVEN
    * (|pairs| × shingles-per-doc, never the O(df²) co-shingle
    * self-join). A band collision without shared shingles keeps its
    * pair row with zero containment (LEFT join) rather than silently
    * vanishing. */
  def containment(documents: DataFrame): DataFrame =
    containmentFrom(shingles(documents), minHashLsh(documents))

  /** [[containment]] over an existing shingle frame and candidate-pair
    * set — the entry point for pipelines that already hold both
    * ([[CorpusPipeline]]'s containment gate reuses the near-dup stage's
    * filtered shingles and LSH pairs instead of re-deriving them). */
  def containmentFrom(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    pairs
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        round(coalesce(col("i"), lit(0L)) * lit(1.0) / col("na"), 4).as("cont_a"),
        round(coalesce(col("i"), lit(0L)) * lit(1.0) / col("nb"), 4).as("cont_b"))
  }

  /** Incremental containment — [[dedupByContainment]]'s direction for
    * the ADMISSION path: arriving documents' LSH candidates against the
    * persisted corpus index ([[lshProbe]]), scored with exact
    * containment so the admission loop can drop a quote/re-post of an
    * EXISTING corpus document at arrival time (cont_new ≥ tau on the
    * arriving side), the case the resemblance-only probe admits.
    * Returns (corpus_id, new_id, cont_corpus, cont_new); zero-overlap
    * band collisions keep their row (LEFT join), the [[containment]]
    * totality rule.
    *
    * Scale shape: candidate-driven like the batch twin — |pairs| ×
    * shingles-per-doc, never O(df²). The one corpus-sized input is
    * `corpusShingles` (the session-shared [[shingles]] frame, or at
    * cluster scale the persisted shingle table bucketed by doc_id so
    * the per-pair intersection join reads it shuffle-free — the same
    * layout discipline as the band index). Per-batch cost ∝ batch
    * candidates; callable inside foreachBatch exactly like
    * [[graft.streaming.StreamingSemDedup.admitBatch]]. */
  def containmentProbe(
      corpusShingles: DataFrame,
      index: DataFrame,
      newDocs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    val pairs = lshProbe(index, newDocs, numHashes, rowsPerBand)
    val newSh = shingles(newDocs, share = false)
    val szCorpus = corpusShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val szNew = newSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(newSh.select(col("doc_id").as("new_id"), col("s")), Seq("new_id"))
      .join(corpusShingles.select(col("doc_id").as("corpus_id"), col("s")),
        Seq("corpus_id", "s"))
      .groupBy("corpus_id", "new_id").agg(count(lit(1)).as("i"))
    pairs
      .join(szCorpus.select(col("doc_id").as("corpus_id"), col("n").as("nc")),
        "corpus_id")
      .join(szNew.select(col("doc_id").as("new_id"), col("n").as("nn")),
        "new_id")
      .join(inter, Seq("corpus_id", "new_id"), "left")
      .select(col("corpus_id"), col("new_id"),
        round(coalesce(col("i"), lit(0L)) * lit(1.0) / col("nc"), 4)
          .as("cont_corpus"),
        round(coalesce(col("i"), lit(0L)) * lit(1.0) / col("nn"), 4)
          .as("cont_new"))
  }

  /** The survivor policy [[containment]]'s direction exists for: drop
    * the CONTAINED document — the quote, the re-post, the
    * boilerplate-wrapped subset — keeping its container. A pair (a, b)
    * with cont_a ≥ `tau` (≥ tau of a's shingles sit inside b) drops a;
    * cont_b ≥ tau drops b; MUTUAL containment (both ≥ tau — near-equal
    * content) falls back to the usual smaller-id rule and drops b. This
    * is what resemblance-threshold dedup provably misses: a short doc
    * quoted whole inside a long one scores LOW Jaccard (the union is
    * the long doc) but cont = 1.0 on the short side — Round9OpsSpec
    * pins exactly that fixture through ngramJaccard (survives) and this
    * policy (dropped).
    *
    * Greedy single-pass like [[Similarity.semDedup]]: a dropped
    * container still drops its containees (chains don't resurrect) —
    * deterministic and order-independent. Candidates come from the
    * banded LSH join, so detection inherits LSH recall: a containment
    * pair only surfaces if some band collides (certain for exact dups,
    * probabilistic at low resemblance — the standard sketch trade).
    *
    * Returns the full (doc_id, kept) assignment — every corpus row,
    * shingle-less singletons included (kept: nothing to contain), so
    * the corpus filter is one `kept` predicate and no row silently
    * vanishes (the [[keepCanonical]] totality contract).
    *
    * Scale shape: [[containment]]'s candidate-driven joins plus one
    * distinct fold of the dropped ids and one left anti-ish marker join
    * — no new shuffle class, never O(df²). */
  def dedupByContainment(documents: DataFrame, tau: Double = 0.97): DataFrame =
    markContained(documents, containment(documents), tau)

  /** Shared tail of [[dedupByContainment]] and the pipeline gate: mark
    * every doc against the dropped-id fold of a containment frame. */
  private[extensions] def containedIds(cont: DataFrame, tau: Double): DataFrame =
    cont.filter(col("cont_a") >= tau && col("cont_b") < tau)
      .select(col("a").as("doc_id"))
      .unionByName(
        cont.filter(col("cont_b") >= tau).select(col("b").as("doc_id")))
      .distinct()

  private def markContained(
      documents: DataFrame, cont: DataFrame, tau: Double): DataFrame =
    documents.select("doc_id")
      .join(containedIds(cont, tau).withColumn("d", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("d").isNull.as("kept"))

  /** Memoized connected-component labels over the MinHash near-dup
    * graph — the (id, comp) table that dedup observability and
    * splitting consume (q_dedup_cc, q_cc_sizes, [[leakageSafeSplit]]).
    * [[ConnectedComponents.label]] iterates localCheckpoint'ed jobs to
    * a fixpoint, so each caller would otherwise pay the whole iteration
    * chain again; the memo keeps ONE labeled table per input plan —
    * at cluster scale, the persisted component table a dedup pipeline
    * maintains between stages (the same discipline as the shingle /
    * signature frames). */
  def ccLabels(documents: DataFrame): DataFrame =
    sharedFrame(documents, "cc_labels")(
      ConnectedComponents.label(documents.select("doc_id"),
        minHashLsh(documents)))

  /** SOFT dedup — down-WEIGHT near-duplicates instead of dropping them:
    * every document gets sampling weight 1/|its near-dup component|, so
    * each duplicate cluster contributes ONE document's worth of mass in
    * expectation while keeping all its variants available (the
    * repetition-control alternative to hard dedup that large-corpus
    * recipes use when duplicates carry signal — boilerplate variants,
    * quoting chains — and hard dropping would bias the distribution).
    * Output: (doc_id, comp, cluster_size, weight), weight
    * 6-decimal-rounded so downstream DECIMAL sums are
    * order-independent.
    *
    * Cost on top of [[ccLabels]] (session-shared): one comp-keyed count
    * and a join back — both on the (doc_id, comp) metadata frame, never
    * the text. */
  def softDedupWeights(documents: DataFrame): DataFrame = {
    val labels = ccLabels(documents)
    val sz = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sz, "comp")
      .select(col("id").as("doc_id"), col("comp"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** The mixture-facing aggregate of [[softDedupWeights]]: per SOURCE,
    * raw document count vs dedup-adjusted effective mass (Σ 1/|comp|)
    * and their ratio — the number a mixture step feeds its sampling
    * rates so heavily-duplicated sources don't buy weight with copies.
    * Per-doc weights are DECIMAL-summed (order-independent).
    * Row order is not part of the result. */
  def softDedupMass(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"))
      .join(softDedupWeights(documents)
        .select(col("doc_id"),
          col("weight").cast("decimal(18,6)").as("w")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("eff"))
      .select(col("source"), col("n_docs"),
        round(col("eff").cast("double"), 4).as("eff_docs"),
        round(col("eff").cast("double") / col("n_docs"), 4)
          .as("dedup_ratio"))

  /** Leakage-safe fold assignment: every near-dup CONNECTED COMPONENT
    * lands wholly in one of `nFolds` folds, so a train/eval split drawn
    * from folds can never put a near-duplicate of a training document
    * into eval — the group-split discipline an eval-integrity pipeline
    * needs ON TOP of n-gram decontamination (decontaminate catches
    * verbatim leakage against a KNOWN benchmark; this prevents
    * self-inflicted leakage between the corpus' own splits). Fold =
    * deterministic md5 bucket of the component representative
    * ([[ConnectedComponents.label]]'s min-id ∘ [[minHashLsh]]), so
    * re-runs are fold-stable and a document later joining an existing
    * component inherits that component's fold. Cost: the CC labeling
    * (bounded large-star/small-star iterations) plus one narrow bucket
    * projection — no new shuffle class. */
  def leakageSafeSplit(documents: DataFrame, nFolds: Int = 10): DataFrame = {
    require(nFolds >= 2, s"nFolds must be >= 2, got $nFolds")
    val comps = ccLabels(documents)
    comps.select(col("id").as("doc_id"), col("comp"),
      pmod(
        conv(substring(md5(col("comp").cast("string").cast("binary")), 1, 4),
          16, 10).cast("long"),
        lit(nFolds)).as("fold"))
  }

  /** The train/eval artifact a data pipeline actually ships —
    * [[leakageSafeSplit]]'s folds composed with the mixture sampler's
    * per-source admission ([[TextAnalysis.mixtureAdmitted]]):
    *
    *   - folds ≥ `evalFoldMin` → `eval` — mixture-EXEMPT, because eval
    *     wants the raw distribution (downsampling eval to the training
    *     mix would bias every per-source metric toward the mix);
    *   - folds below it, mixture-admitted → `train`;
    *   - folds below it, not admitted → `dropped` (over-represented
    *     source mass the α-tempered mix rejects).
    *
    * Leak-safety survives the composition: assignment to eval depends
    * only on the fold, folds are per near-dup COMPONENT, so a
    * near-duplicate of any training (or dropped) document can never
    * land in eval — pinned as a corpus-wide property in Round9OpsSpec
    * on top of the fixture case. Total over the corpus (every doc gets
    * exactly one assignment), deterministic in both engines
    * (q_split_assign).
    *
    * Scale shape: the CC labeling plus one broadcast-rate narrow pass
    * and one left join on doc_id — no new shuffle class. */
  def trainEvalSplit(
      documents: DataFrame,
      nFolds: Int = 10,
      evalFoldMin: Int = 8,
      alpha: Double = 0.5,
      buckets: Int = 100): DataFrame = {
    require(evalFoldMin >= 1 && evalFoldMin < nFolds,
      s"evalFoldMin must split $nFolds folds non-trivially, got $evalFoldMin")
    val folds = leakageSafeSplit(documents, nFolds)
    val admitted = TextAnalysis.mixtureAdmitted(documents, alpha, buckets)
      .select(col("doc_id"), lit(1).as("adm"))
    folds
      .join(documents.select("doc_id", "source"), "doc_id")
      .join(admitted, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("fold"),
        when(col("fold") >= evalFoldMin, "eval")
          .when(col("adm").isNotNull, "train")
          .otherwise("dropped").as("assignment"))
  }

  /** Shared intermediate frames: the dedup family (minhash, simhash,
    * ngram-Jaccard, connected components) recomputes the same
    * deterministic frames — the distinct-shingle frame, the MinHash
    * candidate pairs, the SimHash fingerprints — and each recompute costs
    * a scan + a SHUFFLE. Deterministic intermediates are therefore
    * memoized per (session, canonicalized input plan, params) in the
    * [[Memo]] family `dedup` (rebuilt when the input's files change) and
    * localCheckpoint'ed, so the second consumer reads materialized
    * partitions instead of re-shuffling; at cluster scale the same role
    * is played by persisting the frame to storage between pipeline
    * stages. Set `spark.graft.dedup.shareFrames=false` (or pass
    * `share = false`) for one-shot pipelines where checkpointing a
    * never-reused frame is pure overhead. */
  private def shareEnabled(spark: SparkSession, share: Boolean): Boolean =
    share && spark.conf.getOption("spark.graft.dedup.shareFrames")
      .forall(_.toBoolean)

  private def memoized(input: DataFrame, key: Any)(build: => DataFrame): DataFrame =
    Memo.of(input, Memo.DedupFrames, key)(build.localCheckpoint())

  /** Package hook into the shared-frame memo for sibling modules
    * ([[Winnowing]], the query registry's q_json_nested input build):
    * same keying, same localCheckpoint stage boundary and
    * `spark.graft.dedup.shareFrames` opt-out. */
  private[graft] def sharedFrame(
      df: DataFrame, tag: String, params: Any*)(
      build: => DataFrame): DataFrame =
    if (!shareEnabled(df.sparkSession, share = true)) build
    else memoized(df, (tag, params.toList))(build)

  /** Word-3-gram shingles per doc (distinct), memoized per input plan
    * (see [[sharedFrame]]). The token array is materialized once per row
    * before the positional transform (the repeated-`split` form defeats
    * common-subexpression elimination inside lambda scopes). */
  def shingles(documents: DataFrame, n: Int = 3, share: Boolean = true): DataFrame = {
    if (!shareEnabled(documents.sparkSession, share)) computeShingles(documents, n)
    else memoized(documents, ("shingles", n))(computeShingles(documents, n))
  }

  // r20 (optimization round, guide §2.4): the per-doc dedup is
  // `array_distinct` INSIDE the row, not a post-explode `.distinct()` —
  // (doc_id, s) rows from different docs can never collide, so the old
  // distinct's full exchange+aggregate over the exploded shingle set
  // (the corpus × ~|doc| rows) bought nothing that a per-row O(|doc|)
  // hash set doesn't. Identical output rows; one whole shuffle gone
  // from every shingle consumer (plan diff in plans/r20/).
  private def computeShingles(documents: DataFrame, n: Int): DataFrame =
    documents.select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"),
        explode(expr(
          s"""CASE WHEN size(arr) >= $n
              THEN array_distinct(transform(sequence(1, size(arr) - ${n - 1}),
                             i -> concat_ws(' ', slice(arr, i, $n))))
              ELSE array() END""")).as("s"))

  /** N-gram Jaccard near-dup pairs via an inverted shingle index: candidate
    * pairs must share a shingle (equi-join on the shingle — no cross
    * product), then |∩| / |∪| is computed from group counts. */
  def ngramJaccard(
      documents: DataFrame,
      threshold: Double = 0.3,
      maxDf: Option[Int] = None,
      dropUniqueShingles: Boolean = false,
      encodeShingles: Boolean = false): DataFrame = {
    // encodeShingles (dictionary-encoding lever): hash each shingle string
    // to an 8-byte long before everything downstream — the self-join
    // shuffles fixed-width longs instead of ~20-byte strings and compares
    // integers instead of text. Results are identical unless two DISTINCT
    // shingles of the same doc pair collide in 64 bits (P ≈ m²/2⁶⁴ per
    // pair — negligible, but it makes "exact" probabilistic, so the lever
    // defaults OFF and the oracle'd queries stay on strings; parity is
    // spec-pinned on real data in DedupScaleSpec). Measured warm at sf0.1
    // (NgramEncodeBench, 32 threads): 1.43–1.66 s encoded vs 1.55–1.77 s
    // strings (~8%); the win scales with shuffle volume — fixed 8-byte
    // keys vs ~20-byte strings through every exchange and sort.
    val shRaw = shingles(documents)
    val sh =
      if (encodeShingles) shRaw.select(col("doc_id"), xxhash64(col("s")).as("s"))
      else shRaw
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Hot-shingle cap (the 100 TB lever): a shingle occurring in n docs
    // emits n² candidate pairs out of the self-join, so one stop-phrase
    // shared by 1M docs is 10¹² pairs — THE scale-killer of inverted-index
    // near-dup mining. maxDf drops shingles with df > maxDf from the
    // CANDIDATE join only; |∩|/|∪| math keeps the per-doc totals, so a
    // pair is still scored on its full shingle sets and only pairs whose
    // ONLY shared shingles are stop-shingles can be missed (standard
    // df-capping semantics). None = exact (the oracle'd default at
    // sf ≤ 0.1, where no shingle is hot enough to matter).
    //
    // dropUniqueShingles is the inverse, RESULT-PRESERVING lever: a df=1
    // shingle cannot produce a candidate pair (pairing needs two docs),
    // so pruning the unique tail shrinks the self-join input for free —
    // worthwhile once that tail dominates (measured slower at sf ≤ 0.1;
    // see [[ngramJaccardAtScale]] for the gated variant). Both levers
    // share ONE window pass over the shingle frame: df per shingle via a
    // count window partitioned by s, which sorts/partitions exactly the
    // way the candidate self-join wants anyway — no extra join against a
    // (potentially huge) bad-shingle set.
    val candidates =
      if (maxDf.isEmpty && !dropUniqueShingles) sh
      else {
        val byS = org.apache.spark.sql.expressions.Window.partitionBy("s")
        val keep = maxDf.map(cap => col("df") <= cap).getOrElse(lit(true)) &&
          (if (dropUniqueShingles) col("df") >= 2 else lit(true))
        sh.withColumn("df", count(lit(1)).over(byS))
          .filter(keep).select("doc_id", "s")
      }
    val inter = candidates.alias("a")
      .join(candidates.alias("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("jac", col("i") * 1.0 / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jac"))
  }

  /** Scale-gated [[ngramJaccard]]: enables the result-preserving df=1
    * prune once the corpus exceeds `docCountThreshold` documents — the
    * regime (≳ 50k docs ≈ sf1 of the harness corpus) where the
    * unique-shingle tail dominates the inverted index; below it the
    * extra window pass costs more than the rows it removes. One cheap
    * count job decides. */
  def ngramJaccardAtScale(
      documents: DataFrame,
      threshold: Double = 0.3,
      maxDf: Option[Int] = None,
      docCountThreshold: Long = 50000L): DataFrame =
    ngramJaccard(documents, threshold, maxDf,
      dropUniqueShingles = documents.count() > docCountThreshold)
}
