package graft.extensions

import graft.SparkSpec

/** The hot-key scale levers: xxhash64 MinHash fast path, ngram-Jaccard
  * df cap, co-occurrence per-doc token cap. Each lever defaults OFF so
  * the oracle'd queries stay exact; these tests pin what turning one ON
  * does (and does not) change. */
class DedupScaleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (3L, "completely different text about spark query planning today"),
    (4L, "another unrelated document that shares no shingles at all"))
    .toDF("doc_id", "text")

  test("fastHash minhash finds the identical pair, like the md5 family") {
    val md5Pairs = Dedup.minHashLsh(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val xxPairs = Dedup.minHashLsh(docs, fastHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs have identical shingle sets, hence identical
    // signatures under ANY hash family — the pair must appear in both
    assert(md5Pairs.contains((1L, 2L)))
    assert(xxPairs.contains((1L, 2L)))
    // and nothing unrelated collides on this fixture
    assert(xxPairs == Set((1L, 2L)))
  }

  test("ngram maxDf: non-binding cap is result-preserving") {
    val exact = Dedup.ngramJaccard(docs, 0.3).collect().toSet
    val capped = Dedup.ngramJaccard(docs, 0.3, maxDf = Some(100)).collect().toSet
    assert(capped == exact)
    assert(exact.map(r => (r.getLong(0), r.getLong(1))) == Set((1L, 2L)))
  }

  test("ngram maxDf: binding cap drops pairs held together only by hot shingles") {
    // 10 docs all share one hot prefix phrase; only 1/2 are real near-dups
    val hot = (1L to 10L).map(i =>
      (i, s"common shared prefix phrase here unique$i tail$i word$i end$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(hot, 0.05)
    // every pair shares the 3 prefix shingles -> 45 candidate pairs
    assert(uncapped.count() == 45)
    // cap df at 5: the prefix shingles (df=10) leave the join; no pair
    // shares any remaining shingle, so no candidates survive
    assert(Dedup.ngramJaccard(hot, 0.05, maxDf = Some(5)).count() == 0)
  }

  test("ngram df levers compose: df=1 prune is result-preserving, with and without maxDf") {
    // corpus with all three shingle populations: unique tails (df=1),
    // mid-df near-dup shingles, and one hot phrase shared by everyone
    val mixed = (1L to 8L).map { i =>
      // docs 1-4 share a mid-df body; docs 5-8 have fully unique bodies,
      // so their ONLY shared shingles are the hot phrase ones (df=8)
      val near = if (i <= 4) "shared near duplicate body" else s"alpha$i beta$i gamma$i delta$i"
      (i, s"hot common phrase here $near unique$i tail$i")
    }.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Dedup.ngramJaccard(mixed, 0.05))
    // lever 1 alone: df=1 shingles cannot pair, so pruning them changes nothing
    assert(pairs(Dedup.ngramJaccard(mixed, 0.05, dropUniqueShingles = true)) == exact)
    // both levers together: drop the unique tail AND the hot phrase; the
    // mid-df near-dup shingles still pair docs 1-4, scored on FULL sets
    val both = pairs(Dedup.ngramJaccard(mixed, 0.05,
      maxDf = Some(5), dropUniqueShingles = true))
    assert(both == pairs(Dedup.ngramJaccard(mixed, 0.05, maxDf = Some(5))))
    assert(both.map(p => (p._1, p._2)) ==
      (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet)
    // the scale gate: threshold above the corpus size -> plain exact path;
    // threshold 0 -> pruned path; identical results either way
    assert(pairs(Dedup.ngramJaccardAtScale(mixed, 0.05, docCountThreshold = 0L)) == exact)
    assert(pairs(Dedup.ngramJaccardAtScale(mixed, 0.05)) == exact)
  }

  test("cooccurrence cap: non-binding cap is exact, binding cap bounds pairs") {
    val exact = TextAnalysis.cooccurrence(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val nonBinding = TextAnalysis.cooccurrence(docs, Some(100)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(nonBinding == exact)
    // one 6-distinct-token doc, capped at 3 tokens -> exactly 3 pairs
    val one = Seq((1L, "f e d c b a")).toDF("doc_id", "text")
    assert(TextAnalysis.cooccurrence(one).count() == 15)
    assert(TextAnalysis.cooccurrence(one, Some(3)).count() == 3)
  }

  test("cooccurrence pair strategies agree (join default; hof kept)") {
    // decision record (CooccurStrategyBench / CooccurSkewBench, 32 threads,
    // warm): sf0.1 join 1.0s vs hof 1.35s; 3k-distinct-token doc 6.3s vs
    // 17s; 8k-token doc 38s vs 107s — join wins every regime, so it is
    // the default and hof survives only behind this parity pin
    val mixed = Seq(
      (1L, "a b c d"), (2L, "b c a"), (3L, "x y"), (4L, "a a b")
    ).toDF("doc_id", "text")
    def pairs(s: String) = TextAnalysis.cooccurrence(mixed, pairStrategy = s)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val viaJoin = pairs("join")
    assert(viaJoin == pairs("hof"))
    assert(viaJoin(("a", "b", 3L))) // a,b co-occur in docs 1,2,4
  }

  test("encodeShingles: dictionary-encoded join is result-identical on real data") {
    val sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(encode: Boolean) =
      Dedup.ngramJaccard(sf, 0.3, encodeShingles = encode)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaStrings = pairs(encode = false)
    assert(pairs(encode = true) == viaStrings)
    assert(viaStrings.nonEmpty) // non-vacuous: sf0.001 has near-dup pairs
    // and composed with the other levers on the crafted fixture
    val hot = (1L to 10L).map(i =>
      (i, s"common shared prefix phrase here unique$i tail$i word$i end$i"))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccard(hot, 0.05, maxDf = Some(5),
      dropUniqueShingles = true, encodeShingles = true).count() == 0)
    assert(Dedup.ngramJaccard(hot, 0.05, encodeShingles = true).count() == 45)
  }

  test("shingle sharing: same input plan reuses one frame; opt-out matches") {
    val in = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    val in2 = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    // two logically-identical frames (distinct instances, distinct exprIds;
    // canonicalization equates them) memoize to the SAME checkpointed frame
    val s1 = Dedup.shingles(in)
    val s2 = Dedup.shingles(in2)
    assert(s1 eq s2)
    val shared = s1.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    spark.conf.set("spark.graft.dedup.shareFrames", "false")
    try {
      val direct = Dedup.shingles(in)
      assert(!(direct eq s1))
      val plain = direct.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(plain == shared)
      assert(plain == Set(
        (1L, "a b c"), (1L, "b c d"), (2L, "b c d"), (2L, "c d e")))
    } finally spark.conf.unset("spark.graft.dedup.shareFrames")
    // per-call opt-out recomputes too
    assert(!(Dedup.shingles(in, share = false) eq s1))
    graft.Memo.evict(spark, graft.Memo.DedupFrames)
    assert(!(Dedup.shingles(in) eq s1)) // evicted -> fresh frame
    graft.Memo.evict(spark, graft.Memo.DedupFrames)
  }
}
