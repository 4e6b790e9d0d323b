package graft.extensions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-9 survivor policies: containment-driven dedup (the asymmetric
  * case resemblance thresholds walk past) and its CorpusPipeline gate. */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  // A 20-word doc quoted WHOLE inside a 65-word one. The tail (seed
  // 1183, found by deterministic md5 search) keeps LSH band 1's four
  // signature mins unchanged, so the pair IS a banded candidate, while
  // Jaccard = 18/63 = 0.2857 stays under ngramJaccard's 0.3 default —
  // the exact "survives resemblance, dies to containment" window.
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val quoteTail = (0 until 45).map(i => s"q1183w$i").mkString(" ")
  private lazy val quotedDocs = Seq(
    (1L, base), // the quote: every shingle inside doc 2 -> cont_a = 1.0
    (2L, base + " " + quoteTail), // the container
    (3L, "one two three four five six")).toDF("doc_id", "text")

  test("a short doc quoted whole in a long one survives ngramJaccard but is dropped by containment") {
    val jacPairs = Dedup.ngramJaccard(quotedDocs) // threshold 0.3
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jacPairs.contains((1L, 2L)),
      s"fixture broken: resemblance dedup must MISS the quote pair, got $jacPairs")
    val cont = Dedup.containment(quotedDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(cont.get((1L, 2L)).exists(_._1 == 1.0),
      s"fixture broken: pair must surface as an LSH candidate with cont_a=1, got $cont")
    val kept = Dedup.dedupByContainment(quotedDocs, tau = 0.97).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(kept == Map(1L -> false, 2L -> true, 3L -> true),
      s"the CONTAINED side (the quote) must drop, container and bystander survive: $kept")
  }

  test("mutual containment falls back to the smaller-id rule; assignment is total") {
    val docs = Seq(
      (1L, base), (2L, base), // exact dups: cont 1.0 both ways -> drop b
      (3L, "x y"), // too short to shingle: singleton, always kept
      (4L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val kept = Dedup.dedupByContainment(docs, tau = 0.97).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true), kept)
  }

  test("trainEvalSplit: total assignment; a near-dup pair never straddles the eval boundary") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "web", 35L),
      (2L, "alpha beta gamma delta epsilon zeta", "web", 35L), // exact dup of 1
      (3L, "one two three four five six", "web", 27L),
      (4L, "seven eight nine ten eleven twelve", "books", 34L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Dedup.trainEvalSplit(docs, nFolds = 5, evalFoldMin = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 4, "every corpus row gets exactly one assignment")
    assert(out.values.forall { case (_, a) =>
      Set("train", "eval", "dropped")(a) })
    val (f1, a1) = out(1L); val (f2, a2) = out(2L)
    assert(f1 == f2, "dup pair shares its component's fold")
    assert((a1 == "eval") == (a2 == "eval"),
      s"near-dups are both eval or both non-eval, got $a1/$a2")
  }

  test("trainEvalSplit on the harness corpus: NO near-dup candidate pair crosses train/eval") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val assign = Dedup.trainEvalSplit(docs)
      .select(col("doc_id"), (col("assignment") === "eval").as("is_eval"))
    val pairs = Dedup.minHashLsh(docs)
    val crossing = pairs
      .join(assign.select(col("doc_id").as("a"), col("is_eval").as("ea")), "a")
      .join(assign.select(col("doc_id").as("b"), col("is_eval").as("eb")), "b")
      .filter(col("ea") =!= col("eb"))
      .count()
    assert(crossing == 0L,
      "a near-duplicate of a non-eval doc leaked into eval")
    // and the artifact is total over the corpus
    assert(Dedup.trainEvalSplit(docs).count() == docs.count())
  }

  test("a rewritten corpus file is seen without eviction") {
    // a plan-equal re-read of a file rewritten in place must not serve
    // the component table memoized from the old files
    val dir = java.nio.file.Files.createTempDirectory("graft-ccmemo").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "unrelated text entirely here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    def labels() = Dedup.ccLabels(spark.read.parquet(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels().keySet == Set(1L, 2L))
    // corpus mutates under the same plan: doc 3 arrives as a dup of 1
    Seq((1L, "alpha beta gamma delta"), (2L, "unrelated text entirely here"),
      (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val after = labels()
    assert(after.keySet == Set(1L, 2L, 3L), "the rewritten corpus is labeled")
    assert(after(3L) == after(1L), "the arriving dup joins doc 1's component")
  }

  test("containmentProbe: an arriving quote of a corpus doc scores cont_new=1 at admission time") {
    // corpus holds the long container; the SHORT quote arrives later —
    // the resemblance-only probe surfaces it as a mere candidate, the
    // containment probe identifies WHICH side is the subset so the
    // admission loop can drop the arrival
    val corpus = Seq(
      (1L, base + " " + quoteTail), // the container (65 words)
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val corpusSh = Dedup.shingles(corpus, share = false).localCheckpoint()
    val index = Dedup.bandBuckets(corpusSh, share = false).localCheckpoint()
    val arriving = Seq((101L, base)).toDF("doc_id", "text") // the quote
    val got = Dedup.containmentProbe(corpusSh, index, arriving).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.contains((1L, 101L)), s"the quote pair must surface: $got")
    val (contCorpus, contNew) = got((1L, 101L))
    assert(contNew == 1.0, "every shingle of the arriving quote is in the corpus doc")
    assert(contCorpus < 0.3, "the container is NOT inside the quote")
    // parity with the batch twin: same pair, same numbers, from
    // containment() over the merged corpus
    val merged = corpus.unionByName(arriving)
    val batch = Dedup.containment(merged).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(batch.get((1L, 101L)).contains((contCorpus, contNew)),
      s"probe must equal the batch containment direction: $batch")
  }

  test("CorpusPipeline containment gate reverses the drop direction: the quote goes, its container survives") {
    // thresholds wide open so the quality/repetition/decontam gates pass
    // everything and only the dedup tail differs
    val t = CorpusPipeline.Thresholds(minTokens = 1, maxTokens = 1000,
      maxStopRatio = 1.0)
    val bench = Seq((100L, "totally unrelated benchmark words here"))
      .toDF("doc_id", "text")
    def ids(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.select("doc_id").as[Long].collect().toSet
    val docs = quotedDocs.withColumn("n_chars", length(col("text")))
    val ungated = ids(CorpusPipeline.cleanFull(docs, bench, t,
      maxDupBigram = 1.0))
    val gated = ids(CorpusPipeline.cleanFull(docs, bench, t,
      maxDupBigram = 1.0, containmentTau = Some(0.97)))
    assert(ungated == Set(1L, 3L),
      s"the blind drop-b rule keeps the FRAGMENT and kills its container: $ungated")
    assert(gated == Set(2L, 3L),
      s"the containment gate drops the contained doc and keeps the container: $gated")
  }
}
