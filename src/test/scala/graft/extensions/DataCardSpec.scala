package graft.extensions

import graft.SparkSpec

/** Hand-computed fixture for the corpus data card ([[DataCard]]):
  * every metric checked against arithmetic done on paper. */
class DataCardSpec extends SparkSpec {
  import spark.implicits._

  // tokens: d1=4 (1 stop 'the'), d2=4 (same text: exact dup, 1 stop),
  // d3=2 ('a a': 2 stops), d4=0 (empty) → total 10 tokens, 4 stops
  private lazy val docs = Seq(
    (1L, "the cat sat down", "en", "web", 16L),
    (2L, "the cat sat down", "en", "web", 16L),
    (3L, "a a", "de", "books", 3L),
    (4L, "", "de", "books", 0L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("every card metric matches the hand computation") {
    val card = DataCard.build(docs)
      .as[(String, Double)].collect().toMap
    val expected = Map(
      "n_docs" -> 4.0,
      "n_sources" -> 2.0,
      "n_langs" -> 2.0,
      "total_tokens" -> 10.0,
      "total_chars" -> 35.0,
      "empty_docs" -> 1.0,
      "exact_dup_docs" -> 1.0, // d1/d2 share a text key; '' is distinct
      "distinct_tokens" -> 5.0, // the cat sat down a
      "distinct_token_est" -> 5.0, // < k ⇒ exact mode
      "mean_doc_tokens" -> 2.5,
      "stop_ratio" -> 0.4,
      "top_token_share" -> 0.2, // 'a'/'the' tie at 2 → either way 2/10
      "max_source_share" -> 0.5)
    expected.foreach { case (m, v) =>
      assert(card(m) == v, s"$m: ${card(m)} != $v")
    }
    assert(card.keySet == expected.keySet)
  }

  test("a zero divisor renders the ratio NULL in build and renderMerged") {
    // all-blank texts: total_tokens = 0, so the ratios over it have a
    // zero divisor while those over n_docs do not; the empty corpus
    // zeroes n_docs too. ANSI division would throw DIVIDE_BY_ZERO.
    val blank = Seq(
      (1L, "", "en", "web", 0L),
      (2L, "   ", "en", "web", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val ratioRows = Set("mean_doc_tokens", "stop_ratio",
      "top_token_share", "max_source_share")
    def ratios(card: org.apache.spark.sql.DataFrame) =
      card.as[(String, Option[Double])].collect().toMap
        .filter { case (m, _) => ratioRows(m) }
    val cases = Seq(
      "blank" -> (blank, Map[String, Option[Double]](
        "mean_doc_tokens" -> Some(0.0), "stop_ratio" -> None,
        "top_token_share" -> None, "max_source_share" -> Some(1.0))),
      "empty" -> (blank.limit(0), ratioRows.map(_ -> None).toMap))
    for ((label, (corpus, expected)) <- cases) {
      assert(ratios(DataCard.build(corpus)) == expected, s"$label build")
      // the merged render has no top_token_share row (not mergeable)
      assert(ratios(DataCard.renderMerged(DataCard.buildState(corpus))) ==
        expected - "top_token_share", s"$label renderMerged")
    }
  }

  test("mergeable states: merge ∘ buildState ≡ buildState ∘ union, bitwise, at any split") {
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    for (k <- Seq(16, 256)) { // estimator regime below AND at k
      val whole = DataCard.buildState(corpus, k)
      // an uneven 3-way split merged pairwise (associativity in action)
      val parts = Seq(
        corpus.filter(col("doc_id") % 5 === 0),
        corpus.filter(col("doc_id") % 5 === 1),
        corpus.filter(col("doc_id") % 5 >= 2))
      val merged = parts.map(DataCard.buildState(_, k))
        .reduce(DataCard.mergeStates(_, _, k))
      assert(rows(merged) == rows(whole), s"k=$k state drift")
      // and the rendered cards agree too (the law carries to the report)
      assert(rows(DataCard.renderMerged(merged, k)) ==
        rows(DataCard.renderMerged(whole, k)), s"k=$k render drift")
    }
  }

  test("renderMerged agrees with build on every shared metric") {
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val full = DataCard.build(corpus)
      .as[(String, Double)].collect().toMap
    val merged = DataCard.renderMerged(DataCard.buildState(corpus))
      .as[(String, Double)].collect().toMap
    for (m <- Seq("n_docs", "n_sources", "n_langs", "total_tokens",
        "total_chars", "empty_docs", "mean_doc_tokens", "stop_ratio",
        "max_source_share"))
      assert(merged(m) == full(m), s"$m: ${merged(m)} != ${full(m)}")
    // the estimates stand next to their exact twins within KMV error
    // (k=256 ⇒ σ ≈ 6%; 4σ bound keeps the assertion honest but stable)
    val exactTexts = full("n_docs") - full("exact_dup_docs") // distinct texts
    assert(math.abs(merged("distinct_text_est") - exactTexts)
      <= 0.25 * exactTexts + 1,
      s"text est ${merged("distinct_text_est")} vs $exactTexts")
    assert(math.abs(merged("distinct_token_est") - full("distinct_tokens"))
      <= 0.25 * full("distinct_tokens") + 1,
      s"token est ${merged("distinct_token_est")} vs ${full("distinct_tokens")}")
  }
}
