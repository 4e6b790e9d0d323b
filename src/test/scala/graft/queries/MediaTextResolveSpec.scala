package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins q_media_text_resolve's headline semantic: transitive closure
  * SPANS channels — a text-ONLY pair (1,2) chained to a media-ONLY
  * pair (2,3) collapses {1,2,3} into ONE cluster with the
  * component-min survivor, the cross-channel shape neither
  * single-channel dedup row exhibits. Runs the REGISTRY rows
  * themselves against a crafted 4-doc lake, so the pin covers the
  * exact fingerprint conventions the oracle reproduces (SimHash over
  * 3-gram shingles for text; lowercased first-3-token template hash
  * xor a per-doc bit for media).
  *
  * Fixture geometry (DuckDB-validated against the oracle before
  * landing): d1/d2 differ in ONE leading token over a ~115-shingle
  * shared body — the lone differing 3-gram leaves every SimHash bit
  * margin intact (hamming 0) while the first-3-token template differs,
  * so the pair is text-only; d2/d3 share the template over disjoint
  * bodies — media-only (xor-bit hamming 2). A short shared body does
  * NOT work: with ~30 shingles the margins are thin and one token
  * flips >3 bits, which is why the corpus analogue of a text-only pair
  * is a long near-verbatim document, not a short caption. */
class MediaTextResolveSpec extends SparkSpec {
  import spark.implicits._

  test("a text-only pair chained to a media-only pair is ONE cluster; min-id survives") {
    val body = "we are hiring a senior spark engineer to own the " +
      "lakehouse ingestion stack and its streaming merge pipeline with " +
      "strong scala and catalyst experience preferred the role covers " +
      "snapshot feeds dimensional merges and the term analytics surface " +
      "serving weekly labor market reports across every region we track " +
      "plus the quality gates deduplication passes and contamination " +
      "checks that keep the training corpus clean at scale candidates " +
      "should enjoy reading physical plans tuning shuffle boundaries " +
      "and writing oracle checked pipelines under continuous benchmarks"
    val docs = Seq(
      (1L, s"alpha beta gamma $body"),
      (2L, s"delta beta gamma $body"),
      (3L, "delta beta gamma an entirely different posting about " +
        "embedded firmware qualification rigs and oscilloscope triage " +
        "workflows for the hardware bring-up lab team in another town " +
        "covering jtag bring-up scripts power rail sequencing checks " +
        "thermal soak plans and the vendor escalation rota for failed " +
        "lots during the ramp"),
      (4L, "nothing here resembles anything else at all in any way " +
        "sourdough hydration ratios and long cold fermentation notes " +
        "for the weekend baking club newsletter volume seventeen with " +
        "starter feeding schedules oven spring experiments and crumb " +
        "shots")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("unit").as("source"), length(col("text")).as("n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft-jres").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // attribution first: exactly one text-ONLY and one media-ONLY edge
    val pairs = Registry.queries("q_media_text_dedup")(spark, dir)
      .select("a", "b", "channel").as[(Long, Long, String)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(pairs == Map((1L, 2L) -> "text", (2L, 3L) -> "media"), pairs.toString)

    val got = Registry.queries("q_media_text_resolve")(spark, dir)
      .as[(Long, Long, Boolean)].collect().toSeq
      .sortBy(_._1) // registry queries do not presentation-sort
    assert(got == Seq(
      (1L, 1L, true),  // survivor of the chained {1,2,3} cluster
      (2L, 1L, false), // in via the text edge
      (3L, 1L, false), // in via the media edge ONLY — cross-channel chain
      (4L, 4L, true)), // singleton survives itself
      got.toString)
  }
}
