package graft.extensions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contracts for the round-10 gate operators: the quality [[Funnel]]
  * (first-fail attribution that reconciles exactly), typed [[Pii]]
  * scrubbing (class order, Luhn branching, count-on-input semantics),
  * and the df-capped [[Postings]] index (delta round-trip, cap
  * economics, probe ≡ scan). */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- Funnel

  private lazy val funnelDocs = Seq(
    // passes everything: en, 30 tokens, distinct, no stop words
    (1L, "en", (1 to 30).map(i => s"w$i").mkString(" ")),
    // fails lang (zh) AND min_tokens — must be attributed to lang only
    (2L, "zh", "x y"),
    // fails min_tokens only
    (3L, "en", "a1 b2 c3"),
    // fails max_tokens (91 tokens)
    (4L, "de", (1 to 91).map(i => s"w$i").mkString(" ")),
    // fails stop_ratio: 30 tokens, 10 are 'the' (ratio .33 > .12)
    (5L, "es",
      ((1 to 20).map(i => s"w$i") ++ Seq.fill(10)("the")).mkString(" ")),
    // fails distinct_ratio: 40 tokens, 4 distinct non-stop words
    (6L, "fr", (1 to 40).map(i => s"v${i % 4}").mkString(" ")),
    // NULL lang fails closed at stage 0
    (7L, null.asInstanceOf[String], (1 to 30).map(i => s"w$i").mkString(" ")))
    .toDF("doc_id", "lang", "text")

  test("funnel: first-fail attribution, fail-closed NULLs, exact reconciliation") {
    val rows = Funnel.funnel(funnelDocs).orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._2, t._3)).toSeq == Seq(
      "lang_allowed" -> 2L, // docs 2 (zh) and 7 (null lang)
      "min_tokens" -> 1L,   // doc 3 (doc 2 already attributed upstream)
      "max_tokens" -> 1L,   // doc 4
      "stop_ratio" -> 1L,   // doc 5
      "distinct_ratio" -> 1L, // doc 6
      "pass" -> 0L))
    // n_remaining is a prefix ladder: total minus cumulative drops,
    // and the pass row's remaining equals the survivor count
    assert(rows.map(_._4).toSeq == Seq(5L, 4L, 3L, 2L, 1L, 1L))
    val surv = Funnel.survivors(funnelDocs).collect()
    assert(surv.map(_.getLong(0)).toSeq == Seq(1L))
    // survivors keep original columns (semi join, not projection)
    assert(surv.head.schema.fieldNames.toSeq == Seq("doc_id", "lang", "text"))
  }

  test("funnel: every default rule engages on the sf0.001 corpus and reconciles") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val rows = Funnel.funnel(docs).orderBy("stage_idx").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val total = docs.count()
    val survivors = Funnel.survivors(docs).count()
    assert(rows.map(_._2).sum == total - survivors)
    assert(rows.last._3 == survivors)
    // thresholds were chosen so the funnel is a real cascade, not a
    // single cliff: every named rule drops at least one doc
    rows.dropRight(1).foreach { case (rule, dropped, _) =>
      assert(dropped > 0, s"rule $rule drops nothing — threshold dead")
    }
    assert(survivors > 0)
  }

  test("funnelFull: pipeline attribution reconciles with cleanFull's survivors") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val rows = CorpusPipeline.funnelFull(corpus, bench)
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("quality", "repetition",
      "contamination", "exact_dup", "near_dup", "pass"))
    val total = corpus.count()
    val survivors = CorpusPipeline.cleanFull(corpus, bench).count()
    // first-fail attribution: the drops sum exactly to total - survivors,
    // and the pass row's remaining IS the pipeline's survivor count
    assert(rows.map(_._2).sum == total - survivors)
    assert(rows.last._3 == survivors && rows.last._2 == 0L)
    // the ladder is a prefix sum: each n_remaining = prev - dropped
    rows.foldLeft(total) { case (prev, r) =>
      assert(r._3 == prev - r._2, s"stage ${r._1} ladder break"); r._3
    }
  }

  private def ladder(report: org.apache.spark.sql.DataFrame) =
    report.orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  private val fullStages = Seq("quality", "repetition", "contamination",
    "exact_dup", "near_dup", "pass")

  test("funnelFull: empty and one-row corpora give the six-row ladder") {
    val docs = postDocs
    val bench = Seq((0L, "held out words nobody else uses at all here"))
      .toDF("doc_id", "text")
    val good = (1 to 25).map(i => s"w$i").mkString(" ")
    // the ladder of `pass` survivors and `dropped` first-fail counts
    def expected(pass: Long, dropped: Map[String, Long] = Map.empty) = {
      val total = pass + dropped.values.sum
      val d = fullStages.map(s => if (s == "pass") 0L else dropped.getOrElse(s, 0L))
      fullStages.indices.map(i =>
        (i, fullStages(i), d(i), total - d.take(i + 1).sum))
    }
    // an empty lake (a parquet scan that returns no row) and an empty
    // local frame: every count reads 0, nothing blocks
    assert(ladder(CorpusPipeline.funnelFull(docs.filter($"doc_id" < 0), bench)) == expected(0))
    assert(ladder(CorpusPipeline.funnelFull(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), bench)) == expected(0))
    // one row that survives, and one row each stage drops
    def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")
    assert(ladder(CorpusPipeline.funnelFull(one(good), bench)) == expected(1))
    assert(ladder(CorpusPipeline.funnelFull(one("too short"), bench)) ==
      expected(0, Map("quality" -> 1L)))
    // 24 tokens, 21 of 23 bigrams repeat
    assert(ladder(CorpusPipeline.funnelFull(one(Seq.fill(12)("p q").mkString(" ")),
      bench)) == expected(0, Map("repetition" -> 1L)))
    assert(ladder(CorpusPipeline.funnelFull(one(good),
      Seq((0L, "w3 w4 w5 w6 w7")).toDF("doc_id", "text"))) ==
      expected(0, Map("contamination" -> 1L)))
    // a lake whose every doc fails the first gate: nothing downstream
    // of the gate runs on a row, and the gate's count is still read
    val n = docs.count()
    assert(ladder(CorpusPipeline.funnelFull(docs, bench,
      CorpusPipeline.Thresholds(minTokens = 1000, maxTokens = 2000))) ==
      expected(0, Map("quality" -> n)))
  }

  test("funnelFull: the pass row is the survivor count of the same run") {
    val docs = postDocs
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val memo = graft.Memo.size(spark, graft.Memo.DedupFrames)
    val (frame, report) = CorpusPipeline.fullRun(corpus, bench,
      CorpusPipeline.Thresholds(), 0.2, 5, None)
    // the job that collects the survivors is the job whose counts the
    // report reads
    val survivors = frame.collect()
    // a run's frames are unique to it: none is kept in the session memo
    assert(graft.Memo.size(spark, graft.Memo.DedupFrames) == memo)
    val rows = ladder(report(frame))
    assert(rows.map(_._2) == fullStages)
    assert(rows.last._4 == survivors.length && rows.last._3 == 0L)
    assert(rows.map(_._3).sum == corpus.count() - survivors.length)
    // two cleanFull frames in one plan: each run's observations are
    // named apart, so the union analyzes
    val twice = CorpusPipeline.cleanFull(corpus, bench)
      .union(CorpusPipeline.cleanFull(corpus, bench))
    assert(twice.count() == 2L * survivors.length)
  }

  test("clean/cleanFull: NULL-text, zero-token and NULL-id rows keep the survivors") {
    val good = (1 to 25).map(i => s"w$i").mkString(" ")
    val other = (1 to 25).map(i => s"v$i").mkString(" ")
    val corpus = Seq[(java.lang.Long, String)](
      (1L, good),
      (2L, null),   // NULL text: no token, fails quality
      (3L, ""),     // zero tokens
      (4L, "    "), // zero word tokens, four empty split tokens
      (5L, good),   // exact duplicate of doc 1
      (null, other), // passes every gate, dropped by the keeper join
      (7L, other))
      .toDF("doc_id", "text")
    val bench = Seq((0L, "held out words nobody else uses at all here"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    assert(ids(CorpusPipeline.clean(corpus)) == Set(1L, 7L))
    assert(ids(CorpusPipeline.cleanFull(corpus, bench)) == Set(1L, 7L))
  }

  test("data card with funnel: the drop table reconciles inside the card") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val card = DataCard.buildWithFunnel(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val drops = card.collect {
      case (m, v) if m.startsWith("funnel_") && m.endsWith("_dropped") => v
    }.sum
    assert(drops + card("funnel_survivors") == card("n_docs"))
    // every default rule shipped a row
    assert(card.keys.count(_.startsWith("funnel_")) ==
      Funnel.defaultRules.size + 1)
  }

  // ------------------------------------------------------------------- Pii

  test("pii: class order, Luhn branch, placeholder isolation on crafted text") {
    val docs = Seq(
      // one of each class; card 4532015112830366 is Luhn-valid
      (1L, "mail a@b.org then 4532015112830366 call 555-010-1234 ip 10.1.0.1 end", "s0"),
      // Luhn-INVALID card stays in the text but is counted
      (2L, "num 4532015112830367 stays", "s0"),
      // phone-shaped digits inside an email must be scrubbed as EMAIL,
      // never re-matched by the phone stage
      (3L, "write 555-010-1234@ex.org please", "s1"),
      (4L, null.asInstanceOf[String], "s1"))
      .toDF("doc_id", "text", "source")
    val out = Pii.scrub(docs).orderBy("doc_id").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    // (clean, n_email, n_card, n_card_invalid, n_phone, n_ipv4)
    assert(out(0) == (("mail <EMAIL> then <CARD> call <PHONE> ip <IP> end",
      1L, 1L, 0L, 1L, 1L)))
    assert(out(1) == (("num 4532015112830367 stays", 0L, 0L, 1L, 0L, 0L)))
    assert(out(2) == (("write <EMAIL> please", 1L, 0L, 0L, 0L, 0L)))
    assert(out(3) == (("", 0L, 0L, 0L, 0L, 0L)))
  }

  test("pii: valid-card redaction is boundary-anchored, never inside longer digit runs") {
    // the same Luhn-valid 16 digits appear standalone (a real card,
    // \b-matched → candidate) AND embedded inside a 20-digit id the \b
    // pattern never matched; the fold must redact only the standalone
    // occurrence — a plain substring replace corrupts the long id
    val docs = Seq(
      (1L, "card 4532015112830366 id 99453201511283036600 end", "s0"))
      .toDF("doc_id", "text", "source")
    val out = Pii.scrub(docs).collect().map(_.getString(2))
    assert(out(0) == "card <CARD> id 99453201511283036600 end", out(0))
    val viaCol = docs.select(Pii.cleanColumn(col("text"))).head().getString(0)
    assert(viaCol == out(0), s"cleanColumn diverged: $viaCol")
  }

  test("pii: report totals reconcile with per-doc scrub on the synth corpus") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", Pii.synthText)
    val rep = Pii.report(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val perDoc = Pii.scrub(docs).collect()
    val bySrc = perDoc.groupBy(_.getString(1))
    assert(rep.keySet == bySrc.keySet)
    bySrc.foreach { case (src, rows) =>
      val (nd, nh, ne, nc, nci, np, ni) = rep(src)
      assert(nd == rows.length)
      assert(nh == rows.count(r => r.getLong(3) + r.getLong(4) +
        r.getLong(6) + r.getLong(7) > 0))
      assert(ne == rows.map(_.getLong(3)).sum)
      assert(nc == rows.map(_.getLong(4)).sum)
      assert(nci == rows.map(_.getLong(5)).sum)
      assert(np == rows.map(_.getLong(6)).sum)
      assert(ni == rows.map(_.getLong(7)).sum)
      // synthText plants exactly one card per doc (valid XOR invalid)
      assert(nc + nci == nd)
    }
    // Luhn-valid on even ids only — both checksum branches engage
    // corpus-wide (a single source may hold one parity only)
    assert(rep.values.map(_._4).sum > 0 && rep.values.map(_._5).sum > 0)
  }

  test("pii: cleanColumn ≡ scrub's clean text, and preserves whitespace token counts") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", Pii.synthText)
    val viaScrub = Pii.scrub(docs).select("doc_id", "clean")
    val viaColumn = docs.select(col("doc_id"),
      Pii.cleanColumn(col("text")).as("clean"))
    assert(viaScrub.exceptAll(viaColumn).isEmpty &&
      viaColumn.exceptAll(viaScrub).isEmpty)
    // the packing-safety invariant: no pattern spans a space, no
    // placeholder contains one — token counts never move
    val moved = docs.select(
      (size(split(col("text"), " ")) =!=
        size(split(Pii.cleanColumn(col("text")), " "))).as("m"))
      .filter(col("m")).count()
    assert(moved == 0L)
  }

  test("pii: composeText(piiScrub) keeps the manifest, redacts only the text") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, Pii.synthText).otherwise(col("text")))
    val manifestCols =
      Seq("doc_id", "shard", "n_tok", "end_tok", "start_tok",
        "chunk_first", "chunk_last", "assignment")
    val plain = TrainingSet.composeText(docs)
    val scrubbed = TrainingSet.composeText(docs, piiScrub = true)
    // the manifest — policy, shard streams, chunk geometry — is
    // bit-identical with the PII leg on or off (token counts can't move)
    assert(plain.select(manifestCols.map(col): _*)
      .exceptAll(scrubbed.select(manifestCols.map(col): _*)).isEmpty)
    assert(scrubbed.select(manifestCols.map(col): _*)
      .exceptAll(plain.select(manifestCols.map(col): _*)).isEmpty)
    // the manifest matches compose's rows exactly (payload join adds,
    // never drops or duplicates)
    assert(scrubbed.count() == TrainingSet.compose(docs).count())
    // ...and the TEXT was actually redacted on the planted docs
    val diff = plain.select("doc_id", "text")
      .exceptAll(scrubbed.select("doc_id", "text"))
    assert(diff.count() > 0)
    assert(scrubbed.filter(col("text").contains("<EMAIL>")).count() > 0)
    // no unredacted contact line survives in the shipped payload
    assert(scrubbed.filter(col("text").rlike(Pii.emailRe)).count() == 0)
  }

  // -------------------------------------------------------------- Postings

  private lazy val postDocs = graft.Tables
    .table(spark, "/root/testdata/sf0.001", "documents")
  private lazy val index = Postings.build(postDocs, n = 3, maxDf = 6).cache()

  test("postings: delta lists decode back to exactly the scan-side doc sets") {
    val rows = index.filter(col("postings").isNotNull).collect()
    assert(rows.nonEmpty)
    // direct scan reference: term -> sorted distinct doc ids
    val ref = postDocs
      .select(col("doc_id"), explode(TextAnalysis.wordNgrams(3)).as("term"))
      .distinct().collect()
      .groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getLong(0)).sorted.toSeq }
    rows.foreach { r =>
      val term = r.getString(0)
      val decoded = r.getString(4).split(",").map(_.toLong)
        .scanLeft(0L)(_ + _).drop(1).toSeq
      assert(decoded == ref(term), s"term '$term' decode mismatch")
      assert(r.getLong(1) == decoded.length)
      assert(r.getLong(2) == decoded.head && r.getLong(3) == decoded.last)
    }
  }

  test("postings: cap economics — over-cap terms keep df, carry no list; probe skips them") {
    val capped = index.filter(col("postings").isNull).collect()
    assert(capped.nonEmpty, "maxDf=6 must engage the cap at sf0.001")
    assert(capped.forall(r => r.getLong(1) > 6 && r.isNullAt(2) && r.isNullAt(3)))
    val under = index.filter(col("postings").isNotNull)
      .orderBy(desc("df")).limit(1).collect().head
    val cappedTerm = capped.head.getString(0)
    val hits = Postings.probe(index, Seq(under.getString(0), cappedTerm))
      .collect()
    // probe resolves the under-cap phrase entirely from the index,
    // and agrees exactly with the scan path it replaces...
    val got = hits.filter(_.getString(0) == under.getString(0))
      .map(_.getLong(1)).sorted.toSeq
    val want = Postings.scanProbe(postDocs, Seq(under.getString(0)))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.length == under.getLong(1))
    // ...and returns NOTHING for the capped term (the fall-back signal)
    assert(!hits.exists(_.getString(0) == cappedTerm))
  }

  test("postings: lookup ≡ scanProbe for a mixed under-cap / capped / absent phrase set") {
    val under = index.filter(col("postings").isNotNull)
      .orderBy(desc("df")).limit(2).collect().map(_.getString(0)).toSeq
    val capped = index.filter(col("postings").isNull)
      .orderBy("term").limit(2).collect().map(_.getString(0)).toSeq
    val phrases = under ++ capped :+ "zz never a term"
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val got = canon(Postings.lookup(index, postDocs, phrases))
    assert(got == canon(Postings.scanProbe(postDocs, phrases)))
    // both branches actually contributed rows
    assert(under.forall(t => got.exists(_._1 == t)))
    assert(capped.forall(t => got.exists(_._1 == t)))
    assert(!got.exists(_._1 == "zz never a term"))
  }

  test("postings: appendDelta handles merge, cap transition, and new terms exactly") {
    // 3-token docs yield exactly one 3-gram each — full control of df
    val old = ((1L to 6L).map(i => (i, "a b c")) :+ (10L, "p q r"))
      .toDF("doc_id", "text")
    val batch = Seq((7L, "a b c"), (11L, "p q r"), (12L, "x y z"))
      .toDF("doc_id", "text")
    val idx = Postings.build(old, maxDf = 6)
    val delta = Postings.appendDelta(idx, batch, maxDf = 6).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(4)) null else r.getString(4))).toMap
    // at-cap term pushed over: list dropped, df keeps advancing
    assert(delta("a b c") == ((7L, null)))
    // under-cap merge: old id 10 + new id 11, gap-encoded
    assert(delta("p q r") == ((2L, "10,1")))
    // brand-new term: fresh single-doc row
    assert(delta("x y z") == ((1L, "12")))
    assert(delta.size == 3)
  }

  test("postings: applyDelta(build(old), appendDelta) ≡ build(old ∪ batch) corpus-wide") {
    val old = postDocs.filter(col("doc_id") % 5 =!= 0)
    val batch = postDocs.filter(col("doc_id") % 5 === 0)
    val idx = Postings.build(old)
    val delta = Postings.appendDelta(idx, batch)
    val merged = Postings.applyDelta(idx, delta)
    val rebuilt = Postings.build(postDocs)
    assert(merged.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(merged).isEmpty)
    // the corpus engages all three delta regimes
    val touched = delta.collect()
    val oldTerms = idx.select("term").collect().map(_.getString(0)).toSet
    assert(touched.exists(r => !oldTerms.contains(r.getString(0))), "no new term")
    assert(touched.exists(r => oldTerms.contains(r.getString(0)) &&
      !r.isNullAt(4)), "no under-cap merge")
    assert(touched.exists(r => oldTerms.contains(r.getString(0)) &&
      r.isNullAt(4)), "no capped row touched")
  }

  test("postings: probe pushes the phrase predicate into a sorted parquet index") {
    val dir = java.nio.file.Files.createTempDirectory("gates-postings").toString
    graft.plans.Layout.writeSorted(index, s"$dir/idx", "term")
    val disk = spark.read.parquet(s"$dir/idx")
    val under = index.filter(col("postings").isNotNull)
      .orderBy(desc("df")).limit(2).collect().map(_.getString(0)).toSeq
    val probed = Postings.probe(disk, under)
    // the literal In predicate reaches the scan (row-group pruning on
    // the term-sorted layout) — no join, no shuffle in the probe plan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"), plan)
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    // and the on-disk probe returns exactly the in-memory rows
    assert(probed.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      == Postings.probe(index, under).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
  }
}
