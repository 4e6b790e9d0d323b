package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer — BPE's missing sibling
  * (Kudo 2018, "Subword Regularization"; r18 VERDICT #3): instead of
  * greedily growing merges, START from a large seed vocabulary of
  * candidate pieces, fit unigram piece probabilities, and PRUNE to the
  * target size; segmentation is the Viterbi best path under the piece
  * log-probabilities. Deterministic one-shot simplification of the
  * paper's EM loop (the DoReMi discipline — what a data engine can run
  * without a training loop): seed counts → one hard-EM round (Viterbi
  * E-step, recount M-step) → frequency prune → renormalize.
  *
  * The corpus-scale insight is [[BpeTrain]]'s, inherited: training
  * never iterates the corpus — ONE scan builds the (word, freq) table
  * and everything after works on vocabulary-sized frames. The model
  * itself (piece → logp) is bounded like [[KMeans]]' centroids or the
  * q_pq_adc codebooks, so the Viterbi DP consumes it as a broadcast
  * map literal: segmentation is a NARROW per-row fold — no joins, no
  * shuffles, O(len · maxPieceLen) per word — embarrassingly parallel
  * at any corpus size.
  *
  * Determinism (both q_unigram rows have bitwise DuckDB oracles, the
  * oracle re-deriving Viterbi INDEPENDENTLY by full segmentation
  * enumeration + argmax): scores are round(log2(count/total), 6) at
  * every handoff; path scores accumulate left-to-right in both
  * engines (identical doubles per path); and the best path is the max
  * under the TOTAL order (score DESC, n_pieces ASC, segmentation ASC)
  * — a suffix-compatible order (ties diverge at a space-vs-letter
  * position inside the common prefix), so the DP's local tie-breaks
  * compose to the oracle's global argmax. */
object UnigramLm {

  /** (word, freq) over the corpus — the one corpus scan. */
  def wordFreqs(documents: DataFrame): DataFrame =
    documents
      .select(explode(filter(split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed candidate counts: every substring of length ≤ `maxPieceLen`
    * of every corpus word, occurrence-weighted by word frequency
    * (single characters included by construction — full coverage). */
  def seedCounts(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
              i -> transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})),
                     j -> substring(word, i, j - i + 1))))""")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("c"))

  /** (piece, logp) with logp = round(log2(c / Σc), 6) — the rounded
    * handoff that keeps every downstream comparison cross-engine.
    * An empty counts frame stays empty (sum NULL guarded — the
    * EmptyCorpusSpec day-one contract). */
  private def logProbs(counts: DataFrame): DataFrame = {
    val row = counts.agg(sum("c")).head
    val total = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (total == 0L) counts.select(col("piece"), lit(0.0).as("logp")).limit(0)
    else counts.select(col("piece"),
      round(log2(col("c") * lit(1.0) / lit(total.toDouble)), 6).as("logp"))
  }

  /** The Viterbi best segmentation of `word` under the bounded
    * (piece → logp) model `mp`, as one HOF fold: acc[p] is the best
    * (score, n_pieces, segmentation) reaching position p; step i
    * extends from the ≤ `maxPieceLen` predecessors through the map
    * lookups. Returns struct(score, np, seg) — null fields when the
    * word cannot be covered by the vocabulary. */
  private def viterbiCol(word: Column, mp: Column, maxPieceLen: Int): Column = {
    val unreachable = struct(
      lit(null).cast("double").as("s"),
      lit(null).cast("int").as("np"),
      lit(null).cast("string").as("seg"))
    val fold = aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0.0).as("s"), lit(0).as("np"), lit("").as("seg"))),
      (acc, i) => {
        val best = aggregate(
          sequence(lit(1), least(lit(maxPieceLen), i)),
          unreachable,
          (b, l) => {
            val piece = word.substr(i - l + lit(1), l)
            val prev = element_at(acc, i - l + lit(1))
            val lp = try_element_at(mp, piece)
            val cs = prev.getField("s") + lp
            val cnp = prev.getField("np") + lit(1)
            val cseg = when(prev.getField("np") === 0, piece)
              .otherwise(concat(prev.getField("seg"), lit(" "), piece))
            // total order (s desc, np asc, seg asc); candidates with an
            // unreachable predecessor or an out-of-vocab piece are null
            val better = prev.getField("s").isNotNull && lp.isNotNull &&
              (b.getField("s").isNull ||
                cs > b.getField("s") ||
                (cs === b.getField("s") &&
                  (cnp < b.getField("np") ||
                    (cnp === b.getField("np") && cseg < b.getField("seg")))))
            when(better,
              struct(cs.as("s"), cnp.as("np"), cseg.as("seg"))).otherwise(b)
          })
        array_append(acc, best)
      },
      acc => element_at(acc, length(word) + lit(1)))
    when(length(word) === 0, unreachable).otherwise(fold)
  }

  /** Viterbi-segment each (word, freq) row under a bounded vocabulary:
    * (word, freq, segmentation, n_pieces, score(4)). Unsegmentable
    * words keep NULL segmentation (can't happen when the vocab covers
    * all single characters, as [[train]]'s output does). */
  def viterbiSegment(
      words: DataFrame,
      vocab: Map[String, Double],
      maxPieceLen: Int): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    val mp = typedLit(vocab)
    words
      .withColumn("_v", viterbiCol(col("word"), mp, maxPieceLen))
      .select(col("word"), col("freq"),
        col("_v.seg").as("segmentation"),
        col("_v.np").cast("long").as("n_pieces"),
        round(col("_v.s"), 4).as("score"))
  }

  /** Train: seed → ONE hard-EM round → prune → renormalize.
    * Output (piece, count, logp, is_char):
    *  - count: the M-step count (Viterbi-segment every word under the
    *    SEED scores, recount pieces freq-weighted);
    *  - prune: keep single characters unconditionally (coverage) plus
    *    the top `vocabSize` pieces by (count DESC, piece ASC);
    *  - logp: renormalized over the kept mass, NULL for a kept
    *    character the E-step never used (count 0).
    * The seed and model are vocabulary-sized; the only corpus-scaled
    * work is [[wordFreqs]]' one scan. The Viterbi E-step runs on the
    * DISTINCT-WORD table, not the corpus — the BpeTrain insight. */
  def train(
      documents: DataFrame,
      vocabSize: Int = 24,
      maxPieceLen: Int = 4): DataFrame =
    trainIterated(documents, vocabSize, maxPieceLen, emRounds = 1)

  /** [[train]] with Kudo's actual loop shape — `emRounds` hard-EM
    * rounds before the final prune (the publish-parity twin of the
    * one-round simplification, which is exactly `emRounds = 1`;
    * UnigramLmEmSpec pins the equivalence bitwise). Each round
    * re-segments the DISTINCT-WORD table under the renormalized scores
    * of the previous round's counts — a BOUNDED driver loop (the
    * BpeTrain.learn discipline): per round one vocabulary-sized
    * collect and one narrow pass over the checkpointed word table,
    * never the corpus. Support can only shrink and never strands a
    * word: every word's previous-round segmentation pieces carry
    * count ≥ freq > 0, so each word stays segmentable via at least
    * its own last path (hard-EM's classification-EM monotonicity —
    * the freq-weighted best-path score is non-decreasing round over
    * round, spec-pinned on the harness corpus). */
  def trainIterated(
      documents: DataFrame,
      vocabSize: Int = 24,
      maxPieceLen: Int = 4,
      emRounds: Int = 2): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(maxPieceLen > 0, s"maxPieceLen must be positive: $maxPieceLen")
    require(emRounds >= 1 && emRounds <= 8,
      s"emRounds must be in [1, 8] (a bounded driver loop): $emRounds")
    val words = wordFreqs(documents).localCheckpoint()
    val seed = logProbs(seedCounts(words, maxPieceLen))
    // bounded collect: the seed is vocabulary-sized (distinct
    // substrings of distinct words), the KMeans-centroid class
    val seedMap = seed.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    if (seedMap.isEmpty) // empty corpus: an empty vocabulary, not a crash
      return documents.sparkSession.range(0).select(
        lit("").as("piece"), col("id").as("count"),
        lit(0.0).as("logp"), lit(false).as("is_char"))
    var model = seedMap
    var mCounts: DataFrame = null
    (1 to emRounds).foreach { r =>
      // localCheckpoint the round's M-step counts: logProbs runs TWO
      // actions over them (the sum(c) agg plus the collect) — and the
      // final round's frame feeds the rank window, the kept-total agg
      // and the returned result — so an uncheckpointed frame re-runs
      // the Viterbi E-step over the word table once per action
      // (r19 ADVICE). Intermediate rounds free their blocks once the
      // model map is collected; the final round's frame stays live
      // because the returned plan reads it.
      mCounts = viterbiSegment(words, model, maxPieceLen)
        .select(col("freq"),
          explode(split(col("segmentation"), " ")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("c"))
        .localCheckpoint()
      if (r < emRounds) { // renormalize over the counted support —
        model = logProbs(mCounts).collect() // vocabulary-sized collect
          .map(x => x.getString(0) -> x.getDouble(1)).toMap
        graft.Frozen.release(mCounts)
      }
    }
    val chars = words.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
      .distinct()
    val ranked = mCounts.withColumn("_rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("piece"))))
    // the rank window is a single partition by construction — the
    // frame is vocabulary-sized (≤ seed pieces), the census' benign
    // bounded class, same as BpeTrain's per-round argmax
    val kept = ranked
      .join(chars.withColumn("_ch", lit(true)), Seq("piece"), "full_outer")
      .filter(col("_ch").isNotNull || col("_rk") <= vocabSize)
      .select(col("piece"), coalesce(col("c"), lit(0L)).as("count"))
    val keptRow = kept.agg(sum("count")).head
    val keptTotal = if (keptRow.isNullAt(0)) 0L else keptRow.getLong(0)
    kept.select(col("piece"), col("count"),
        when(col("count") > 0 && lit(keptTotal) > 0,
          round(log2(col("count") * lit(1.0) / lit(keptTotal.toDouble)), 6))
          .as("logp"),
        (length(col("piece")) === 1).as("is_char"))
      .orderBy(col("count").desc, col("piece"))
  }

  /** Kudo's SHRINKING-VOCABULARY schedule (Kudo 2018 §3.2; r19 VERDICT
    * #8): train large, then per round fit → score every piece's
    * LIKELIHOOD LOSS → prune the bottom fraction, until the target
    * size. [[trainIterated]] keeps the seed support through every EM
    * round and cuts once at the end by raw count; the schedule is what
    * the paper actually runs — the intermediate prunes re-route
    * probability mass through the survivors before the next fit, so a
    * piece that only looked good under the bloated seed gets re-judged
    * under a model that has already shed its competitors.
    *
    * Loss, hard-EM style (and SQL-replayable — the q_unigram_train_sched
    * oracle re-derives every round by full-path enumeration): removing
    * piece p forces each of its Viterbi occurrences onto an alternative
    * path; the SINGLE-CHARACTER spelling of p is always available, so
    * loss(p) = c(p) · (logp(p) − Σ_ch logp(ch)) is the exact likelihood
    * cost of the char-fallback re-route and an upper bound on Kudo's
    * lattice-exact loss (the true next-best path is ≥ the char path).
    * A single character's loss is identically 0 (its fallback is
    * itself), which is also why characters survive every cut.
    * Cross-engine determinism: counts are exact longs, model scores are
    * round(log2, 6) handoffs, and the char-sum folds LEFT-TO-RIGHT in
    * both engines (FP addition order pinned), so the loss doubles — and
    * therefore the kept set — are bit-identical; ties break on piece.
    *
    * Coverage floor: the NEXT round's model renormalizes the kept
    * counts with single-character counts floored at 1 (Kudo keeps
    * characters at small constant probability for the same reason), so
    * no word ever becomes unsegmentable mid-schedule. The FINAL output
    * keeps [[train]]'s exact contract — raw counts, renormalized logp
    * over the kept mass, NULL logp for a kept-but-unused character.
    *
    * Bounded driver loop: `pruneRounds ≤ 8` rounds, each one Viterbi
    * E-step over the checkpointed DISTINCT-WORD table plus
    * vocabulary-sized collects (the [[BpeTrain.learn]] class); the
    * loss ranking runs on the collected vocabulary, never on the
    * corpus. */
  def trainScheduled(
      documents: DataFrame,
      vocabSize: Int = 24,
      maxPieceLen: Int = 4,
      pruneRounds: Int = 2,
      shrink: Double = 0.5): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(maxPieceLen > 0, s"maxPieceLen must be positive: $maxPieceLen")
    require(pruneRounds >= 1 && pruneRounds <= 8,
      s"pruneRounds must be in [1, 8] (a bounded driver loop): $pruneRounds")
    require(shrink > 0.0 && shrink < 1.0, s"shrink must be in (0,1): $shrink")
    val spark = documents.sparkSession
    import spark.implicits._
    // freed before every return: the returned frame is driver-built
    // (keptSeq.toDF), so nothing reads the word table after the loop
    val words = wordFreqs(documents).localCheckpoint()
    try {
    val seedMap = logProbs(seedCounts(words, maxPieceLen)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    if (seedMap.isEmpty) // empty corpus: an empty vocabulary, not a crash
      return spark.range(0).select(
        lit("").as("piece"), col("id").as("count"),
        lit(0.0).as("logp"), lit(false).as("is_char"))
    // the corpus character set — bounded; kept through every cut
    val chars: Seq[String] = words.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("p")).distinct().as[String].collect().toSeq.sorted
    var model = seedMap
    var result: DataFrame = null
    (1 to pruneRounds).foreach { r =>
      val mCounts = viterbiSegment(words, model, maxPieceLen)
        .select(col("freq"),
          explode(split(col("segmentation"), " ")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("c"))
      // vocabulary-sized collect — the loss ranking is driver-side math
      // over exact longs and 6-rounded score literals
      val counts: Map[String, Long] = mCounts.collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      def charSum(p: String): Double = // left-to-right: FP order pinned
        p.foldLeft(0.0)((a, ch) => a + model(ch.toString))
      val ranked = counts.toSeq
        .map { case (p, c) => (p, c * 1.0 * (model(p) - charSum(p))) }
        .sortBy { case (p, loss) => (-loss, p) }
      val keepN =
        if (r == pruneRounds) vocabSize
        else math.max(vocabSize, math.ceil(counts.size * shrink).toInt)
      val kept: Set[String] = ranked.take(keepN).map(_._1).toSet ++ chars
      if (r < pruneRounds) {
        val adj = kept.toSeq.sorted.map { p =>
          val c = counts.getOrElse(p, 0L)
          (p, if (p.length == 1) math.max(c, 1L) else c) // coverage floor
        }
        // the log2/round handoff stays IN SPARK (logProbs), so the next
        // model's literals are the engine's own — never a driver-side
        // re-derivation that could differ in the last ulp
        model = logProbs(adj.toDF("piece", "c")).collect()
          .map(x => x.getString(0) -> x.getDouble(1)).toMap
      } else {
        val keptSeq = kept.toSeq.sorted.map(p => (p, counts.getOrElse(p, 0L)))
        val tot = keptSeq.map(_._2).sum
        result = keptSeq.toDF("piece", "count")
          .select(col("piece"), col("count"),
            when(col("count") > 0 && lit(tot) > 0,
              round(log2(col("count") * lit(1.0) / lit(tot.toDouble)), 6))
              .as("logp"),
            (length(col("piece")) === 1).as("is_char"))
          .orderBy(col("count").desc, col("piece"))
      }
    }
    result
    } finally graft.Frozen.release(words)
  }
}
