package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.extensions.UnigramLm
import graft.merge.ScdMerge
import graft.plans.Layout

/** Round-19 additions: the unigram-LM (SentencePiece-style) tokenizer
  * twin of the BPE pair ([[UnigramLm]] — Kudo 2018), as two rows:
  * training (seed → hard-EM round → prune → renormalize) and Viterbi
  * segmentation under a FROZEN vocabulary (the pqBooks freezing
  * discipline — both engines parse the SAME literals, so every path
  * score is bit-identical cross-engine). The oracles re-derive Viterbi
  * INDEPENDENTLY of the engine's DP: a recursive CTE enumerates every
  * segmentation (bounded — corpus words are ≤ 8 chars) and takes the
  * argmax under the same total order (score DESC, n_pieces ASC,
  * segmentation ASC), so a DP bug cannot hide in a shared shortcut. */
object Round19Queries {

  /** The q_unigram_segment fixture vocabulary: full single-character
    * coverage (so every word segments) plus generic multi-character
    * pieces with handcrafted 6-decimal log-probs — values chosen
    * generic (no additive coincidences), so the Viterbi argmax is
    * tie-free over the corpus words and bitwise reproducible. */
  private[graft] val uniVocab: Seq[(String, Double)] = Seq(
    "a" -> -6.0, "all" -> -4.1837, "an" -> -3.9744, "ark" -> -4.393,
    "b" -> -6.0822, "ba" -> -2.5093, "ble" -> -2.4191, "c" -> -6.1501,
    "col" -> -2.5833, "cust" -> -2.6735, "d" -> -6.2323, "dat" -> -2.7926,
    "der" -> -3.6749, "dow" -> -4.8116, "e" -> -6.3002, "eam" -> -4.4832,
    "f" -> -6.3681, "fa" -> -2.8377, "fil" -> -2.9279, "g" -> -6.4503,
    "ge" -> -3.5558, "gg" -> -4.8567, "gr" -> -3.047, "h" -> -6.5182,
    "ha" -> -3.1372, "i" -> -6.5861, "in" -> -3.3014, "j" -> -6.6683,
    "jo" -> -3.2563, "k" -> -6.7362, "key" -> -3.3465, "l" -> -6.8041,
    "li" -> -3.3916, "m" -> -6.8863, "mer" -> -3.5107, "n" -> -6.9542,
    "ne" -> -3.4656, "o" -> -7.0364, "omer" -> -2.7186, "or" -> -3.6009,
    "oup" -> -3.0921, "ow" -> -4.0646, "p" -> -7.1043, "par" -> -3.72,
    "q" -> -7.1722, "que" -> -3.7651, "r" -> -7.2544, "row" -> -3.8842,
    "rt" -> -4.2739, "ry" -> -3.8102, "s" -> -7.3223, "sc" -> -3.9293,
    "sh" -> -3.1823, "sl" -> -4.0195, "sm" -> -4.1386, "so" -> -4.2288,
    "sp" -> -4.3479, "st" -> -2.8828, "str" -> -4.4381, "t" -> -7.3902,
    "ta" -> -2.374, "tch" -> -2.4642, "ter" -> -3.0019, "the" -> -2.3,
    "tor" -> -4.6925, "u" -> -7.4724, "ue" -> -4.6023, "umn" -> -2.6284,
    "v" -> -7.5403, "val" -> -4.5572, "vec" -> -4.6474, "w" -> -7.6082,
    "win" -> -4.7665, "y" -> -7.6904)

  /** One source of truth for the fixture: the SQL VALUES list is built
    * from [[uniVocab]], so the two engines cannot drift. */
  private def uniVocabValues: String =
    uniVocab.map { case (p, l) => s"('$p', CAST($l AS DOUBLE))" }
      .mkString(", ")

  /** Shared oracle fragments: (word, freq) and the Viterbi-by-
    *-enumeration recursion over a (piece, lp) vocab CTE named `vv` —
    * every segmentation is enumerated (pos strictly increases, so the
    * recursion terminates) and the per-word argmax is taken under
    * (score DESC, n_pieces ASC, segmentation ASC), exactly the
    * engine-side DP's total order. */
  private[queries] def duckWords: String =
    """w AS (SELECT word, count(*) AS freq
            FROM (SELECT unnest(list_filter(
                    string_split(lower(coalesce(text, '')), ' '),
                    t -> t <> '')) AS word
                  FROM documents)
            GROUP BY 1)"""

  private def duckViterbi(vocabCte: String): String =
    duckViterbiSfx(vocabCte, "")

  /** [[duckViterbi]] with suffixed CTE names, so one oracle can run
    * the enumeration under TWO successive models (q_unigram_train_em2:
    * paths/best under the seed, paths2/best2 under the re-estimated
    * round-1 scores). */
  private[queries] def duckViterbiSfx(vocabCte: String, sfx: String): String =
    s"""paths$sfx(word, freq, pos, np, seg, score) AS (
          SELECT word, freq, 0, 0, '', CAST(0.0 AS DOUBLE) FROM w
          UNION ALL
          SELECT p.word, p.freq, p.pos + len(v.piece), p.np + 1,
                 CASE WHEN p.np = 0 THEN v.piece
                      ELSE p.seg || ' ' || v.piece END,
                 p.score + v.lp
          FROM paths$sfx p JOIN $vocabCte v
            ON v.piece = substr(p.word, p.pos + 1, len(v.piece))
          WHERE p.pos < len(p.word)),
        best$sfx AS (SELECT word, freq, seg, np, score
                 FROM (SELECT *, row_number() OVER (PARTITION BY word
                         ORDER BY score DESC, np ASC, seg ASC) AS rn
                       FROM paths$sfx WHERE pos = len(word))
                 WHERE rn = 1)"""

  /** The freq-weighted M-step recount of a best-path CTE. */
  private[queries] def duckRecount(bestCte: String, mcName: String): String =
    s"""$mcName AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS c
                 FROM (SELECT freq, unnest(string_split(seg, ' ')) AS piece
                       FROM $bestCte)
                 GROUP BY 1)"""

  /** The final prune + renormalize tail over a recount CTE — verbatim
    * [[UnigramLm.trainIterated]]'s: unconditional single-char
    * coverage, top-`vocabSize` by (count DESC, piece), renormalized
    * log-probs over the kept mass. */
  private def duckPruneTail(mc: String, vocabSize: Int): String =
    s"""ch AS (SELECT DISTINCT unnest(list_transform(
                   range(1, len(word) + 1), i -> substr(word, i, 1)))
                   AS piece
                 FROM w),
          rk AS (SELECT piece, c,
                        row_number() OVER (ORDER BY c DESC, piece) AS rk
                 FROM $mc),
          kp AS (SELECT coalesce(r.piece, ch.piece) AS piece,
                        CAST(coalesce(r.c, 0) AS BIGINT) AS cnt
                 FROM rk r FULL OUTER JOIN ch ON ch.piece = r.piece
                 WHERE ch.piece IS NOT NULL OR r.rk <= $vocabSize),
          kt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kp)
        SELECT piece, cnt AS "count",
               CASE WHEN cnt > 0
                    THEN round(log2(cnt * 1.0 / t), 6) END AS logp,
               len(piece) = 1 AS is_char
        FROM kp, kt ORDER BY "count" DESC, piece"""

  /** [[UnigramLm.train]] — seed substring counts, one hard-EM round
    * (Viterbi E-step under the seed scores, freq-weighted recount),
    * prune to top-24 with unconditional single-char coverage,
    * renormalized log-probs. */
  /** Seed-model CTEs: substring counts (len ≤ 4) and their
    * renormalized log-prob scores. */
  private[queries] val duckSeed: String =
    """sp AS (SELECT freq,
                        unnest(flatten(list_transform(range(1, len(word) + 1),
                          i -> list_transform(
                                 range(i, least(len(word), i + 3) + 1),
                                 j -> substr(word, i, j - i + 1)))))
                          AS piece
                 FROM w),
          sc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS c
                 FROM sp GROUP BY 1),
          stot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sc),
          sv AS (SELECT piece, round(log2(c * 1.0 / t), 6) AS lp
                 FROM sc, stot)"""

  private val unigramTrain = Q("q_unigram_train",
    (s, dir) => UnigramLm.train(table(s, dir, "documents"),
      vocabSize = 24, maxPieceLen = 4),
    Some(s"""WITH RECURSIVE $duckWords,
          $duckSeed,
          ${duckViterbi("sv")},
          ${duckRecount("best", "mc")},
          ${duckPruneTail("mc", 24)}"""))

  /** [[UnigramLm.trainIterated]] at emRounds = 2 — Kudo's loop shape,
    * driver-verified: the oracle re-derives BOTH rounds by full
    * segmentation enumeration (paths/best under the seed scores,
    * paths2/best2 under the renormalized round-1 counts) and prunes
    * from the second recount. The renormalization between rounds is
    * the engine's logProbs handoff verbatim: round(log2(c/Σc), 6). */
  private val unigramTrainEm2 = Q("q_unigram_train_em2",
    (s, dir) => UnigramLm.trainIterated(table(s, dir, "documents"),
      vocabSize = 24, maxPieceLen = 4, emRounds = 2),
    Some(s"""WITH RECURSIVE $duckWords,
          $duckSeed,
          ${duckViterbi("sv")},
          ${duckRecount("best", "mc")},
          mt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM mc),
          uv2(piece, lp) AS (SELECT piece, round(log2(c * 1.0 / t), 6)
                             FROM mc, mt),
          ${duckViterbiSfx("uv2", "2")},
          ${duckRecount("best2", "mc2")},
          ${duckPruneTail("mc2", 24)}"""))

  /** [[UnigramLm.viterbiSegment]] under the frozen [[uniVocab]] — the
    * best path's pieces, count, and rounded score per corpus word. */
  private val unigramSegment = Q("q_unigram_segment",
    (s, dir) => UnigramLm.viterbiSegment(
      UnigramLm.wordFreqs(table(s, dir, "documents")),
      uniVocab.toMap, maxPieceLen = 4),
    Some(s"""WITH RECURSIVE $duckWords,
          uv(piece, lp) AS (SELECT * FROM (VALUES $uniVocabValues)),
          ${duckViterbi("uv")}
        SELECT word, freq, seg AS segmentation,
               CAST(np AS BIGINT) AS n_pieces,
               round(score, 4) AS score
        FROM best ORDER BY word"""))

  /** Tokenizer fertility — the freq-weighted mean pieces-per-word of
    * the two trained tokenizers over the SAME word-frequency table
    * (fertility is the standard efficiency diagnostic a pretraining
    * team compares tokenizers by: lower = fewer subword tokens per
    * word = cheaper training for the same text). BPE segments under
    * its 4 learned merges (q_bpe_segment's path); unigram under the
    * frozen [[uniVocab]] Viterbi (q_unigram_segment's path). One
    * corpus-derived word table feeds both; the whole row is
    * vocabulary-sized after the first aggregate. */
  private val tokenizerFertility = Q("q_tokenizer_fertility",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val words = UnigramLm.wordFreqs(docs) // ONE corpus scan feeds both
      val bpe = graft.extensions.BpeTrain
        .segmentWords(words, graft.extensions.BpeTrain.learn(docs, numMerges = 4))
        .select(col("word"), col("freq"), col("n_symbols").cast("long").as("np"))
      val uni = UnigramLm.viterbiSegment(words, uniVocab.toMap, maxPieceLen = 4)
        .select(col("word"), col("freq"), col("n_pieces").cast("long").as("np"))
      def stats(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(
          count(lit(1)).as("n_words"),
          sum("freq").as("total_freq"),
          sum(col("freq") * col("np")).as("total_pieces"),
          round(sum(col("freq") * col("np")) * lit(1.0) / sum("freq"), 4)
            .as("fertility"))
          .select(lit(name).as("tokenizer"), col("n_words"),
            col("total_freq"), col("total_pieces"), col("fertility"))
      stats("bpe", bpe).unionAll(stats("unigram", uni))
    },
    Some(s"""WITH RECURSIVE ${Round6Queries.bpeCtes(4)},
          uv(piece, lp) AS (SELECT * FROM (VALUES $uniVocabValues)),
          ${duckViterbi("uv")},
          bseg AS (SELECT word, freq,
                          CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS np
                   FROM s4),
          useg AS (SELECT word, freq, CAST(np AS BIGINT) AS np FROM best)
        SELECT * FROM (
          SELECT 'bpe' AS tokenizer, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(freq) AS BIGINT) AS total_freq,
                 CAST(sum(freq * np) AS BIGINT) AS total_pieces,
                 round(sum(freq * np) * 1.0 / sum(freq), 4) AS fertility
          FROM bseg
          UNION ALL
          SELECT 'unigram', CAST(count(*) AS BIGINT),
                 CAST(sum(freq) AS BIGINT), CAST(sum(freq * np) AS BIGINT),
                 round(sum(freq * np) * 1.0 / sum(freq), 4)
          FROM useg)
        ORDER BY tokenizer"""))

  /** The wide post-snapshot-A state as a BUCKETED+SORTED table, built
    * once per (session, snapshot plan, snapshot files) in the
    * [[graft.Memo]] family `scd_bucketed` — the ivfIndexPath memo
    * discipline applied to the merge's persisted-state story. The
    * 2.4-semantics sorted-bucket-scan conf the zero-sort probe needs is
    * pinned SESSION-WIDE at build by [[graft.GraftSession.protectedConfs]]
    * (r19 VERDICT #4 — the build must not leak conf into the session,
    * so plan shape never depends on whether this row ran first); a
    * foreign session without the pin still computes the identical
    * merge, just with a Sort on the state side. */
  private def bucketedWideState(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val a = CoreQueries.wideSnap(s, dir, perturb = false,
      col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    graft.Memo.of(a, graft.Memo.ScdBucketedState, dir) {
      val s1 = ScdMerge.applySnapshot(
        ScdMerge.emptyState(a), a, "1998-01-01", "id", CoreQueries.wideCols)
      val tbl = "scd_state_wide_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Layout.writeBucketedSorted(s1, tbl, Seq("id"), 32)
      tbl
    }
  }

  /** q_merge_scd_wide's physical twin over a PERSISTED bucketed state
    * (r18 VERDICT #1, driver-verified): snapshot B merges against the
    * bucketed+sorted state TABLE — the plan ScdBucketedMergeSpec pins
    * (no Exchange, no Sort on the state side) — and the hash gate
    * proves the sort-free path computes the IDENTICAL merge
    * (the oracle is q_merge_scd_wide's, verbatim). */
  private val mergeScdBucketed = Q("q_merge_scd_bucketed",
    (s, dir) => {
      val tbl = bucketedWideState(s, dir)
      val b = CoreQueries.wideSnap(s, dir, perturb = true,
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      CoreQueries.wideMergePresent(ScdMerge.applySnapshot(
        s.table(tbl), b, "1998-06-01", "id", CoreQueries.wideCols))
    },
    Some(CoreQueries.duckMergeScdWide))

  /** The q_wordpiece_segment fixture vocabulary: full single-character
    * coverage both bare and `##`-prefixed (so greedy never dead-ends
    * and the enumeration oracle is exact — WordPiece.scala's
    * greedy-vs-enumeration note), plus multi-character pieces chosen to
    * exercise initial AND continuation longest-match at every length up
    * to 4. */
  private[graft] val wpVocab: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz".map(_.toString) ++
      "abcdefghijklmnopqrstuvwxyz".map(c => s"##$c") ++
      Seq("ta", "the", "val", "str", "win", "gr", "sc", "cu", "spar",
        "##ble", "##rk", "##ue", "##dow", "##eam", "##oup", "##umn",
        "##ort", "##ast", "##art", "##an", "##ata", "##omer")).toSeq

  private def wpVocabValues: String =
    wpVocab.map(p => s"('$p')").mkString(", ")

  /** WordPiece trainer oracle: the bpeCtes loop with the likelihood
    * argmax — each stage additionally counts SYMBOL occurrences (the
    * denominator) and ranks pairs by c / (c_l · c_r) in double, the
    * engine's cast order. */
  private def wpCtes(n: Int): String = {
    val s0 =
      """tok AS (SELECT unnest(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                           t -> t <> '')) AS word
                 FROM documents),
         wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
         s0 AS (SELECT word,
                       ' ' || array_to_string(list_transform(range(1, len(word) + 1),
                                i -> substr(word, i, 1)), '  ') || ' ' AS seq,
                       freq
                FROM wf)"""
    val stages = (1 to n).map { i =>
      s"""ss${i - 1} AS (SELECT word, string_split(trim(seq), '  ') AS syms, freq
                         FROM s${i - 1}),
          sy$i AS (SELECT sym, sum(freq) AS c
                   FROM (SELECT unnest(syms) AS sym, freq FROM ss${i - 1})
                   GROUP BY 1),
          pr$i AS (SELECT unnest(list_transform(range(1, len(syms)), j -> syms[j])) AS l,
                          unnest(list_transform(range(1, len(syms)), j -> syms[j + 1])) AS r,
                          freq
                   FROM ss${i - 1} WHERE len(syms) > 1),
          pc$i AS (SELECT l, r, sum(freq) AS c FROM pr$i GROUP BY 1, 2),
          b$i AS (SELECT pc.l AS l, pc.r AS r, pc.c AS c,
                         pc.c * 1.0 / ((sl.c * 1.0) * sr.c) AS score
                  FROM pc$i pc, sy$i sl, sy$i sr
                  WHERE sl.sym = pc.l AND sr.sym = pc.r
                  ORDER BY score DESC, l, r LIMIT 1),
          s$i AS (SELECT word,
                         coalesce(replace(seq, ' ' || b$i.l || '  ' || b$i.r || ' ',
                                          ' ' || b$i.l || b$i.r || ' '), seq) AS seq,
                         freq
                  FROM s${i - 1} LEFT JOIN b$i ON true)"""
    }
    (s0 +: stages).mkString(",\n")
  }

  /** [[graft.extensions.WordPiece.learnDf]] — 4 likelihood-scored
    * merges (Schuster & Nakajima 2012's argmax replayed stage by stage
    * in SQL). */
  private val wordpieceTrain = Q("q_wordpiece_train",
    (s, dir) => graft.extensions.WordPiece
      .learnDf(s, table(s, dir, "documents"), numMerges = 4),
    Some(s"""WITH ${wpCtes(4)}
             SELECT * FROM (
               ${(1 to 4).map(i =>
      s"""SELECT CAST($i AS INTEGER) AS rank, l AS "left", r AS "right",
                            CAST(c AS BIGINT) AS pair_freq,
                            round(score, 6) AS score FROM b$i""")
        .mkString("\n UNION ALL \n")})
             ORDER BY rank"""))

  /** [[graft.extensions.WordPiece.greedySegment]] under the frozen
    * [[wpVocab]] — greedy longest-match with `##` continuations; the
    * oracle re-derives it INDEPENDENTLY of the munch loop by
    * enumerating every segmentation and taking the one whose
    * piece-length sequence is lexicographically largest (zero-padded
    * key), which equals greedy under full single-char coverage. */
  private val wordpieceSegment = Q("q_wordpiece_segment",
    (s, dir) => graft.extensions.WordPiece.greedySegment(
      UnigramLm.wordFreqs(table(s, dir, "documents")),
      wpVocab.toSet, maxPieceLen = 4),
    Some(s"""WITH RECURSIVE $duckWords,
          wv(piece) AS (SELECT * FROM (VALUES $wpVocabValues)),
          wb AS (SELECT piece,
                        CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                             ELSE piece END AS body,
                        (piece LIKE '##%') AS cont
                 FROM wv),
          gp(word, freq, pos, np, seg, key) AS (
            SELECT word, freq, 0, 0, '', '' FROM w
            UNION ALL
            SELECT p.word, p.freq, p.pos + len(v.body), p.np + 1,
                   CASE WHEN p.np = 0 THEN v.piece
                        ELSE p.seg || ' ' || v.piece END,
                   p.key || lpad(CAST(len(v.body) AS VARCHAR), 2, '0')
            FROM gp p JOIN wb v
              ON v.body = substr(p.word, p.pos + 1, len(v.body))
             AND v.cont = (p.pos > 0)
            WHERE p.pos < len(p.word)),
          gbest AS (SELECT word, seg, np FROM (
                      SELECT *, row_number() OVER (PARTITION BY word
                               ORDER BY key DESC) AS rn
                      FROM gp WHERE pos = len(word))
                    WHERE rn = 1)
        SELECT w.word, w.freq, b.seg AS segmentation,
               CAST(b.np AS BIGINT) AS n_pieces
        FROM w LEFT JOIN gbest b ON b.word = w.word
        ORDER BY w.word"""))

  /** [[wpVocab]] with the letter q removed in BOTH forms. Dropping a
    * character entirely keeps greedy ≡ enumeration exact (the
    * WordPiece.scala equivalence note's edge): a word containing q
    * dead-ends at q under greedy AND has no complete enumeration path —
    * both engines agree on [UNK] — while every q-free word still has
    * full coverage. This makes the [UNK] contract DRIVER-verified, not
    * only spec-pinned. */
  private[graft] val wpVocabGappy: Seq[String] =
    wpVocab.filterNot(p => p == "q" || p == "##q")

  private def wpVocabGappyValues: String =
    wpVocabGappy.map(p => s"('$p')").mkString(", ")

  /** The OOV-rate diagnostic a tokenizer deployment watches: corpus
    * segmentation under the GAPPY vocab, rolled up to word and
    * occurrence UNK rates (the StreamingTokenizerStats unseg_frac
    * contract, WordPiece-side and driver-verified). */
  private val wordpieceUnk = Q("q_wordpiece_unk",
    (s, dir) => {
      val seg = graft.extensions.WordPiece.greedySegment(
        UnigramLm.wordFreqs(table(s, dir, "documents")),
        wpVocabGappy.toSet, maxPieceLen = 4)
      seg.agg(
        count(lit(1)).as("n_words"),
        coalesce(sum("freq"), lit(0L)).as("total_freq"),
        count(when(col("segmentation").isNull, lit(1))).as("unk_words"),
        coalesce(sum(when(col("segmentation").isNull, col("freq"))
          .otherwise(lit(0L))), lit(0L)).as("unk_freq"))
        .select(col("n_words"), col("total_freq"), col("unk_words"),
          col("unk_freq"),
          when(col("total_freq") > 0,
            round(col("unk_freq") * lit(1.0) / col("total_freq"), 4))
            .as("unk_frac"))
    },
    Some(s"""WITH RECURSIVE $duckWords,
          wv(piece) AS (SELECT * FROM (VALUES $wpVocabGappyValues)),
          wb AS (SELECT piece,
                        CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                             ELSE piece END AS body,
                        (piece LIKE '##%') AS cont
                 FROM wv),
          gp(word, freq, pos, np, seg, key) AS (
            SELECT word, freq, 0, 0, '', '' FROM w
            UNION ALL
            SELECT p.word, p.freq, p.pos + len(v.body), p.np + 1,
                   CASE WHEN p.np = 0 THEN v.piece
                        ELSE p.seg || ' ' || v.piece END,
                   p.key || lpad(CAST(len(v.body) AS VARCHAR), 2, '0')
            FROM gp p JOIN wb v
              ON v.body = substr(p.word, p.pos + 1, len(v.body))
             AND v.cont = (p.pos > 0)
            WHERE p.pos < len(p.word)),
          gbest AS (SELECT word, seg FROM (
                      SELECT *, row_number() OVER (PARTITION BY word
                               ORDER BY key DESC) AS rn
                      FROM gp WHERE pos = len(word))
                    WHERE rn = 1),
          ws AS (SELECT w.word, w.freq, b.seg
                 FROM w LEFT JOIN gbest b ON b.word = w.word)
        SELECT CAST(count(*) AS BIGINT) AS n_words,
               CAST(coalesce(sum(freq), 0) AS BIGINT) AS total_freq,
               CAST(count(*) FILTER (seg IS NULL) AS BIGINT) AS unk_words,
               CAST(coalesce(sum(freq) FILTER (seg IS NULL), 0) AS BIGINT)
                 AS unk_freq,
               CASE WHEN coalesce(sum(freq), 0) > 0
                    THEN round(coalesce(sum(freq) FILTER (seg IS NULL), 0)
                               * 1.0 / sum(freq), 4) END AS unk_frac
        FROM ws"""))

  /** WordPiece's entry in the fertility diagnostic (q_tokenizer_
    * fertility's stats contract, kept as its own row so the frozen
    * two-tokenizer row's hash history stays intact): freq-weighted
    * pieces-per-word under the frozen [[wpVocab]]. Every corpus word
    * segments (full single-char coverage, WordPieceSpec), so seg_freq
    * = total_freq and fertility is directly comparable to the bpe /
    * unigram rows. */
  private val wordpieceFertility = Q("q_wordpiece_fertility",
    (s, dir) => {
      val seg = graft.extensions.WordPiece.greedySegment(
        UnigramLm.wordFreqs(table(s, dir, "documents")),
        wpVocab.toSet, maxPieceLen = 4)
      seg.agg(
        count(lit(1)).as("n_words"),
        sum("freq").as("total_freq"),
        sum(col("freq") * col("n_pieces")).as("total_pieces"),
        round(sum(col("freq") * col("n_pieces")) * lit(1.0) / sum("freq"), 4)
          .as("fertility"))
        .select(lit("wordpiece").as("tokenizer"), col("n_words"),
          col("total_freq"), col("total_pieces"), col("fertility"))
    },
    Some(s"""WITH RECURSIVE $duckWords,
          wv(piece) AS (SELECT * FROM (VALUES $wpVocabValues)),
          wb AS (SELECT piece,
                        CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                             ELSE piece END AS body,
                        (piece LIKE '##%') AS cont
                 FROM wv),
          gp(word, freq, pos, np, seg, key) AS (
            SELECT word, freq, 0, 0, '', '' FROM w
            UNION ALL
            SELECT p.word, p.freq, p.pos + len(v.body), p.np + 1,
                   CASE WHEN p.np = 0 THEN v.piece
                        ELSE p.seg || ' ' || v.piece END,
                   p.key || lpad(CAST(len(v.body) AS VARCHAR), 2, '0')
            FROM gp p JOIN wb v
              ON v.body = substr(p.word, p.pos + 1, len(v.body))
             AND v.cont = (p.pos > 0)
            WHERE p.pos < len(p.word)),
          gbest AS (SELECT word, freq, np FROM (
                      SELECT *, row_number() OVER (PARTITION BY word
                               ORDER BY key DESC) AS rn
                      FROM gp WHERE pos = len(word))
                    WHERE rn = 1)
        SELECT 'wordpiece' AS tokenizer, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(freq) AS BIGINT) AS total_freq,
               CAST(sum(freq * np) AS BIGINT) AS total_pieces,
               round(sum(freq * np) * 1.0 / sum(freq), 4) AS fertility
        FROM gbest"""))

  /** Shared oracle scaffolding for the [[graft.extensions.LineDedup]]
    * family: tokens, non-overlapping 6-token lines with 0-based idx,
    * and the df>1 boilerplate set. Kept verbatim-shared across the
    * three oracles (the duckBm25 shared-CTE discipline). */
  private val duckLines: String =
    """w AS (SELECT doc_id, source,
                   list_filter(string_split(lower(coalesce(text, '')), ' '),
                     t -> t <> '') AS t
            FROM documents),
       ln AS (SELECT doc_id, i AS idx,
                     array_to_string(t[(i*6)+1:(i+1)*6], ' ') AS line
              FROM w, unnest(range(0, CASE WHEN len(t) = 0 THEN 0
                                           ELSE ((len(t)-1)//6)+1 END)) u(i)),
       ldf AS (SELECT line, count(DISTINCT doc_id) AS n_docs,
                      count(*) AS n_occ
               FROM ln GROUP BY 1),
       dup AS (SELECT line FROM ldf WHERE n_docs > 1),
       reb AS (SELECT doc_id, count(*) AS n_kept,
                      string_agg(line, ' ' ORDER BY idx) AS text_clean
               FROM ln WHERE line NOT IN (SELECT line FROM dup)
               GROUP BY 1),
       per AS (SELECT w.doc_id, w.source,
                      CASE WHEN len(t) = 0 THEN 0
                           ELSE ((len(t)-1)//6)+1 END AS n_lines,
                      coalesce(n_kept, 0) AS n_kept,
                      coalesce(text_clean, '') AS text_clean
               FROM w LEFT JOIN reb ON reb.doc_id = w.doc_id)"""

  /** [[graft.extensions.LineDedup.dedupLines]] — FineWeb/RefinedWeb
    * boilerplate-line removal (drop EVERY copy of a line shared by >1
    * docs), per-doc survivors in order. */
  private[queries] val duckLineDedup: String =
    s"""WITH $duckLines
          SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
                 CAST(n_kept AS BIGINT) AS n_kept, text_clean
          FROM per ORDER BY doc_id"""

  private val lineDedup = Q("q_line_dedup",
    (s, dir) => graft.extensions.LineDedup
      .dedupLines(table(s, dir, "documents"), lineLen = 6, maxDf = 1),
    Some(duckLineDedup))

  /** The xxhash64-keyed path of [[graft.extensions.LineDedup
    * .dedupLinesEncoded]] under the SAME oracle as q_line_dedup
    * (the q_dedup_ngram_encoded discipline): hashing line keys to
    * longs is result-identical absent a 64-bit collision, so the
    * driver's hash-compare verifies the encoded census + anti-join
    * end-to-end on this corpus. */
  private val lineDedupEncoded = Q("q_line_dedup_encoded",
    (s, dir) => graft.extensions.LineDedup
      .dedupLinesEncoded(table(s, dir, "documents"), lineLen = 6, maxDf = 1),
    Some(duckLineDedup))

  /** [[graft.extensions.LineDedup.boilerplateLines]] — the census a
    * curation run reads before committing to a threshold: top-20
    * most-shared lines under a total order. */
  private val boilerplateLines = Q("q_boilerplate_lines",
    (s, dir) => graft.extensions.LineDedup
      .boilerplateLines(table(s, dir, "documents"), lineLen = 6,
        maxDf = 1, topN = 20),
    Some(s"""WITH $duckLines
          SELECT line, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_occ AS BIGINT) AS n_occ
          FROM ldf WHERE n_docs > 1
          ORDER BY n_docs DESC, n_occ DESC, line LIMIT 20"""))

  /** [[graft.extensions.LineDedup.report]] — per-source boilerplate
    * mass: which feeds are template-heavy. */
  private val lineDedupReport = Q("q_line_dedup_report",
    (s, dir) => graft.extensions.LineDedup
      .report(table(s, dir, "documents"), lineLen = 6, maxDf = 1),
    Some(s"""WITH $duckLines
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_lines) AS BIGINT) AS total_lines,
                 CAST(sum(n_lines - n_kept) AS BIGINT) AS dropped_lines,
                 round(sum(n_lines - n_kept) * 1.0 /
                       nullif(sum(n_lines), 0), 4) AS frac_dropped
          FROM per GROUP BY 1 ORDER BY source"""))

  val all: Seq[Q] = Seq(unigramTrain, unigramTrainEm2, unigramSegment,
    tokenizerFertility, mergeScdBucketed, lineDedup, lineDedupEncoded,
    boilerplateLines, lineDedupReport, wordpieceTrain, wordpieceSegment,
    wordpieceFertility, wordpieceUnk)
}
