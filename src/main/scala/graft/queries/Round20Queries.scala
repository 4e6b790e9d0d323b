package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-20 additions. Headline: the Bloom two-pass line-dedup path
  * ([[graft.extensions.LineDedup.dedupLinesBloom]]) — the repo's last
  * prose scale claim turned into a driver-verified row (r19 VERDICT
  * #1): the exact-df census, measured at ~half the family's sf100
  * cost (PLANS.md), is replaced by an 8-byte-key census folded into
  * a broadcast Bloom bitset plus a codegen'd scan-side probe (no
  * anti-join). Verified under q_line_dedup's oracle VERBATIM — on the
  * harness corpus the filter is sized so the expected false-positive
  * count is ≪ 1, making the keep-zero scrub bit-identical to the
  * exact path (the FP-tolerance contract is explicit in the operator's
  * scaladoc and spec-pinned with a deliberately undersized filter in
  * LineDedupBloomSpec). */
object Round20Queries {

  /** [[graft.extensions.LineDedup.dedupLinesBloom]] under q_line_dedup's
    * oracle verbatim: census on xxhash64(line) only, dup set as a
    * broadcast Bloom, scrub as a scan-side probe filter. Defaults size
    * the filter for exactness here (fpp 1e-9 against ~10⁵ distinct
    * harness lines ⇒ expected false drops ~10⁻⁴). */
  private val lineDedupBloom = Q("q_line_dedup_bloom",
    (s, dir) => graft.extensions.LineDedup
      .dedupLinesBloom(table(s, dir, "documents"), lineLen = 6, maxDf = 1),
    Some(Round19Queries.duckLineDedup))

  /** Left-to-right char-fallback sum of a piece's single characters
    * under score CTE `sv`: ((lp₁ + lp₂) + lp₃) + lp₄ with exact +0.0
    * padding — the SAME FP addition order as the engine's driver-side
    * fold, so the loss doubles are bit-identical cross-engine. */
  private def duckCharSum(sv: String, pieceCol: String): String =
    s"""(SELECT s1.lp
           + coalesce((SELECT lp FROM $sv s2
                       WHERE len($pieceCol) >= 2
                         AND s2.piece = substr($pieceCol, 2, 1)), 0.0)
           + coalesce((SELECT lp FROM $sv s3
                       WHERE len($pieceCol) >= 3
                         AND s3.piece = substr($pieceCol, 3, 1)), 0.0)
           + coalesce((SELECT lp FROM $sv s4
                       WHERE len($pieceCol) >= 4
                         AND s4.piece = substr($pieceCol, 4, 1)), 0.0)
         FROM $sv s1 WHERE s1.piece = substr($pieceCol, 1, 1))"""

  /** One pruning round's CTE block: likelihood loss of every counted
    * piece under model `sv` (loss = (c · 1.0) · (lp − charsum), a
    * char's loss identically 0), rank (loss DESC, piece), keep
    * `keepExpr` pieces ∪ all corpus chars. */
  private def duckLossKeep(
      mc: String, sv: String, sfx: String, keepExpr: String): String =
    s"""lo$sfx AS (SELECT m.piece, m.c,
                 (m.c * 1.0) * (v.lp - ${duckCharSum(sv, "m.piece")}) AS loss
               FROM $mc m JOIN $sv v ON v.piece = m.piece),
        rk$sfx AS (SELECT piece, c,
                 row_number() OVER (ORDER BY loss DESC, piece) AS rn
               FROM lo$sfx),
        kept$sfx AS (SELECT piece FROM rk$sfx WHERE rn <= ($keepExpr)
               UNION SELECT piece FROM ch)"""

  /** [[graft.extensions.UnigramLm.trainScheduled]] — Kudo's
    * shrinking-vocabulary schedule (train large → per round: hard-EM
    * fit, likelihood-loss rank, prune the bottom fraction → target
    * size), driver-verified with the enumeration-oracle discipline:
    * BOTH rounds' Viterbi E-steps re-derive by full segmentation
    * enumeration, the char-fallback loss replays with the engine's
    * exact FP addition order, and the intermediate model renormalizes
    * the kept counts with the single-character coverage floor. */
  private val unigramTrainSched = Q("q_unigram_train_sched",
    (s, dir) => graft.extensions.UnigramLm.trainScheduled(
      table(s, dir, "documents"), vocabSize = 24, maxPieceLen = 4,
      pruneRounds = 2, shrink = 0.5),
    Some(s"""WITH RECURSIVE ${Round19Queries.duckWords},
          ${Round19Queries.duckSeed},
          ch AS (SELECT DISTINCT unnest(list_transform(
                   range(1, len(word) + 1), i -> substr(word, i, 1)))
                   AS piece
                 FROM w),
          ${Round19Queries.duckViterbiSfx("sv", "")},
          ${Round19Queries.duckRecount("best", "mc")},
          kn1 AS (SELECT greatest(24,
                    CAST(ceil(count(*) * 0.5) AS BIGINT)) AS k FROM mc),
          ${duckLossKeep("mc", "sv", "1", "SELECT k FROM kn1")},
          adj1 AS (SELECT k.piece,
                     CASE WHEN len(k.piece) = 1
                          THEN greatest(coalesce(m.c, 0), 1)
                          ELSE m.c END AS c
                   FROM kept1 k LEFT JOIN mc m ON m.piece = k.piece),
          t1 AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM adj1),
          uv1(piece, lp) AS (SELECT piece, round(log2(c * 1.0 / t), 6)
                             FROM adj1, t1),
          ${Round19Queries.duckViterbiSfx("uv1", "2")},
          ${Round19Queries.duckRecount("best2", "mc2")},
          ${duckLossKeep("mc2", "uv1", "2", "24")},
          fin AS (SELECT k.piece, CAST(coalesce(m.c, 0) AS BIGINT) AS cnt
                  FROM kept2 k LEFT JOIN mc2 m ON m.piece = k.piece),
          kt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM fin)
        SELECT piece, cnt AS "count",
               CASE WHEN cnt > 0
                    THEN round(log2(cnt * 1.0 / t), 6) END AS logp,
               len(piece) = 1 AS is_char
        FROM fin, kt ORDER BY "count" DESC, piece"""))

  val all: Seq[Q] = Seq(lineDedupBloom, unigramTrainSched)
}
