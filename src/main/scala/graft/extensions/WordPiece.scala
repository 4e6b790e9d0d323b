package graft.extensions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece — the third canonical pretraining tokenizer beside
  * [[BpeTrain]] and [[UnigramLm]] (Schuster & Nakajima 2012; the BERT
  * tokenizer): training merges like BPE but scores candidate pairs by
  * LIKELIHOOD GAIN — score(l, r) = count(lr) / (count(l) · count(r)) —
  * and segmentation is greedy longest-match-first with `##`-prefixed
  * continuation pieces (maximal munch, no backtracking; a position with
  * no matching piece makes the whole word [UNK]).
  *
  * Training inherits [[BpeTrain.learn]]'s corpus-scale shape verbatim:
  * ONE corpus scan builds the (word, freq) table, then every merge
  * round runs two vocabulary-sized aggregations (adjacent-pair counts
  * and symbol counts — the extra aggregate the likelihood denominator
  * needs) and one bounded collect. The score is computed in DOUBLE from
  * the exact long counts (cast BEFORE the product: two ~1e12 symbol
  * counts overflow int64 multiplied exactly, and IEEE doubles keep the
  * argmax cross-engine-identical — the q_wordpiece_train oracle replays
  * the whole loop in SQL with the same casts).
  *
  * Segmentation is one narrow codegen'd fold per word (the
  * [[UnigramLm.viterbiCol]] pattern): O(len · maxPieceLen) map probes,
  * zero shuffles beyond the word aggregate. Greedy-vs-enumeration
  * equivalence: under a vocabulary with FULL single-character coverage
  * (every char both bare and `##`-prefixed, as the registry fixture
  * has) greedy never dead-ends, and the greedy path is exactly the
  * complete segmentation whose piece-length sequence is
  * lexicographically largest — which is how the DuckDB oracle
  * re-derives it independently (enumerate all segmentations, argmax by
  * the zero-padded length-sequence key). A gappy vocabulary's [UNK]
  * behavior is spec-pinned (WordPieceSpec), not driver-verified, since
  * greedy-without-backtracking and path enumeration legitimately
  * diverge there. */
object WordPiece {

  final case class Merge(rank: Int, left: String, right: String,
      pairFreq: Long, score: Double)

  /** Initial/continuation CONFLATION, stated explicitly (the BPE-shape
    * note's sibling): training operates on bare characters, so a
    * symbol's word-initial and word-internal occurrences share one
    * count and one merge identity. Canonical BERT training keeps them
    * distinct (`a` vs `##a`), which is what lets its merge output BE
    * the `##`-convention vocabulary [[greedySegment]] consumes; here
    * the trainer's vocabulary and the segmenter's are separate
    * artifacts by design — the registry's segmentation rows run under
    * the FROZEN [[graft.queries.Round19Queries.wpVocab]] fixture, and
    * the trainer rows verify the likelihood-argmax loop itself. A
    * production bridge is a one-line change to [[wordSeqs]] (prefix
    * every non-initial character with `##`) plus the identical change
    * in the oracle's s0 CTE; it is left unconflated so q_wordpiece_train
    * stays hash-comparable with the BPE trainer's merge trace on the
    * same corpus. */
  private def wordSeqs(documents: DataFrame): DataFrame =
    documents
      .select(explode(DataSelection.toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(
        concat(lit(" "),
          concat_ws("  ", transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1)))),
          lit(" ")).as("seq"),
        col("freq"))

  private def syms: Column = split(trim(col("seq")), "  ")

  /** Adjacent-pair counts joined to both operands' symbol counts, ranked
    * by likelihood score (score DESC, l, r) — the WordPiece argmax. */
  private def rankedPairs(seqs: DataFrame): DataFrame = {
    val pairsArr = when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("l"),
          element_at(syms, j + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
    val pairs = seqs
      .select(explode(pairsArr).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("c"))
    val symCounts = seqs
      .select(explode(syms).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").as("sc"))
    pairs
      .join(symCounts.select(col("sym").as("l"), col("sc").as("cl")), "l")
      .join(symCounts.select(col("sym").as("r"), col("sc").as("cr")), "r")
      .select(col("l"), col("r"), col("c"),
        (col("c") * lit(1.0) /
          (col("cl").cast("double") * col("cr").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("l"), col("r"))
  }

  /** Learn `numMerges` likelihood-scored merges (the [[BpeTrain.learn]]
    * loop with the WordPiece argmax — same checkpoint discipline: each
    * round's frame frees its predecessor's blocks, and pair exhaustion
    * BREAKS the loop rather than re-running a fixed-point aggregation
    * for every remaining rank). */
  def learn(documents: DataFrame, numMerges: Int): Seq[Merge] = {
    var seqs = wordSeqs(documents).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var continue = rank <= numMerges
    while (continue) {
      val best = rankedPairs(seqs).limit(1).collect()
      if (best.isEmpty) continue = false
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(rank, l, r, best(0).getLong(2), best(0).getDouble(3))
        val prev = seqs
        seqs = seqs.select(
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")).as("seq"),
          col("freq")).localCheckpoint()
        graft.Frozen.release(prev)
        rank += 1
        continue = rank <= numMerges
      }
    }
    merges.result()
  }

  /** Do two candidate WordPiece merges interfere? STRICTLY STRONGER
    * than [[BpeTrain.conflicts]] (r19 VERDICT #3's "the likelihood
    * denominator makes batching subtler"): beyond BPE's adjacency
    * overlap and created-symbol collisions — which change a pair's
    * occurrence COUNT — applying `a` also changes the SYMBOL counts of
    * both its operands (each loses c(a) occurrences) and introduces the
    * merged symbol, so any candidate sharing an operand symbol with `a`
    * would have had a different likelihood DENOMINATOR (hence score,
    * hence possibly a different argmax position) under sequential
    * training, even when its own occurrence count is untouched. Two
    * candidates are exact-batchable only when their operand symbol sets
    * are disjoint AND neither's merged symbol spells one of the other's
    * operands. */
  def conflicts(a: (String, String), b: (String, String)): Boolean = {
    val (al, ar) = a
    val (bl, br) = b
    al == bl || al == br || ar == bl || ar == br ||
      al + ar == bl || al + ar == br ||
      bl + br == al || bl + br == ar
  }

  /** [[learn]] with the driver round-trips amortized — the
    * [[BpeTrain.learnBatched]] loop under the WordPiece argmax and the
    * stronger [[conflicts]] predicate: each round ranks pairs ONCE by
    * likelihood score, collects a bounded candidate window, greedily
    * selects the top `batchSize` pairwise non-conflicting pairs
    * (interfering candidates are skipped, not batch-enders), and
    * applies the whole batch in one replace pass —
    * numMerges/batchSize Spark jobs instead of numMerges. At a BERT
    * 30k-piece vocabulary that is ~1k scheduler round-trips instead of
    * 30k serial driver rounds.
    *
    * Exactness: every selected pair's recorded (count, score) is the
    * value sequential training would have computed — within a batch no
    * selected merge touches another's pair occurrences OR operand
    * symbol counts (that is exactly what [[conflicts]] forbids) — but
    * the TRACE can diverge when a skipped conflicting candidate, or a
    * pair involving a symbol created mid-batch, would have been
    * sequential's next argmax. `batchSize = 1` reproduces [[learn]]
    * exactly; WordPieceBatchSpec replays each batch one-merge-at-a-time
    * and pins batched ≡ sequential whenever no such interleaving
    * occurs. */
  def learnBatched(
      documents: DataFrame, numMerges: Int, batchSize: Int): Seq[Merge] = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    var seqs = wordSeqs(documents).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var continue = rank <= numMerges
    while (continue) {
      val remaining = numMerges - rank + 1
      val cap = math.min(batchSize, remaining)
      val top = rankedPairs(seqs).limit(math.max(cap * 4, 8)).collect()
      if (top.isEmpty) continue = false
      else {
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long, Double)]
        var i = 0
        while (i < top.length && selected.size < cap) {
          val cand = (top(i).getString(0), top(i).getString(1),
            top(i).getLong(2), top(i).getDouble(3))
          if (selected.forall(s => !conflicts((s._1, s._2), (cand._1, cand._2))))
            selected += cand
          i += 1 // interfering candidates are skipped, not batch-enders
        }
        selected.foreach { case (l, r, c, sc) =>
          merges += Merge(rank, l, r, c, sc)
          rank += 1
        }
        val prev = seqs
        val mergedSeq = selected.foldLeft(col("seq")) { case (s, (l, r, _, _)) =>
          replace(s, lit(s" $l  $r "), lit(s" $l$r "))
        }
        seqs = seqs.select(mergedSeq.as("seq"), col("freq")).localCheckpoint()
        graft.Frozen.release(prev)
        continue = rank <= numMerges
      }
    }
    merges.result()
  }

  /** [[learn]] as a DataFrame (the q_wordpiece_train contract):
    * (rank, left, right, pair_freq, score(6)). */
  def learnDf(spark: SparkSession, documents: DataFrame,
      numMerges: Int): DataFrame = {
    import spark.implicits._
    learn(documents, numMerges)
      .map(m => (m.rank, m.left, m.right, m.pairFreq,
        BigDecimal(m.score).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("rank", "left", "right", "pair_freq", "score")
  }

  /** Greedy longest-match segmentation of each (word, freq) row under a
    * bounded `##`-convention vocabulary:
    * (word, freq, segmentation, n_pieces) — NULLs for [UNK] words (no
    * piece matches at some position). One fold per word: the outer
    * aggregate walks positions 1..len, acting only when a step lands on
    * the current frontier; the inner fold probes lengths ascending and
    * keeps the LAST (longest) vocabulary hit. */
  def greedySegment(words: DataFrame, vocab: Set[String],
      maxPieceLen: Int): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    val mp = typedLit(vocab.map(_ -> true).toMap)
    val word = col("word")
    val unk = struct(lit(-1).as("pos"), lit(null).cast("int").as("np"),
      lit(null).cast("string").as("seg"))
    val fold = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(0).as("pos"), lit(0).as("np"),
        lit("").cast("string").as("seg")),
      (acc, i) => {
        val pos = acc.getField("pos")
        val bestLen = aggregate(
          sequence(lit(1), least(lit(maxPieceLen), length(word) - pos)),
          lit(0),
          (b, l) => {
            val body = word.substr(pos + lit(1), l)
            val piece = when(pos === 0, body)
              .otherwise(concat(lit("##"), body))
            when(try_element_at(mp, piece).isNotNull, l).otherwise(b)
          })
        val body = word.substr(pos + lit(1), bestLen)
        val piece = when(pos === 0, body)
          .otherwise(concat(lit("##"), body))
        when(pos < 0 || i =!= pos + 1, acc) // done/UNK, or mid-piece step
          .when(bestLen === 0, unk) // maximal munch dead end: [UNK]
          .otherwise(struct(
            (pos + bestLen).as("pos"),
            (acc.getField("np") + 1).as("np"),
            when(acc.getField("np") === 0, piece)
              .otherwise(concat(acc.getField("seg"), lit(" "), piece))
              .as("seg")))
      },
      acc => when(length(word) === 0, unk).otherwise(acc))
    words
      .withColumn("_v", fold)
      .select(col("word"), col("freq"),
        col("_v.seg").as("segmentation"),
        col("_v.np").cast("long").as("n_pieces"))
  }
}
