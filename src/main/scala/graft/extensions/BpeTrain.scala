package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge-pair learning — the tokenizer-vocabulary step of a
  * training-data pipeline (SURVEY.md §7.1 step 7 "token counting", taken
  * to its conclusion: learning the subword vocabulary itself).
  *
  * Classic byte-pair encoding (Sennrich et al. 2016): start from
  * characters, repeatedly merge the most frequent adjacent symbol pair.
  * The corpus-scale insight this implementation is built around: BPE
  * never iterates over the corpus — it iterates over the WORD-FREQUENCY
  * table. One corpus pass builds (word, freq); every merge round then
  * works on that table, whose size is the vocabulary (|V| ≪ corpus, even
  * at 100 TB where |V| is a few million), so the expensive part is a
  * single map-side-combinable aggregation and the loop is cheap.
  *
  * Per round, one 1-row argmax is collected to the driver (the chosen
  * pair) — the same bounded per-iteration driver motion as
  * [[KMeans]]'s k centroids; everything else stays distributed. For
  * production vocabulary sizes use [[learnBatched]], which amortizes the
  * per-round Spark job over a batch of non-interfering merges instead of
  * paying one scheduler round-trip per merge.
  *
  * Determinism (the DuckDB oracle of q_bpe_train reproduces the merge
  * sequence bit-for-bit): symbol sequences are strings with a
  * two-space separator and single-space borders, pairs merge via
  * LITERAL left-to-right replace (identical semantics in both engines,
  * including the overlapping-run case "a a a" → "(aa) a"), and the
  * argmax tie-breaks on (count DESC, left ASC, right ASC). */
object BpeTrain {

  case class Merge(rank: Int, left: String, right: String, pair_freq: Long)

  /** The (seq, freq) working frame: every distinct word as a bordered
    * two-space-separated character sequence — " f  a  s  t " — with its
    * corpus frequency. Borders + double separator make a pair occurrence
    * the unambiguous substring " l  r " (symbols never contain spaces),
    * so the merge is a plain literal replace. */
  private def wordSeqs(documents: DataFrame): DataFrame =
    documents
      .select(explode(filter(split(lower(coalesce(col("text"), lit(""))), " "),
        t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(
        concat(lit(" "),
          concat_ws("  ", transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1)))),
          lit(" ")).as("seq"),
        col("freq"))

  /** Ranked adjacent-pair counts of a (seq, freq) frame — the one
    * distributed aggregation each merge round runs, shared by [[learn]]
    * (limit 1) and [[learnBatched]] (limit = candidate window). */
  private def rankedPairs(seqs: DataFrame): DataFrame = {
    val syms = split(trim(col("seq")), "  ")
    // sequence(1, 0) DESCENDS in Spark, so a single-symbol word needs
    // an explicit empty-pairs guard
    val pairsArr = when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("l"),
          element_at(syms, j + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
    seqs
      .select(explode(pairsArr).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("c"))
      .orderBy(col("c").desc, col("l"), col("r"))
  }

  /** Learn `numMerges` merges; returns one row per merge:
    * (rank, left, right, pair_freq), rank starting at 1. */
  def learn(documents: DataFrame, numMerges: Int): Seq[Merge] = {
    var seqs = wordSeqs(documents).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var continue = rank <= numMerges
    while (continue) {
      val best = rankedPairs(seqs).limit(1).collect()
      if (best.isEmpty) continue = false
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += Merge(rank, l, r, c)
        val prev = seqs
        seqs = seqs.select(
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")).as("seq"),
          col("freq")).localCheckpoint()
        graft.Frozen.release(prev) // new round materialized; predecessor's blocks go
        rank += 1
        continue = rank <= numMerges
      }
    }
    merges.result()
  }

  /** Do two candidate merges interfere? Applying `a` can change the
    * occurrence count of `b` (or create occurrences sequential training
    * would have seen) exactly when they touch: adjacency overlap — `a`'s
    * right symbol is `b`'s left (an "x y z" run) or vice versa — or
    * symbol collision — the symbol `a` CREATES spells one of `b`'s
    * operands, so post-`a` sequences contain new `b` sites (and
    * symmetrically). Non-interfering merges see identical counts whether
    * applied together or one-per-round, which is what makes
    * [[learnBatched]]'s within-round batch exact. */
  def conflicts(a: (String, String), b: (String, String)): Boolean = {
    val (al, ar) = a
    val (bl, br) = b
    ar == bl || br == al ||
      al + ar == bl || al + ar == br ||
      bl + br == al || bl + br == ar
  }

  /** [[learn]] with the driver round-trips amortized: each round ranks
    * pairs ONCE, collects a bounded candidate window, greedily selects
    * the top `batchSize` pairwise non-[[conflicts]]ing pairs (interfering
    * candidates are skipped), and applies the whole batch in one replace
    * pass —
    * numMerges/batchSize Spark jobs instead of numMerges. At a
    * production 32k-merge vocabulary that is the difference between ~1k
    * scheduler round-trips and 32k sequential jobs (hours of pure
    * latency regardless of cluster size).
    *
    * Exactness: every selected pair's count is exact (merges in one
    * round never touch each other's occurrences), but the TRACE can
    * diverge from sequential training when a skipped-over conflicting
    * pair — or a pair involving a symbol created mid-batch — would have
    * been sequential's next argmax. The property spec
    * (BpeBatchProperties) replays each batch one-merge-at-a-time and
    * pins batched ≡ sequential whenever no such interleaving occurs;
    * `batchSize = 1` reproduces [[learn]] exactly. This is the standard
    * frequency-threshold batching trade-off of corpus-scale BPE: a
    * slightly reordered merge list for numMerges/batchSize driver
    * round-trips instead of numMerges. */
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
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        while (i < top.length && selected.size < cap) {
          val cand = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (selected.forall(s => !conflicts((s._1, s._2), (cand._1, cand._2))))
            selected += cand
          i += 1 // interfering candidates are skipped, not batch-enders
        }
        selected.foreach { case (l, r, c) =>
          merges += Merge(rank, l, r, c)
          rank += 1
        }
        val prev = seqs
        val mergedSeq = selected.foldLeft(col("seq")) { case (s, (l, r, _)) =>
          replace(s, lit(s" $l  $r "), lit(s" $l$r "))
        }
        seqs = seqs.select(mergedSeq.as("seq"), col("freq")).localCheckpoint()
        graft.Frozen.release(prev)
        continue = rank <= numMerges
      }
    }
    merges.result()
  }

  /** [[learn]] as a driver-verifiable DataFrame (q_bpe_train). */
  def learnDf(spark: SparkSession, documents: DataFrame,
      numMerges: Int): DataFrame = {
    import spark.implicits._
    learn(documents, numMerges).toDF()
  }

  /** Apply a learned merge list to the corpus vocabulary: each distinct
    * word's final symbol segmentation under the merges, with the symbol
    * count — the "apply" half of the tokenizer (subword segmentation is
    * a per-word lookup at inference; here it is the same fold over the
    * bounded merge list, one literal replace per merge). */
  def segment(documents: DataFrame, merges: Seq[Merge]): DataFrame =
    segmentWords(
      documents
        .select(explode(filter(split(lower(coalesce(col("text"), lit(""))), " "),
          t => t =!= "")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")),
      merges)

  /** [[segment]] from an already-derived (word, freq) frame — a caller
    * comparing tokenizers feeds BOTH segmenters the SAME frame, so the
    * two consumers are identical subtrees and the corpus is scanned
    * once (ReuseExchange dedups the shared aggregate;
    * q_tokenizer_fertility's census evidence). */
  def segmentWords(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val seq0 = concat(lit(" "),
      concat_ws("  ", transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))),
      lit(" "))
    val merged = merges.foldLeft(seq0) { (s, m) =>
      replace(s, lit(s" ${m.left}  ${m.right} "), lit(s" ${m.left}${m.right} "))
    }
    words.select(col("word"), col("freq"),
      concat_ws(" ", split(trim(merged), "  ")).as("segmentation"),
      size(split(trim(merged), "  ")).cast("bigint").as("n_symbols"))
  }
}
