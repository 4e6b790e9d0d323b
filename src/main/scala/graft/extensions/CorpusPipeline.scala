package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning — the composition every
  * LLM-data pipeline runs, built entirely from this engine's operators:
  *
  *   quality gate → exact dedup → near-dup removal (MinHash-LSH) →
  *   deterministic train/val split
  *
  * Every stage is a DataFrame transform (no collects, no UDFs), so the
  * whole pipeline is one Catalyst plan: at 100 TB it runs as a handful
  * of shuffles (quality gate is narrow; exact dedup shuffles on the
  * content hash; LSH shuffles on band keys; the split is narrow again).
  *
  * Near-dup policy is greedy-keep-lowest: every pair (a < b) drops b, so
  * the lowest doc_id of each near-dup chain survives. Deterministic and
  * order-independent. The split hashes doc_id (content-independent, so
  * re-cleaning with new thresholds never migrates surviving docs across
  * splits). */
object CorpusPipeline {

  final case class Thresholds(
      minTokens: Long = 20,
      maxTokens: Long = 70,
      maxStopRatio: Double = 0.12,
      trainHexBound: String = "c") // md5 first hex < bound → train (c = 75%)

  /** The quality gate: [[TextAnalysis.qualityScore]]'s `n_tok` in
    * [minTokens, maxTokens] and its `stop_ratio` ≤ maxStopRatio. */
  private def quality(t: Thresholds): Column =
    TextAnalysis.nTok.between(t.minTokens, t.maxTokens) &&
      TextAnalysis.stopRatio(Funnel.DefaultStopwords) <= t.maxStopRatio

  /** The quality gate is one narrow `filter` on `documents`. A row whose
    * `doc_id` is NULL passes it but never survives: the exact-dedup
    * keeper join on `doc_id` drops it.
    *
    * @param containmentTau as [[cleanFull]]'s: when set, the near-dup
    *   stage drops the CONTAINED side of each candidate pair instead of
    *   blindly dropping b. */
  def clean(documents: DataFrame, t: Thresholds = Thresholds(),
      containmentTau: Option[Double] = None): DataFrame =
    dedupAndSplit(documents, documents.filter(quality(t)), t,
      containmentTau = containmentTau)

  /** [[clean]] plus the two remaining gates a pretraining pipeline runs —
    * a repetition/boilerplate gate and benchmark decontamination:
    *
    *   quality gate → repetition gate → decontamination → exact dedup →
    *   near-dup removal (MinHash-LSH) → deterministic split
    *
    * Gate order is cost order: the two narrow per-row gates (quality,
    * duplicate-bigram ratio) are one `filter`, ahead of the
    * decontamination broadcast probe, which drops rows before anything
    * that shuffles (content-hash dedup, LSH banding). As in [[clean]], a
    * NULL `doc_id` passes the gates and is dropped by the keeper join.
    *
    * The decontaminated frame is materialized once (localCheckpoint):
    * the dedup tail references it several times (hash keepers, the
    * keeper join, the LSH semi side, the final anti-join), and leaving
    * it lazy re-evaluates the whole gate chain — shuffles included —
    * per reference (measured 20 s vs 3 s at sf0.1). At cluster scale
    * this is the natural stage boundary a pipeline persists to storage
    * between gating and dedup. The checkpoint job and the survivor
    * frame carry [[funnelFull]]'s stage counts as observed metrics
    * (`Dataset.observe`, named apart per call).
    *
    * @param containmentTau when set, the near-dup stage's drop
    *   DIRECTION is decided by containment instead of position: a
    *   candidate pair whose a-side is the contained one (cont_a ≥ tau,
    *   cont_b < tau) drops a — the quote, the re-post, the
    *   boilerplate-wrapped subset — where the default rule blindly
    *   drops b and can keep the fragment over its container
    *   (Round9OpsSpec pins exactly that reversal). Mutual or sub-tau
    *   containment falls back to the usual drop-b rule, so symmetric
    *   near-dups behave as before. Computed from the stage's own
    *   shingles and LSH pairs ([[Dedup.containmentFrom]]) — no extra
    *   signature build, only the candidate-driven intersection joins. */
  def cleanFull(
      documents: DataFrame,
      benchmark: DataFrame,
      t: Thresholds = Thresholds(),
      maxDupBigram: Double = 0.2,
      contamGram: Int = 5,
      containmentTau: Option[Double] = None): DataFrame =
    fullRun(documents, benchmark, t, maxDupBigram, contamGram, containmentTau)._1

  private val runs = new java.util.concurrent.atomic.AtomicLong()

  /** One [[cleanFull]] pass: its survivors, and the funnel report of
    * this pass, to be read after an action ran `executed` (the
    * survivors or a frame over them) through `executed`'s own
    * QueryExecution, e.g. by `collect()`. The stages are sequential, so
    * each stage's drops are the difference of the counts before and
    * after it. A count no job observed reads 0: an empty input can
    * leave a branch unexecuted. */
  private[extensions] def fullRun(
      documents: DataFrame,
      benchmark: DataFrame,
      t: Thresholds,
      maxDupBigram: Double,
      contamGram: Int,
      containmentTau: Option[Double]): (DataFrame, DataFrame => DataFrame) = {
    val name = s"graft_funnel_${runs.incrementAndGet()}"
    val (decon, gates) = gatedDecon(documents, benchmark, t, maxDupBigram, contamGram, name)
    val Seq(total, noQuality, noRepetition, nDecon) = gates
    // share=false: the checkpointed frame's plan is unique per run, so
    // session-memoizing shingles or signatures keyed on it would only
    // grow the memo without ever hitting
    val survivors = dedupAndSplit(decon, decon, t, share = false,
      containmentTau = containmentTau, observeAs = Some(name))
    (survivors, executed => {
      val Seq(keepers, nSurvivors) = Seq("keepers", "survivors")
        .map(stage => observed(executed, s"${name}_$stage", 1).head)
      Funnel.ladder(executed.sparkSession,
        Seq("quality", "repetition", "contamination", "exact_dup", "near_dup"),
        total, Seq(noQuality, noRepetition, total - noQuality - noRepetition - nDecon,
          nDecon - keepers, keepers - nSurvivors))
    })
  }

  /** The first `n` counts that the job which ran `executed` observed
    * under `name`, zeros if it observed none. */
  private def observed(executed: DataFrame, name: String, n: Int): Seq[Long] =
    executed.queryExecution.observedMetrics.get(name)
      .fold(Seq.fill(n)(0L))(r => (0 until n).map(r.getLong))

  /** [[cleanFull]]'s GATE stage: quality → repetition →
    * decontamination, MATERIALIZED. Returns the checkpointed
    * decontaminated frame the dedup tail consumes, and the counts its
    * checkpoint job observed: rows in, failed quality, passed quality
    * but failed repetition, rows checkpointed. */
  private def gatedDecon(
      documents: DataFrame,
      benchmark: DataFrame,
      t: Thresholds,
      maxDupBigram: Double,
      contamGram: Int,
      observeAs: String): (DataFrame, Seq[Long]) = {
    val q = quality(t)
    val r = TextAnalysis.dupBigramRatio <= maxDupBigram
    // the flags are projected once, for the counts and the filter
    val gated = documents.select(col("*"), q.as("_q"), r.as("_r"))
      .observe(observeAs, count(lit(1)), count(when(!col("_q"), 1)),
        count(when(col("_q") && !col("_r"), 1)))
      .filter(col("_q") && col("_r"))
      .drop("_q", "_r")
    // decontamination: drop docs sharing any contamGram-gram with the
    // benchmark (5 by default — the eval-leak gram should be long enough
    // that coincidental phrase reuse does not wipe the corpus). The
    // probe re-applies the gates unobserved, so each doc is counted once.
    val contaminated = TextAnalysis
      .contaminationHits(documents.filter(q && r), benchmark, contamGram)
      .select("doc_id")
    val decon = gated.join(contaminated, Seq("doc_id"), "left_anti")
      .observe(s"${observeAs}_decon", count(lit(1)))
    val checkpointed = decon.localCheckpoint()
    (checkpointed, observed(decon, observeAs, 3) ++ observed(decon, s"${observeAs}_decon", 1))
  }

  /** Shared tail of [[clean]]/[[cleanFull]]: exact dedup → LSH near-dup
    * removal (± containment gate) → split, over `gated` (a filtered
    * view of `documents`). With `observeAs`, the keeper aggregate and
    * the survivor frame count their rows under `<observeAs>_keepers`
    * and `<observeAs>_survivors`. */
  private def dedupAndSplit(
      documents: DataFrame, gated: DataFrame, t: Thresholds,
      share: Boolean = true,
      containmentTau: Option[Double] = None,
      observeAs: Option[String] = None): DataFrame = {
    def counted(df: DataFrame, stage: String) = observeAs.fold(df)(name =>
      df.observe(s"${name}_$stage", count(lit(1))))
    // exact dedup: keep the smallest doc_id per content hash
    val keepers = counted(Dedup.exact(gated).select(col("keep_id").as("doc_id")), "keepers")
    val exactDeduped = gated.join(keepers, "doc_id")

    // near-dup removal: MinHash-LSH candidates, drop the b of each pair.
    // The filtered corpus' shingles are derived from the session-shared
    // FULL-corpus shingle frame by a semi-join on the surviving ids —
    // identical rows (per-doc shingles are independent), but the scan +
    // explode + distinct shuffle happens once per session instead of once
    // per pipeline; the keeper-id side is small and broadcasts.
    val sh = Dedup.shingles(documents, share = share)
      .join(exactDeduped.select("doc_id"), "doc_id")
    val pairs = Dedup.minHashLshFromShingles(sh, share = share)
    // optional containment gate: same drop-one-per-pair cardinality,
    // but the DIRECTION follows the content — the contained side goes,
    // whichever position it holds (see cleanFull scaladoc). The SAME
    // shingles and LSH pairs feed the containment scores, so the gate
    // adds only the candidate-driven intersection joins.
    val removed = containmentTau match {
      case Some(tau) =>
        Dedup.containmentFrom(sh, pairs)
          .select(when(col("cont_a") >= tau && col("cont_b") < tau, col("a"))
            .otherwise(col("b")).as("doc_id"))
          .distinct()
      case None => pairs.select(col("b").as("doc_id")).distinct()
    }
    val surviving = exactDeduped.join(removed, Seq("doc_id"), "left_anti")

    // deterministic content-independent split
    counted(surviving.select(col("doc_id"),
      when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < t.trainHexBound,
        lit("train")).otherwise(lit("val")).as("split")), "survivors")
  }

  /** "Where did my corpus go?" — first-fail attribution for
    * [[cleanFull]]'s whole gate chain, in [[Funnel.shape]]'s report
    * shape: (stage_idx, rule, n_dropped, n_remaining) over
    *
    *   quality → repetition → contamination → exact_dup → near_dup →
    *   pass
    *
    * Each doc is attributed to the FIRST stage that drops it, so the
    * per-stage counts sum exactly to `total − survivors` and the pass
    * row's n_remaining equals [[cleanFull]]'s survivor count — the
    * release-note table every corpus ship includes beside its
    * [[DataCard]].
    *
    * The counts are [[cleanFull]]'s own ([[fullRun]]): this runs
    * [[cleanFull]] and one action (a count) on its survivors, and
    * renders the six rows locally from what those jobs observed. */
  def funnelFull(
      documents: DataFrame,
      benchmark: DataFrame,
      t: Thresholds = Thresholds(),
      maxDupBigram: Double = 0.2,
      contamGram: Int = 5): DataFrame = {
    val (survivors, report) =
      fullRun(documents, benchmark, t, maxDupBigram, contamGram, None)
    val total = survivors.agg(count(lit(1)))
    total.collect()
    report(total)
  }
}
