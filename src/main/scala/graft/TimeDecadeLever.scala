package graft

import org.apache.spark.sql.functions._

import graft.extensions.{CorpusPipeline, Postings}
import graft.streaming.StreamingPostings

/** Dev measurement for the r17 decade-factor attribution (VERDICT #3):
  * the two steepest sf1→sf10 rows — q_corpus_clean_full (4.5×/decade)
  * and q_postings_compact (3.9×) — are CLAIMED to be fixed-cost
  * amortization approaching linear, not a super-linear term. This
  * lever proves it the TimeHammingLever way: each query's dominant
  * stages are billed SOLO at both scales, so the per-decade factor of
  * every stage (and the fixed-cost share, the part that does NOT grow
  * 10×) is measured instead of argued.
  *
  * Stage splits (the queries' own seams, not re-derivations):
  *  - ccf_gates: [[CorpusPipeline.gatedDecon]] — the narrow
  *    quality/repetition filters + the decontamination broadcast probe,
  *    materialized (the pipeline's checkpoint boundary).
  *  - ccf_dedup_tail: [[CorpusPipeline.dedupAndSplit]] from an
  *    ALREADY-checkpointed decon frame — exact-dedup groupBy + LSH
  *    banding self-join + split, with the gate cost excluded.
  *  - pc_termpairs: [[Postings.termPairs]] materialized — the one
  *    corpus scan + explode + distinct shuffle all three legs cut from.
  *  - pc_lsm_chain: base build + delta + compact + delta + view from an
  *    ALREADY-checkpointed pair frame — the window/groupBy tail.
  *
  * Usage: runMain graft.TimeDecadeLever [sfDir] [reps] [stage,...] */
object TimeDecadeLever {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "testdata_sf1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession.tool(defaultCpus = 16, logLevel = "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)

    def time(label: String)(body: => Long): Unit =
      if (only.isEmpty || only(label)) (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = body
        println(f"LEVER $label rep=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }

    // ---- q_corpus_clean_full ----
    var decon: org.apache.spark.sql.DataFrame = null
    time("ccf_gates") {
      Memo.evict(spark, Memo.DedupFrames) // cold, like the bench row
      decon = CorpusPipeline.gatedDecon(corpus, bench)
      decon.count()
    }
    time("ccf_dedup_tail") {
      if (decon == null) decon = CorpusPipeline.gatedDecon(corpus, bench)
      val out = CorpusPipeline.dedupAndSplit(decon, decon,
        CorpusPipeline.Thresholds(), shareShingles = false)
      out.write.format("noop").mode("overwrite").save()
      -1L
    }

    // ---- q_merge_scd_wide: projection-only baseline (r17 VERDICT #6
    // follow-up) — evaluating both snapshots' 53 computed columns with
    // no merge at all separates "1.6 B expression evaluations" (the
    // floor any engine pays to materialize the output) from the SCD
    // machinery's own cost (the full-outer SMJ carrying the wide
    // payload through its sort) ----
    time("mw_proj_only") {
      graft.queries.CoreQueries.wideSnap(spark, sfDir, perturb = false,
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .write.format("noop").mode("overwrite").save()
      graft.queries.CoreQueries.wideSnap(spark, sfDir, perturb = true,
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .write.format("noop").mode("overwrite").save()
      -1L
    }

    // ---- q_postings_compact ----
    var pairs: org.apache.spark.sql.DataFrame = null
    time("pc_termpairs") {
      Memo.evict(spark, Memo.DedupFrames)
      pairs = Postings.termPairs(docs).localCheckpoint()
      pairs.count()
    }
    time("pc_lsm_chain") {
      if (pairs == null) pairs = Postings.termPairs(docs).localCheckpoint()
      val base = Postings.buildFromPairs(pairs.filter(col("doc_id") % 4 >= 2))
      val log0 = Postings
        .appendDeltaFromPairs(base, pairs.filter(col("doc_id") % 4 === 1))
        .withColumn("batch_id", lit(0L))
      val compacted = StreamingPostings.compact(base, log0).localCheckpoint()
      val log1 = Postings
        .appendDeltaFromPairs(compacted, pairs.filter(col("doc_id") % 4 === 0))
        .withColumn("batch_id", lit(1L))
      StreamingPostings.view(compacted, log1).orderBy("term")
        .write.format("noop").mode("overwrite").save()
      -1L
    }
    spark.stop()
  }
}
