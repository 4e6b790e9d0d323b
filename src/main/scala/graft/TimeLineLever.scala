package graft

import org.apache.spark.sql.functions._

/** Dev lever (the TimeDecadeLever discipline applied to the line-dedup
  * family): attribute q_line_dedup's large-sf cost between the CENSUS
  * (which MakeSf1's replica construction grows LINEARLY — adversarial
  * vs a real corpus's slowly-growing template population) and the
  * SCRUB (anti-join + reassembly).
  *
  * Stage A times the scrub of the big corpus against a census FROZEN
  * from sf0.1 — the bounded-census regime a real crawl sees (the
  * boilerplate set is a property of the template population, not the
  * corpus size; StreamingLineGate's freshness contract). The frozen
  * set stays under the broadcast threshold, so this also isolates the
  * broadcast-anti plan the 100 TB deployment would actually run.
  * Stage A′ (r20) repeats A through the frozen BLOOM bitset
  * ([[graft.streaming.StreamingLineGate.admitBatchBloom]]): A − A′ is
  * the anti-join-vs-probe gap at each decade.
  * Stage B times the full self-census path (q_line_dedup's plan) for
  * contrast; B − A ≈ what the corpus-proportional census costs.
  * Stage C (r20) times [[graft.extensions.LineDedup.dedupLinesBloom]]
  * — the 2-pass Bloom path that replaces B's string census with an
  * 8-byte-key census folded into a broadcast bitset and the anti-join
  * with a scan-side probe; C − A ≈ what the CHEAP census costs.
  *
  * Every stage runs cold per rep (shared lines memo + Bloom memo
  * evicted), so B and C each pay their own corpus explode + census —
  * the attribution the lever exists to measure.
  *
  * Usage: runMain graft.TimeLineLever [bigDir] [refDir] [reps] */
object TimeLineLever {
  def main(args: Array[String]): Unit = {
    val bigDir = if (args.length > 0) args(0) else "testdata_sf100"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.tool(defaultCpus = 8, logLevel = "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val big = Tables.table(spark, bigDir, "documents")
    val frozen = graft.streaming.StreamingLineGate
      .freezeBoilerplate(Tables.table(spark, refDir, "documents"))
      .localCheckpoint()
    println(s"LEVER frozen_census_rows=${frozen.count()}")
    def cold(): Unit = {
      Memo.evict(spark, Memo.DedupFrames)
      Memo.evict(spark, Memo.BloomFilters)
    }
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      graft.streaming.StreamingLineGate.admitBatch(big, frozen)
        .write.format("noop").mode("overwrite").save()
      println(f"LEVER scrub_frozen_census rep=$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    // Stage A′ (r20): the same bounded-census steady state through the
    // frozen BLOOM bitset (StreamingLineGate's Bloom regime) — A − A′
    // is what the broadcast anti-join costs over the scan-side probe at
    // each decade. Runs BEFORE any cold() call: eviction DESTROYS the
    // memoized broadcast this stage probes.
    val frozenBloom = graft.streaming.StreamingLineGate
      .freezeBoilerplateBloom(Tables.table(spark, refDir, "documents"))
    require(frozenBloom.nonEmpty, "reference census must have dup lines")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      graft.streaming.StreamingLineGate.admitBatchBloom(big, frozenBloom)
        .write.format("noop").mode("overwrite").save()
      println(f"LEVER scrub_frozen_bloom rep=$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    (1 to reps).foreach { i =>
      cold()
      val t0 = System.nanoTime()
      graft.extensions.LineDedup.dedupLines(big)
        .write.format("noop").mode("overwrite").save()
      println(f"LEVER self_census rep=$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    (1 to reps).foreach { i =>
      cold()
      val t0 = System.nanoTime()
      graft.extensions.LineDedup.dedupLinesBloom(big)
        .write.format("noop").mode("overwrite").save()
      println(f"LEVER self_census_bloom rep=$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
