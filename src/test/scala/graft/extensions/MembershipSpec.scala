package graft.extensions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** bloomSemiJoin's contract is exact left-semi-join equivalence — the
  * Bloom filter only prunes. Pinned here at both fpp extremes (a sloppy
  * filter passes false positives the exact join must remove; a tight one
  * must not drop true members — Bloom filters have no false negatives),
  * plus the two scale claims the scaladoc makes: the filter rides a
  * broadcast variable (never a plan-embedded multi-MB literal) and the
  * documented 10⁷-key sizing point actually builds and probes. */
class MembershipSpec extends SparkSpec {
  import spark.implicits._

  private lazy val big = Seq(
    (1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"),
    (5L, "alpha"), (6L, "epsilon"), (7L, "zeta"))
    .toDF("doc_id", "s")
  private lazy val ref = Seq("alpha", "gamma", "zeta", "omega").toDF("s")

  private def exact = big.join(ref.distinct(), Seq("s"), "left_semi")
    .select("doc_id").as[Long].collect().toSet

  test("equivalent to the plain left-semi join at a sloppy fpp (0.5)") {
    val got = Membership.bloomSemiJoin(big, ref, "s", expectedItems = 4, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got == exact)
  }

  test("equivalent at a tight fpp (1e-6): no false negatives ever") {
    val got = Membership.bloomSemiJoin(big, ref, "s", expectedItems = 4, fpp = 1e-6)
      .select("doc_id").as[Long].collect().toSet
    assert(got == exact)
  }

  test("duplicate keys on the big side all survive (semi-join, not dedup)") {
    val got = Membership.bloomSemiJoin(big, ref, "s", expectedItems = 4)
      .select("doc_id").as[Long].collect().toList.sorted
    assert(got == List(1L, 3L, 5L, 7L))
  }

  test("empty reference set returns no rows") {
    val got = Membership.bloomSemiJoin(big, ref.filter(lit(false)), "s",
      expectedItems = 1)
    assert(got.count() == 0)
  }

  test("the probe rides a broadcast variable, not a plan literal, and " +
    "the throwaway registry entry is dropped") {
    // a distributed big side: over a LocalRelation the optimizer's
    // ConvertToLocalRelation evaluates the probe at planning time and it
    // vanishes from the physical plan (correct, but nothing to assert on)
    val bigDist = spark.range(1, 8).select(col("id").as("doc_id"),
      element_at(
        lit(Array("alpha", "beta", "gamma", "delta", "alpha", "epsilon", "zeta")),
        col("id").cast("int")).as("s"))
    val df = Membership.bloomSemiJoin(bigDist, ref, "s", expectedItems = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_probe"), plan)
    assertProbeIsBroadcast(df)
    val leaked = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_bloom_probe"))
    assert(leaked.isEmpty, leaked.mkString(","))
  }

  test("documented sizing point: 10^7-key filter (~12 MB bitset) builds, " +
    "broadcasts, and stays exactly equivalent") {
    // reference = 0..10^7; probe window straddles the upper boundary so
    // half the probes are members, half are not
    val refBig = spark.range(10000000L).select(col("id").cast("long").as("s"))
    val probe = spark.range(9950000L, 10050000L)
      .select(col("id").as("doc_id"), col("id").cast("long").as("s"))
    val got = Membership.bloomSemiJoin(probe, refBig, "s",
      expectedItems = 10000000L, fpp = 0.01)
    assert(got.count() == 50000L)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_probe"), plan)
    assertProbeIsBroadcast(got)
  }

  test("repeated calls with the same reference reuse ONE broadcast filter") {
    val bigDist = spark.range(1, 8).select(col("id").as("doc_id"),
      concat(lit("w"), col("id")).as("s"))
    val refDist = spark.range(1, 4).select(concat(lit("w"), col("id")).as("s"))
    def probeLit(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .collect { case n => n.expressions }.flatten
        .flatMap(e => e.collect { case p: graft.functions.BloomProbe => p })
        .head.bf
    val a = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 100))
    val b = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 100))
    assert(a eq b, "same (ref plan, params) must reuse the memoized broadcast")
    // different params build a different filter
    val c = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 200))
    assert(!(a eq c))
    // refresh=true rebuild-and-swaps: new broadcast, and the memo serves
    // the NEW one afterwards (the escape hatch for a reference with no
    // file leaves, whose changes the memo cannot see)
    val d = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 100,
      refresh = true))
    assert(!(a eq d), "refresh must not serve the stale broadcast")
    val e = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 100))
    assert(d eq e, "post-refresh calls reuse the refreshed broadcast")
  }

  test("old plans outlive back-to-back refreshes; memo serves the newest") {
    val bigDist = spark.range(1, 8).select(col("id").as("doc_id"),
      concat(lit("w"), col("id")).as("s"))
    val refDist = spark.range(1, 4).select(concat(lit("w"), col("id")).as("s"))
    def probeLit(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .collect { case n => n.expressions }.flatten
        .flatMap(e => e.collect { case p: graft.functions.BloomProbe => p })
        .head.bf
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // fresh memo entry for this test (expectedItems distinguishes keys);
    // two refreshes in quick succession swap the filter twice while the
    // plans built before them are still unexecuted
    val planA = Membership.bloomSemiJoin(bigDist, refDist, "s", 300)
    val planD = Membership.bloomSemiJoin(bigDist, refDist, "s", 300,
      refresh = true)
    val planE = Membership.bloomSemiJoin(bigDist, refDist, "s", 300,
      refresh = true)
    val (a, d, e) = (probeLit(planA), probeLit(planD), probeLit(planE))
    assert(!(a eq d) && !(d eq e) && !(a eq e), "each refresh builds anew")
    val want = Set((1L, "w1"), (2L, "w2"), (3L, "w3"))
    assert(rows(planA) == want, "a plan built before both refreshes runs")
    assert(rows(planD) == want, "a plan built between the refreshes runs")
    assert(rows(planE) == want)
    val served = probeLit(Membership.bloomSemiJoin(bigDist, refDist, "s", 300))
    assert(served eq e, "the memo serves the newest broadcast")
  }

  /** Direct structural check (not a plan-string-length proxy, which
    * Spark's literal truncation could fool): the analyzed plan contains
    * the BloomProbe expression and NO oversized binary literal — a
    * regression to embedding the serialized bitset in the plan would
    * surface as a BinaryType Literal of bitset size. */
  private def assertProbeIsBroadcast(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val exprs = df.queryExecution.analyzed
      .collect { case n => n.expressions }.flatten
      .flatMap(e => e.collect { case x => x })
    assert(exprs.exists(_.isInstanceOf[graft.functions.BloomProbe]),
      "BloomProbe expression missing from analyzed plan")
    val bigBin = exprs.collect {
      case Literal(v: Array[Byte], BinaryType) if v != null && v.length > 4096 =>
        v.length
    }
    assert(bigBin.isEmpty, s"binary literals of sizes $bigBin embedded in plan")
  }
}
