package graft.extensions

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.Memo
import graft.functions.BloomProbe

/** Bloom-prefiltered cross-corpus membership — the decontamination /
  * "is this already in the reference set?" probe at 100 TB shape.
  *
  * A plain semi-join shuffles EVERY row of the big side on the key; when
  * 99% of rows cannot match (the common case — a benchmark or reference
  * corpus is tiny next to a crawl), that shuffle is almost entirely
  * wasted I/O. Instead: build a Bloom filter over the reference keys
  * once (a treeAggregate producing a few MB of bitset), broadcast it,
  * and drop non-members AT THE SCAN with a codegen-friendly native
  * expression before the exact semi-join removes the false positives.
  * Only the ~fpp fraction of non-matching rows (plus true matches) ever
  * reach the exchange. Same shape as Spark's own AQE runtime bloom
  * filter (InjectRuntimeFilter), made explicit and persistable: a
  * production pipeline builds the filter when the reference set changes
  * and reuses the bytes across every batch.
  *
  * EAGER by design: constructing the returned DataFrame runs the `ref`
  * scan + treeAggregate NOW (a driver-blocking job), because the filter
  * bitset must exist before the big-side plan can embed a probe of it.
  * Callers on a hot path should build once and reuse — the broadcast
  * survives for the session.
  *
  * Sizing: a 1% fpp filter costs ~1.2 bytes/item — 10⁷ reference keys
  * ≈ 12 MB, fine as a broadcast (MembershipSpec proves the 10⁷ probe);
  * ~10⁸ keys ≈ 120 MB is the practical single-driver ceiling. Beyond
  * that, partition the reference set and apply per-partition filters, or
  * fall back to the exact semi-join, which is what the post-filter join
  * already is. The filter rides a BROADCAST VARIABLE (scalar handle in
  * the plan, bitset shipped once per executor) — never a plan-embedded
  * byte literal, which Catalyst would copy on every transform and
  * re-serialize with every stage (see [[graft.functions.BloomProbe]]).
  */
object Membership {

  private val probeId = new AtomicLong(0)

  /** Built filters are memoized per (session, canonicalized ref plan,
    * params) in the [[Memo]] family `bloom` and rebuilt when `ref`'s
    * files change: a filter is ~1.2 bytes/item (up to ~120 MB at the
    * 10⁸-key ceiling), so re-broadcasting one per CALL would accumulate
    * that much driver+executor storage on any repeated (e.g. per-batch)
    * use. A replaced filter is only dropped from the memo — plans built
    * before keep probing it, and Spark's ContextCleaner destroys it once
    * no plan reaches it. */
  private def memoizedFilter(ref: DataFrame, key: Any, refresh: Boolean)(
      build: => BloomFilter): Broadcast[BloomFilter] =
    Memo.of(ref, Memo.BloomFilters, key, refresh)(
      ref.sparkSession.sparkContext.broadcast(build))

  /** Build (or fetch the session-memoized) broadcast Bloom over `ref`'s
    * 64-bit `hashCol` values — the filter half of [[bloomSemiJoin]],
    * exposed for siblings whose probe is NOT followed by an exact join
    * ([[LineDedup.dedupLinesBloom]]'s keep-zero scrub, where a false
    * positive is a tolerated extra drop rather than something a
    * semi-join re-checks). Same memo as [[bloomSemiJoin]]'s filters;
    * callers guard the zero-row NPE themselves (an empty reference
    * usually short-circuits the whole probe). */
  private[graft] def hashSetFilter(
      ref: DataFrame, hashCol: String, expectedItems: Long,
      fpp: Double): Broadcast[BloomFilter] =
    memoizedFilter(ref, ("hashset", hashCol, expectedItems, fpp),
      refresh = false)(ref.stat.bloomFilter(hashCol, expectedItems, fpp))

  /** Filter `df` by a broadcast Bloom probe of `hash` (a 64-bit key
    * expression): keeps rows whose membership answer equals
    * `keepMembers`. The throwaway function-registry seam of
    * [[bloomSemiJoin]] (DataFrame analysis is eager, so the temp
    * registration lives only for the filter call). With
    * `keepMembers = false` the false-positive direction is EXTRA DROPS
    * — the caller owns that contract. */
  private[graft] def filterByProbe(
      df: DataFrame, bfBc: Broadcast[BloomFilter], hash: Column,
      keepMembers: Boolean): DataFrame = {
    val fname = s"graft_bloom_probe_${probeId.incrementAndGet()}"
    val registry = df.sparkSession.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      fname, args => BloomProbe(args.head, bfBc), "built-in")
    try {
      val p = call_function(fname, hash)
      df.filter(if (keepMembers) p else !p)
    } finally registry.dropFunction(FunctionIdentifier(fname))
  }

  /** Rows of `big` whose `keyCol` appears in `ref`'s `keyCol` —
    * exactly the left-semi join result; the Bloom filter only prunes
    * the shuffle.
    *
    * The memoized filter follows `ref`'s files (a rewritten parquet
    * reference rebuilds it). A reference with no file leaves — a JDBC
    * table, an RDD — is keyed on its plan alone; when its contents
    * change, pass `refresh = true` to rebuild and swap the filter, since
    * a stale one prunes newly added keys BEFORE the exact semi-join. */
  def bloomSemiJoin(
      big: DataFrame,
      ref: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.01,
      refresh: Boolean = false): DataFrame = {
    val exactSemi =
      big.join(ref.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
    // stat.bloomFilter NPEs on zero reference rows (the aggregate's merge
    // buffer never initializes); an empty reference also makes the
    // prefilter pointless — the semi-join alone answers (with no rows)
    if (ref.isEmpty) return exactSemi
    val bfBc = memoizedFilter(ref, ("semijoin", keyCol, expectedItems, fpp),
      refresh) {
      ref.select(xxhash64(col(keyCol)).as("k"))
        .stat.bloomFilter("k", expectedItems, fpp)
    }
    // A function-registry builder is the one public seam that lets a
    // captured broadcast become an Expression — see [[filterByProbe]].
    filterByProbe(big, bfBc, xxhash64(col(keyCol)), keepMembers = true)
      .join(ref.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
  }
}
