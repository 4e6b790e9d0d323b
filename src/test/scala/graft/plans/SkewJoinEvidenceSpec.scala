package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The runtime half of the skew story — [[graft.plans.Skew]] salts the
  * groupBy half; join-side skew is AQE's job (spark.sql.adaptive.skewJoin,
  * on in [[graft.GraftSession]]). A 50%-hot-key join (every even id
  * collapses to key 0), broadcast disabled so the shuffled join cannot
  * dodge the hot partition: with skew-join ON the final adaptive plan's
  * AQEShuffleRead nodes carry PartialReducerPartitionSpec slices; with
  * it OFF the hot partition stays whole. Thresholds are scaled to test
  * bytes (the 256 MB default assumes cluster-sized partitions). */
class SkewJoinEvidenceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("AQE skew-join splits the hot partition when on, leaves it whole when off") {
    val n = 300000L
    val left = spark.range(n).select(
      when(pmod(col("id"), lit(2L)) === 0, lit(0L)).otherwise(col("id")).as("k"),
      sha2(concat(lit("p"), col("id")), 256).as("pad")) // ~64 B payload/row
    val right = spark.range(200000L).select(col("id").as("k"),
      (col("id") * 7L).as("v"))
    // global agg consumes the join without imposing an output
    // partitioning, so OptimizeSkewedJoin is free to split
    def joined = left.join(right, "k")
      .agg(sum(length(col("pad"))).as("bytes"), count(lit(1)).as("rows"))
    // query stages are LEAF nodes holding their subtree in .plan — a
    // plain collect() on the final plan never reaches the
    // AQEShuffleRead below ResultQueryStage
    def splitsOf(df: DataFrame): Int = collect(df.queryExecution.executedPlan) {
      case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
    }.sum
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // skew detection is median-relative: with too few reducer
      // partitions the hot partition IS the median and nothing reads as
      // skewed — pin enough partitions that the median reflects the
      // non-hot keys
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.shuffle.partitions", "8")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
      def splits(on: Boolean): Int = {
        conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
        val probe = joined // fresh Dataset: its executedPlan is this run's
        probe.collect()
        splitsOf(probe)
      }
      val hotRows = left.filter(col("k") === 0L).count()
      val onSplits = splits(on = true)
      val offSplits = splits(on = false)
      val rows = s"hot_rows=$hotRows on=$onSplits off=$offSplits"
      assert(hotRows == 150000L, rows)
      assert(onSplits > 0, rows)
      assert(offSplits == 0, rows)
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }
}
