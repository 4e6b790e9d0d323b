package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Round-20 measurement harness (guide §1): for each named query, time
  * the noop sink (min of reps, warm JVM) and summarize the EXECUTED
  * plan — exchange count, shuffle bytes written, join strategies,
  * sorts — so before/after claims are numbers, not vibes.
  * Usage: runMain graft.ProfileMany <sfDir> <reps> <query ...>
  * (`all` as the only query name profiles the whole registry.)
  */
object ProfileMany extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names =
      if (args.length == 3 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val spark = GraftSession.toolMax(logLevel = "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.functions.GraftFunctions.register(spark)
    names.foreach { n =>
      try {
        spark.sparkContext.setJobDescription(n)
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // plan stats from one more executed run (AQE final plan)
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val ops = mapPlans(df.queryExecution.executedPlan)(identity)
        val exch = ops.collect { case e: ShuffleExchangeExec => e }
        val shufMb = exch.flatMap(_.metrics.get("shuffleBytesWritten").map(_.value)).sum / 1e6
        def cnt(sub: String) = ops.count(_.getClass.getSimpleName.contains(sub))
        println(f"PROFILE $n min=${times.min}%.3f reps=${times.map(t => f"$t%.3f").mkString(",")} " +
          f"exchanges=${exch.size} shuffleMB=$shufMb%.1f smj=${cnt("SortMergeJoin")} bhj=${cnt("BroadcastHashJoin")} " +
          f"shj=${cnt("ShuffledHashJoin")} sort=${cnt("SortExec")} scans=${cnt("FileSourceScan")} " +
          f"window=${cnt("Window")} agg=${cnt("HashAggregate")} objagg=${cnt("ObjectHashAggregate")} sortagg=${cnt("SortAggregate")}")
      } catch {
        case e: Throwable =>
          println(s"PROFILE $n FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
