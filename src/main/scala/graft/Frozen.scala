package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The release half of `localCheckpoint`. A checkpointed frame's blocks
  * belong to the RDD under its `LogicalRDD` plan, so
  * `Dataset.unpersist` does not free them; without [[release]] they
  * stay until the JVM's GC collects the RDD and Spark's ContextCleaner
  * runs. A loop that checkpoints each round (a BPE merge, a
  * micro-batch fold) keeps one copy per round until then. */
object Frozen {

  /** Free the blocks behind `df`, a frame returned by
    * `localCheckpoint()`. A read of `df`, or of any frame derived from
    * it, fails afterwards. A frame whose plan is not a `LogicalRDD` is
    * left alone — no worse than not freeing. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
