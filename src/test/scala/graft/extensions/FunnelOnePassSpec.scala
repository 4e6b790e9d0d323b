package graft.extensions

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The funnel is cleanFull's own pass: building and collecting
  * `funnelFull`'s report submits no more jobs than `cleanFull` followed
  * by one action on its survivors, and no `localCheckpoint` of its own.
  * (A plan-text scan count would read 0 on the local report frame.) */
class FunnelOnePassSpec extends SparkSpec {

  /** Call sites of every job `body` submits. */
  private def jobs(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      // a job's result stage is named after the job's call site
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.maxByOption(_.stageId).foreach(s => seen.add(s.name))
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  test("funnelFull runs cleanFull's jobs plus one action") {
    // 30-token docs over a 60-word vocabulary: every stage has rows
    val docs = spark.range(600).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), i =>
        concat(lit("w"), ((col("id") % 97 * 7 + i * (col("id") % 5 + 1)) % 60)
          .cast("string")))).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    CorpusPipeline.funnelFull(corpus, bench) // warm-up
    val clean = jobs(CorpusPipeline.cleanFull(corpus, bench).agg(count(lit(1))).collect())
    val funnel = jobs(CorpusPipeline.funnelFull(corpus, bench).collect())
    assert(funnel.size <= clean.size,
      s"funnelFull ${funnel.size} jobs, cleanFull + one action ${clean.size}:\n" +
        s"${funnel.mkString("\n")}\n--\n${clean.mkString("\n")}")
    def checkpoints(sites: Seq[String]) =
      sites.count(_.startsWith("localCheckpoint at CorpusPipeline"))
    assert(checkpoints(clean) > 0, s"gatedDecon's checkpoint was not seen: $clean")
    assert(checkpoints(funnel) == checkpoints(clean), funnel)
  }
}
