package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span around one call into a module, recorded from the benchmark's
  * side of the call. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that submitted it (a thread-local property), `site` its call site. */
final case class Job(id: Int, span: Long, site: String, execId: Long, start: Long,
    stages: Seq[Int], var end: Long = 0L)

/** Task counters summed per stage. */
final class StageAgg {
  var submitted: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var waitMs = 0L
}

/** Spans and Spark listener counters, kept in memory and summarized when
  * the run ends. With `on = false` every call is a plain pass-through:
  * the untraced run pays nothing but a branch. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val planMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  /** SQL execution id → the call site of the action that started it. AQE
    * submits a query's stage jobs from a pool thread, so their own call
    * site is the pool's; the execution's is the user's. */
  val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId,
        prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
        Option(execSites.get(exec)).orElse(prop("callSite.short"))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse(""),
        exec, e.time, e.stageIds))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(x.executionId, x.description)
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.LakebenchPlans.planMs(x).foreach(planMs.put(x.executionId, _))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(-1L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (s.submitted > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  def start(): Unit = if (on) {
    sc.addSparkListener(listener)
  }

  /** Detach and wait until every queued listener event is delivered. */
  def stop(): Unit = if (on) {
    org.apache.spark.LakebenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** A root span: one benchmark operation. */
  def op[A](layer: String, name: String)(body: => A): A = within(layer, name, root = true)(body)

  def span[A](layer: String, name: String)(body: => A): A = within(layer, name, root = false)(body)

  private def within[A](layer: String, name: String, root: Boolean)(body: => A): A =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get()
      val (parent, op) = if (root || outer.isEmpty) (0L, id) else (outer.head._1, outer.head._2)
      stack.set((id, op) :: outer)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanKey, outer.headOption.map(_._1.toString).orNull)
      }
    }

  def allSpans: Vector[Span] = spans.asScala.toVector
  def allJobs: Vector[Job] = jobs.values.asScala.toVector
}

object Tracer {
  val SpanKey = "lakebench.span"

  /** The layer a job belongs to, from the module file of its call site;
    * jobs called from the benchmark's own files belong to the span that
    * submitted them. */
  def siteLayer(site: String): Option[String] = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "IngestJob.scala" if site.startsWith("localCheckpoint") => Some("merge")
      case "IngestJob.scala" => Some("ingest")
      case "ScdMerge.scala" => Some("merge")
      case "Layout.scala" => Some("plans")
      case "Freshness.scala" => Some("metrics")
      case "Tables.scala" => Some("tables")
      case "CorpusPipeline.scala" | "Dedup.scala" | "TextAnalysis.scala" => Some("extensions")
      case _ => None
    }
  }
}
