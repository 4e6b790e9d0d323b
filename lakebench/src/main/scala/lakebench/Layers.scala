package lakebench

import Main.{median, quantile}

/** Per-layer numbers of one traced phase. Layers are the program's
  * modules; a Spark job belongs to the layer of its call site's module
  * ([[Tracer.siteLayer]]) or, when called from the benchmark's own
  * files, to the span that submitted it. Per-op values divide by the
  * number of calls into that layer during the traced phase. */
final class Layers(workload: String, tr: Tracer, t: Phase,
    live: Run#Live) {

  private val spans = tr.allSpans
  private val byId = spans.map(s => s.id -> s).toMap
  // jobs of the interleaved untraced operations carry no span
  private val jobs = tr.allJobs.filter(_.span != 0)

  private def layerOf(j: Job): String =
    Tracer.siteLayer(j.site).getOrElse(byId.get(j.span).map(_.layer).getOrElse("driver"))

  private def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
  private def meanMs(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size
  private def per(total: Double, n: Int) = if (n == 0) 0.0 else total / n
  private def jobMs(js: Seq[Job]) = js.map(j => math.max(0L, j.end - j.start)).sum.toDouble

  private def stagesOf(js: Seq[Job]): Seq[StageAgg] =
    js.flatMap(_.stages).distinct.flatMap(id => Option(tr.stages.get(id)))

  import Layers.Sums

  private def sums(js: Seq[Job]): Sums = {
    val ss = stagesOf(js)
    Sums(ss.map(_.tasks).sum, ss.map(_.runMs).sum.toDouble, ss.map(_.gcMs).sum.toDouble,
      ss.map(_.shuffleWrite).sum / 1e6, ss.map(_.spill).sum / 1e6,
      ss.map(_.inputBytes).sum / 1e6, ss.map(_.inputRecords).sum, ss.map(_.outputBytes).sum / 1e6)
  }

  private def planMs(js: Seq[Job]): Double =
    js.map(_.execId).filter(_ >= 0).distinct.map(id => Option(tr.planMs.get(id)).map(_.doubleValue).getOrElse(0.0)).sum

  /** Self time: a span's duration minus its children's. */
  private val selfMs: Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  def metrics: Seq[(String, Double, String)] = {
    val roots = spans.filter(_.parent == 0)
    val nOps = roots.size

    // analytics (+ functions): the three analyst queries
    val aSpans = spans.filter(_.layer == "analytics")
    val aJobs = jobs.filter(layerOf(_) == "analytics")
    val aSum = sums(aJobs)
    val aPlan = per(planMs(aJobs), aSpans.size)

    // ingest side: one runOnce per admit
    val cycles = named("ingest", "runOnce")
    val nAdmit = cycles.size
    val cycleIds = cycles.map(_.id).toSet
    val inCycle = jobs.filter(j => cycleIds(j.span))
    val scanStages = stagesOf(inCycle).filter(_.inputBytes > 0)
    val mergeJobs = jobs.filter(layerOf(_) == "merge")
    val mSum = sums(mergeJobs)
    val pSum = sums(jobs.filter(layerOf(_) == "plans"))
    val lake = if (nAdmit > 0) Some(live.lake) else None
    val lastAdmits = lake.map(l => l.changedFracs.takeRight(nAdmit)).getOrElse(Vector.empty)
    val lastFiles = lake.map(l => l.filesWritten.takeRight(nAdmit)).getOrElse(Vector.empty)

    // extensions: one CorpusPipeline.clean per curation op
    val eSpans = named("extensions", "clean")
    val eJobs = jobs.filter(layerOf(_) == "extensions")
    val eSum = sums(eJobs)
    val ePlan = per(planMs(eJobs), eSpans.size)

    val allStages = tr.stages.values().toArray(Array.empty[StageAgg]).toSeq
    val tasks = allStages.map(_.tasks).sum
    val admitLat = t.admits.map(_.ms)
    def readMs(scope: String) = median(roots.filter(r =>
      r.name.endsWith(scope) && !r.name.startsWith("gauges")).map(_.ms))
    val selfByLayer = roots.flatMap(r => spans.filter(_.op == r.op)).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(s => selfMs(s.id)).sum }

    Seq(
      ("session.build_ms", live.buildMs, "ms"),
      ("tables.load_ms", meanMs(named("tables", "table")), "ms"),
      ("tables.miss_frac", per(live.reader.tableMisses.toDouble, live.reader.tableCalls.toInt), "fraction"),
      ("analytics.prof_freq_ms", median(named("analytics", "prof_freq").map(_.ms)), "ms"),
      ("analytics.skill_freq_ms", median(named("analytics", "skill_freq").map(_.ms)), "ms"),
      ("analytics.skill_pivot_ms", median(named("analytics", "skill_pivot").map(_.ms)), "ms"),
      ("analytics.all_years_ms", readMs(".all_years"), "ms"),
      ("analytics.one_year_ms", readMs(".one_year"), "ms"),
      ("analytics.plan_ms", aPlan, "ms"),
      ("analytics.exec_ms", math.max(0.0, meanMs(aSpans) - aPlan), "ms"),
      ("analytics.jobs_per_op", per(aJobs.size.toDouble, aSpans.size), "count"),
      ("analytics.tasks_per_op", per(aSum.tasks.toDouble, aSpans.size), "count"),
      ("analytics.scan_mb", per(aSum.inMb, aSpans.size), "MB"),
      ("analytics.shuffle_write_mb", per(aSum.shuffleMb, aSpans.size), "MB"),
      ("analytics.rows_scanned_per_row_out",
        per(aSum.inRecords.toDouble, live.reader.resultRows.toInt), "ratio"),
      ("sources.read_ms", per(meanMs(named("sources", "read")) * named("sources", "read").size +
        scanStages.map(_.runMs).sum, nAdmit), "ms"),
      ("sources.input_mb", per(scanStages.map(_.inputBytes).sum / 1e6, nAdmit), "MB"),
      ("ingest.hwm_ms", per(jobMs(inCycle.filter(_.site.startsWith("head at IngestJob"))), nAdmit), "ms"),
      ("ingest.cycle_ms", meanMs(cycles), "ms"),
      ("ingest.admit_p50_ms", quantile(admitLat, 0.5), "ms"),
      ("ingest.admit_p75_ms", quantile(admitLat, 0.75), "ms"),
      ("merge.late_check_ms", per(jobMs(mergeJobs.filter(_.site.contains("ScdMerge.scala"))), nAdmit), "ms"),
      ("merge.apply_ms", per(jobMs(mergeJobs.filter(_.site.startsWith("localCheckpoint"))), nAdmit), "ms"),
      ("merge.shuffle_write_mb", per(mSum.shuffleMb, nAdmit), "MB"),
      ("merge.spill_mb", per(mSum.spillMb, nAdmit), "MB"),
      ("merge.gc_ms", per(mSum.gcMs, nAdmit), "ms"),
      ("merge.state_rows", lake.map(_.oracle.size.toDouble).getOrElse(0.0), "rows"),
      ("merge.changed_frac", if (lastAdmits.isEmpty) 0.0 else lastAdmits.sum / lastAdmits.size, "fraction"),
      ("plans.publish_ms", meanMs(named("plans", "writeYearPartitioned")), "ms"),
      ("plans.bytes_written_mb", per(pSum.outMb, nAdmit), "MB"),
      ("plans.files_written", if (lastFiles.isEmpty) 0.0 else lastFiles.sum.toDouble / lastFiles.size, "count"),
      ("plans.stored_bytes_ratio", lake.map(_.lastStoredRatio).getOrElse(0.0), "ratio"),
      ("metrics.freshness_ms", meanMs(named("metrics", "compute")), "ms"),
      ("metrics.export_ms", meanMs(named("metrics", "export")), "ms"),
      ("extensions.plan_ms", ePlan, "ms"),
      ("extensions.exec_ms", math.max(0.0, meanMs(eSpans) - ePlan), "ms"),
      ("extensions.jobs_per_op", per(eJobs.size.toDouble, eSpans.size), "count"),
      ("extensions.shuffle_write_mb", per(eSum.shuffleMb, eSpans.size), "MB"),
      ("extensions.spill_mb", per(eSum.spillMb, eSpans.size), "MB"),
      ("extensions.gc_ms", per(eSum.gcMs, eSpans.size), "ms"),
      ("extensions.survivor_frac", if (workload != "corpus_curation") 0.0
        else per(live.curator.survivors.toDouble, live.curator.docs.toInt), "fraction"),
      ("spark.task_wait_ms", per(allStages.map(_.waitMs).sum.toDouble, tasks.toInt), "ms"),
      ("spark.cpu_busy_frac", allStages.map(_.cpuNs).sum / 1e6 / (t.wallS * 1000.0 * Main.Cores), "fraction"),
      ("trace.overhead_frac",
        median(t.ops.map(_.ms)) / math.max(1e-9, median(t.plainOps.map(_.ms))) - 1.0, "fraction")) ++
      Seq("op", "tables", "analytics", "sources", "ingest", "plans", "metrics", "extensions").map { l =>
        (s"$l.self_ms", per(selfByLayer.getOrElse(l, 0.0), nOps), "ms")
      }
  }
}

object Layers {
  final case class Sums(tasks: Long, runMs: Double, gcMs: Double, shuffleMb: Double,
      spillMb: Double, inMb: Double, inRecords: Long, outMb: Double)
}
