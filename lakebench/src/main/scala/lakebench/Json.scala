package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Spans, then jobs, one JSON object a line. */
  def writeTrace(path: Path, tr: Tracer): Unit = {
    Files.createDirectories(path.getParent)
    val spans = tr.allSpans.sortBy(_.start).map { s =>
      s"""{"span": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": ${str(s.layer)}, """ +
        s""""name": ${str(s.name)}, "start_ns": ${s.start}, "end_ns": ${s.end}}"""
    }
    val jobs = tr.allJobs.sortBy(_.id).map { j =>
      s"""{"job": ${j.id}, "span": ${j.span}, "site": ${str(j.site)}, "execution": ${j.execId}, """ +
        s""""start_ms": ${j.start}, "end_ms": ${j.end}, "stages": [${j.stages.mkString(", ")}]}"""
    }
    val plans = tr.planMs.asScala.toSeq.sortBy(_._1).map { case (id, ms) =>
      s"""{"execution": $id, "plan_ms": ${num(ms)}, "site": ${str(Option(tr.execSites.get(id)).getOrElse(""))}}"""
    }
    Files.write(path, (spans ++ jobs ++ plans).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
