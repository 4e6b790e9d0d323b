package graft.queries

import graft.SparkSpec

/** Production-readiness sweep: every registered query runs against an
  * EMPTY lake (every table schema-identical to testdata, zero rows) —
  * the day-one / empty-partition / filtered-to-nothing reality any
  * 100 TB pipeline hits. The contract:
  *
  *  - a query either evaluates to a frame (usually empty), or
  *  - fails with an INTENTIONAL, clearly-worded error (trainers and
  *    samplers that genuinely need data throw IllegalArgument/
  *    IllegalState with a message naming the missing input) —
  *
  * never a raw NullPointerException / NoSuchElementException /
  * ArrayIndexOutOfBounds from an unguarded head()/collect()(0). The
  * whitelist below is the audited census of queries that REQUIRE a
  * non-empty corpus by their nature; everything else must survive.
  */
class EmptyCorpusSpec extends SparkSpec {

  /** Operators whose semantics genuinely need rows (model training,
    * percentile cutoffs, single-row probes); each must still fail with
    * an intentional exception type + message, asserted below. */
  private val needsData: Set[String] = EmptyCorpusSpec.needsData

  test("every registered query survives an empty lake or fails intentionally") {
    sweep(rows = 0)
  }

  test("every registered query survives a single-row lake (degenerate but non-empty)") {
    // one row per table exercises the OTHER degenerate paths: pair
    // generators with no pairs, percentiles of a single point, windows
    // of one, LSH with nothing to band against
    sweep(rows = 1)
  }

  private def sweep(rows: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-deg$rows").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      graft.Tables.table(spark, "/root/testdata/sf0.001", t)
        .limit(rows).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")

    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    Registry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // the noop sink evaluates EVERY output column; count() lets
        // Catalyst prune columns no row count depends on, so a failing
        // value expression would pass the sweep unevaluated
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        if (needsData(name))
          bad += s"$name: whitelisted as needs-data but succeeded — tighten the list"
      } catch {
        case e: Throwable =>
          val root = {
            var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause
            c
          }
          val intentional = (root.isInstanceOf[IllegalArgumentException] ||
            root.isInstanceOf[IllegalStateException] ||
            root.isInstanceOf[org.apache.spark.SparkException] &&
              root.getMessage != null && root.getMessage.contains("empty")) &&
            root.getMessage != null && root.getMessage.nonEmpty
          if (!needsData(name))
            bad += s"$name: ${root.getClass.getSimpleName}: ${root.getMessage}"
          else if (!intentional)
            bad += s"$name: whitelisted, but the failure is UNDOCUMENTED " +
              s"(${root.getClass.getSimpleName}: ${root.getMessage})"
      }
    }
    assert(bad.isEmpty, s"\n${bad.size} empty-lake violations:\n  " +
      bad.mkString("\n  "))
  }
}

object EmptyCorpusSpec {
  // populated by the round-11 audit; see the spec scaladoc
  val needsData: Set[String] = Set.empty
}
