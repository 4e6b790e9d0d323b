package graft.queries

import graft.SparkSpec

/** The SQL entry surface (SqlQueries): temp views over the harness
  * tables, headline queries as plain `spark.sql` text, and — for the
  * flagship — proof that the SQL text and the DataFrame program compile
  * to the same work. */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every harness table registers as a temp view and is queryable") {
    SqlQueries.registerViews(spark, dir)
    graft.Tables.names.foreach { t =>
      assert(spark.sql(s"SELECT count(1) FROM $t").head().getLong(0) > 0,
        s"view $t empty")
    }
  }

  test("flagship: SQL text and DataFrame program return identical rows") {
    val df = Registry.queries("q_flagship")(spark, dir)
    val sql = Registry.queries("q_flagship_sql")(spark, dir)
    assert(df.columns.toSeq == sql.columns.toSeq)
    // neither side presentation-sorts: compare as full-row-sorted
    assert(sortedRows(df) == sortedRows(sql))
  }

  test("flagship: SQL and DataFrame optimized plans have the same shape") {
    // Alias/exprId naming differs between the two front ends, so compare
    // the operator SKELETON of the optimized plans: same nodes in the
    // same order means Catalyst planned the same work (one aggregate, two
    // windows sharing a partitioning, one WindowGroupLimit pushdown, one
    // filter on rn, one sort). Projects are excluded — the front ends
    // place the (free, narrow) column-pruning projection at different
    // points, which changes no shuffle, window, or scan.
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan
        .collect { case n => n.nodeName }.filterNot(_ == "Project")
    val df = Registry.queries("q_flagship")(spark, dir)
    val sql = Registry.queries("q_flagship_sql")(spark, dir)
    assert(skeleton(df) == skeleton(sql),
      s"plan shapes diverged:\n df=${skeleton(df)}\n sql=${skeleton(sql)}")
  }

  test("SQL twins agree with their DataFrame originals") {
    Seq("q_total_per_year" -> "q_total_per_year_sql",
        "q_pct_window" -> "q_pct_window_sql").foreach { case (a, b) =>
      val da = sortedRows(Registry.queries(a)(spark, dir))
      val db = sortedRows(Registry.queries(b)(spark, dir))
      assert(da == db, s"$a vs $b")
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq
}
