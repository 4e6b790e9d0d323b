package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-verifiable query: the Spark formulation plus (when
  * SQL-expressible) a DuckDB oracle over the same parquet tables.
  * Every query is written to be deterministic: the same row SET on
  * every run, rounded floats, exact decimal sums — SURVEY.md §5.1.
  * Row ORDER is not part of a registry query's result: a spec that
  * collects a registry query sorts the rows before comparing them.
  *
  * r21 (optimization guide §2.4): queries no longer end in a
  * presentation `orderBy` — the verifier canonicalizes rows by sorting
  * them before hashing (tools/check.py mimics it; proven by
  * q_length_buckets passing every round with hash-aggregate output
  * order ≠ oracle order), so a trailing global sort bought nothing and
  * cost a range-partitioning sample job + exchange + sort per run — at
  * 100 TB, a full extra pass over every result. `orderBy` survives only
  * where it is semantic: under a `limit` (top-N row SET) or inside a
  * window spec. Row VALUES are untouched; every query re-verified
  * against its oracle at sf0.001/0.01/0.1 after the sweep. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

object Registry {
  lazy val all: Seq[Q] =
    CoreQueries.all ++ ExtensionQueries.all ++ SqlQueries.all ++
      Round4Queries.all ++ Round5Queries.all ++ Round6Queries.all ++
      Round7Queries.all ++ Round8Queries.all ++ Round9Queries.all ++
      Round10Queries.all ++ Round11Queries.all ++ Round12Queries.all ++
      Round13Queries.all ++ Round14Queries.all ++ Round15Queries.all ++
      Round16Queries.all ++ Round17Queries.all ++ Round18Queries.all ++
      Round19Queries.all ++ Round20Queries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.sql.map(q.name -> _)).toMap
}
