package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.QualityRules

/** The Gopher rule battery running AT ADMISSION (r18 VERDICT #7): the
  * admission loop could already gate on the funnel and the classifier
  * but had no live per-rule rejection counts — the numbers a filter
  * operator actually watches to tune thresholds. [[QualityRules]] is
  * stateless per-document, so this is the cheapest possible streaming
  * twin: per micro-batch, one narrow codegen'd projection for the
  * flags ([[QualityRules.gopherFlags]] VERBATIM — batch ≡ static by
  * construction) plus the batch's per-rule report, merged into a
  * running report by plain per-rule SUM.
  *
  * Exactness: the report is a per-doc independent sum, so any batch
  * decomposition folds to exactly the whole-corpus
  * [[QualityRules.gopherReport]] (StreamingGopherGateSpec pins it
  * through a live MemoryStream). The report is a sum: a fold twin
  * under the [[Admission]] replay contract.
  *
  * State shape at 100 TB: 6 rows (5 rules + pass). Per-batch cost ∝
  * batch; the historical corpus is never re-read. */
object StreamingGopherGate {

  /** Per-batch flags — the admission decision frame (doc_id, n_tok,
    * r_*, pass); stateless, so batch ≡ static verbatim. */
  def admitBatch(batch: DataFrame,
      t: QualityRules.Thresholds = QualityRules.Thresholds()): DataFrame =
    QualityRules.gopherFlags(batch, t)

  /** The zero report every rule count starts from. */
  def emptyReport(spark: SparkSession): DataFrame =
    spark.range(0).select(lit("").as("rule"), col("id").as("n_docs"))

  /** Merge two reports: per-rule independent sums (a rule absent from
    * one side keeps the other's count). */
  def mergeReports(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("rule").agg(sum("n_docs").as("n_docs"))
      .orderBy("rule")

  /** foreachBatch sink: per micro-batch, hand the caller the batch's
    * admission flags and the RUNNING per-rule report (current state
    * merged with the batch's report). `state` is by-name so each batch
    * re-reads the caller's persisted report — the stream-static shape
    * every twin in this repo uses. */
  def sink(
      state: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, DataFrame, Long) => Unit,
      t: QualityRules.Thresholds = QualityRules.Thresholds()): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val merged = mergeReports(state, QualityRules.gopherReport(b.frozen, t))
      onBatch(QualityRules.gopherFlags(b.frozen, t), merged, b.id)
    }
}
