package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The one owner of the micro-batch. Every always-on loop in graft —
  * the snapshot merge, the freshness export and each admission twin —
  * is `Admission.sink(arriving.writeStream) { b => … }`: append mode,
  * the micro-batch handed over as a plain [[Batch]] with its id, and
  * the batch checkpoint, if the body took one through
  * [[Batch.frozen]], released on the way out whether the body returns
  * or throws. Whether to checkpoint stays a fact of each twin's code.
  *
  * The contract every sink shares:
  *  - `onBatch` must materialize anything it keeps before it returns
  *    (write it, collect it, or checkpoint it): frames a twin derives
  *    from [[Batch.frozen]] cannot be read once the body is done;
  *  - replay: Structured Streaming redelivers a failed batch under the
  *    same id. Map twins are a pure function of the batch and their
  *    frozen dims, so re-emitting is safe. Fold twins (running sums)
  *    are exactly-once only if the caller persists the result keyed by
  *    batchId (overwrite-by-id); re-merging a redelivered batch
  *    double-counts. */
object Admission {

  /** One micro-batch: `df` as Spark delivered it and its `id`. */
  final class Batch private[Admission] (val df: DataFrame, val id: Long) {
    private var held: Option[DataFrame] = None

    /** `df` materialized once (localCheckpoint) on first use, for
      * bodies that read the batch more than once; freed with the
      * batch. */
    def frozen: DataFrame = held.getOrElse {
      val f = df.localCheckpoint()
      held = Some(f)
      f
    }

    private[Admission] def release(): Unit =
      held.foreach(graft.Frozen.release)
  }

  /** `writer` in append mode, running `body` on every micro-batch. */
  def sink(writer: DataStreamWriter[Row])(body: Batch => Unit): DataStreamWriter[Row] =
    writer.outputMode(OutputMode.Append)
      .foreachBatch((batch: Dataset[Row], id: Long) => run(batch, id)(body))

  /** One micro-batch through `body`, outside a query — how
    * [[StreamingSoftDedup.Fold]] is driven directly. */
  private[streaming] def run(batch: Dataset[Row], id: Long)(body: Batch => Unit): Unit = {
    val b = new Batch(batch.toDF(), id)
    try body(b) finally b.release()
  }
}
