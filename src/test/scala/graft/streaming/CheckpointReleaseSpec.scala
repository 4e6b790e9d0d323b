package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Frozen, SparkSpec}

/** Checkpoint lifetimes past [[Admission]]'s batch checkpoint: the
  * soft-dedup fold keeps only the state it returns, and a frame a twin
  * hands its caller is freed by [[Frozen.release]]. */
class CheckpointReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Strong references to every RDD persisted since `before`; see
    * AdmissionSpec for why the map alone is not enough. */
  private def persistedSince(before: Set[Int]): Seq[RDD[_]] =
    spark.sparkContext.getPersistentRDDs.values.filterNot(r => before(r.id)).toSeq

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case other => fail(s"not a checkpointed frame: ${other.nodeName}")
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  // BRIDGE shares an LSH band with T1 and another with T2 under the
  // default md5 family (see StreamingSoftDedupSpec), so the batches
  // below fold within-batch pairs, corpus hits and one merge
  private val T1 = "w37 w16 w174 w90 w184 w70"
  private val T2 = "w145 w64 w186 w7 w182 w153"
  private val BRIDGE = T1 + " " + T2
  private val T3 = "w11 w22 w33 w44 w55 w66"

  test("a soft-dedup fold keeps only the new state's two frames of what it persisted") {
    val batches = Seq(
      Seq((1L, "s0", T1), (2L, "s0", T1)),
      Seq((3L, "s1", T2), (4L, "s1", T2)),
      Seq((5L, "s0", BRIDGE), (6L, "s1", T3)),
      Seq((7L, "s0", T3), (8L, "s1", T1)),
      Seq((9L, "s0", T2), (10L, "s1", "w1 w2 w3 w4 w5 w6")))
    var index: DataFrame = spark.range(0).select(col("id").as("doc_id"),
      lit(0).cast("int").as("band"), lit("").as("bkey"))
    var before = Set.empty[Int]
    var held = Seq.empty[RDD[_]]
    var states = Seq.empty[StreamingSoftDedup.State]
    val fold = new StreamingSoftDedup.Fold(
      () => index, StreamingSoftDedup.emptyState(spark),
      // the first hook after the fold returns: take the references here
      bands => { held = persistedSince(before); index = index.unionByName(local(bands)) },
      (st, _) => states :+= st, 8, 4, false, -1L)
    batches.zipWithIndex.foreach { case (rows, id) =>
      before = persistedIds
      fold(rows.toDF("doc_id", "source", "text"), id.toLong)
      val st = states.last
      val kept = Set(rddId(st.membership), rddId(st.remap))
      assert(kept.size == 2 && kept.subsetOf(persistedIds), s"batch $id: $kept")
      val stillHeld = held.map(_.id).filter(persistedIds).toSet
      assert(stillHeld == kept,
        s"batch $id retained ${(stillHeld -- kept).toSeq.sorted} beyond the state $kept")
    }
    // the folds did real work: 10 docs, {1,2,3,4,5,8,9} one component
    val sizes = StreamingSoftDedup.weights(states.last)
      .select("doc_id", "cluster_size").as[(Long, Long)].collect().toMap
    assert(sizes.size == 10)
    assert(Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L).forall(sizes(_) == 7L), sizes)
    assert(sizes(6L) == 2L && sizes(7L) == 2L && sizes(10L) == 1L, sizes)
  }

  test("a scrubbed frame handed out by StreamingLineGate.sink leaves the persisted set on Frozen.release") {
    implicit val sqlCtx = spark.sqlContext
    val boiler = "shared boilerplate line one two three"
    val corpus = Seq((1L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, s"$boiler eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val frozen = StreamingLineGate.freezeBoilerplate(corpus).localCheckpoint()
    var scrubbed = Seq.empty[DataFrame]
    val input = MemoryStream[(Long, String)]
    val q = StreamingLineGate.sink(
      StreamingLineGate.emptyReport(spark), frozen,
      input.toDF().toDF("doc_id", "text"),
      onBatch = (s, _, _) => scrubbed :+= s).start()
    try {
      input.addData((3L, s"$boiler nu xi omicron pi rho sigma"))
      q.processAllAvailable()
    } finally q.stop()
    assert(scrubbed.size == 1)
    val frame = scrubbed.head
    assert(frame.selectExpr("sum(n_lines - n_kept)").head().getLong(0) == 1L,
      "the frozen boilerplate line is dropped from the batch")
    val id = rddId(frame)
    assert(persistedIds(id), "the sink hands over a checkpointed frame")
    Frozen.release(frame)
    assert(!persistedIds(id), s"rdd $id still persisted after Frozen.release")
  }
}
