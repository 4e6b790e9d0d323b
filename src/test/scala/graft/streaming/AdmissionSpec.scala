package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec

/** [[Admission]] owns the micro-batch lifecycle: the batch checkpoint a
  * body takes through `frozen` is released when the body returns or
  * throws, and no other file in `src/main` calls `foreachBatch`. */
class AdmissionSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Strong references to every RDD persisted since `before`. The
    * persistent-RDD map holds its values weakly, so a checkpoint nobody
    * released still drops out of it once the JVM's GC collects it
    * (ContextCleaner frees the blocks then); a bare size read races
    * the GC both ways. Taken inside the body, these references keep
    * each checkpoint in the map until it is explicitly released. */
  private def persistedSince(before: Set[Int]): Seq[RDD[_]] =
    spark.sparkContext.getPersistentRDDs.values.filterNot(r => before(r.id)).toSeq

  private def stillPersisted(held: Iterable[RDD[_]]): Seq[Int] =
    held.map(_.id).filter(persistedIds).toSeq.distinct.sorted

  /** `collect()`ed into a local frame: the state a sink reads back holds
    * no persisted RDD of its own. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Five batches of eight documents (doc_id, source, lang, text,
    * n_chars). */
  private val docBatches: Seq[Seq[(Long, String, String, String, Long)]] =
    (0 until 5).map { b =>
      (0 until 8).map { j =>
        val id = b * 8L + j
        val text = (0 until (3 + 7 * j)).map(t => s"w${(id * 7 + t) % 23}")
          .mkString("the ", " and ", " of a")
        (id, s"s${id % 3}", if (id % 4 == 0) "de" else "en", text,
          text.length.toLong)
      }
    }

  /** Drive five batches through `q`. */
  private def run(q: StreamingQuery,
      input: MemoryStream[(Long, String, String, String, Long)]): Unit =
    try docBatches.foreach { b =>
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()

  test("fold and map-with-checkpoint twins keep no batch checkpoint across five batches") {
    implicit val sqlCtx = spark.sqlContext
    def arriving(in: MemoryStream[(Long, String, String, String, Long)]) =
      in.toDF().toDF("doc_id", "source", "lang", "text", "n_chars")

    val cardIn = MemoryStream[(Long, String, String, String, Long)]
    var card = Seq.empty[(String, String, Long)].toDF("kind", "key", "n")
    val cardBefore = persistedIds
    val cardHeld = mutable.ArrayBuffer.empty[RDD[_]]
    run(StreamingDataCard.sink(card, arriving(cardIn), (merged, _) => {
      card = local(merged)
      cardHeld ++= persistedSince(cardBefore)
    }).start(), cardIn)
    assert(cardHeld.nonEmpty, "the card twin checkpoints its batch")
    assert(stillPersisted(cardHeld).isEmpty,
      s"StreamingDataCard retained checkpoints ${stillPersisted(cardHeld)}")
    assert(card.filter($"kind" === "sum" && $"key" === "n_docs")
      .head().getLong(2) == docBatches.map(_.size).sum)

    val gateIn = MemoryStream[(Long, String, String, String, Long)]
    var report = local(StreamingGopherGate.emptyReport(spark))
    var flagged = 0L
    val gateBefore = persistedIds
    val gateHeld = mutable.ArrayBuffer.empty[RDD[_]]
    run(StreamingGopherGate.sink(report, arriving(gateIn), (flags, merged, _) => {
      flagged += flags.collect().length
      report = local(merged)
      gateHeld ++= persistedSince(gateBefore)
    }).start(), gateIn)
    assert(gateHeld.nonEmpty, "the gate twin checkpoints its batch")
    assert(stillPersisted(gateHeld).isEmpty,
      s"StreamingGopherGate retained checkpoints ${stillPersisted(gateHeld)}")
    assert(flagged == docBatches.map(_.size).sum)
  }

  test("a body that throws still releases its checkpoint, and the query fails with its error") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val before = persistedIds
    var held = Seq.empty[RDD[_]]
    val q = Admission.sink(input.toDF().writeStream) { b =>
      b.frozen.count()
      held = persistedSince(before)
      throw new IllegalStateException("admission body failed")
    }.start()
    val e =
      try {
        input.addData(1L, 2L, 3L)
        intercept[StreamingQueryException](q.processAllAvailable())
      } finally q.stop()
    assert(held.size == 1, "the body took its checkpoint")
    assert(stillPersisted(held).isEmpty, "the checkpoint outlived the failed body")
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage)
      .contains("admission body failed")), e)
  }

  test("no file under src/main other than graft/streaming/Admission.scala calls foreachBatch") {
    // source-level pin: one owner of the micro-batch lifecycle
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val call = """\.\s*foreachBatch\b""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => root.relativize(p).toString != "graft/streaming/Admission.scala")
      .filter(p => call.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"foreachBatch outside graft.streaming.Admission: ${offenders.mkString(", ")}")
  }
}
