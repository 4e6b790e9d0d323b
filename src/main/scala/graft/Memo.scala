package graft

import java.io.{File, FileNotFoundException}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap

import org.apache.commons.io.FileUtils

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The session memo: every value graft builds once per session and
  * reuses — analyzed table frames, the dedup family's checkpointed
  * intermediates, broadcast Bloom filters, the persisted IVF index and
  * the bucketed SCD state — lives here, keyed by (session, family, key)
  * and stored with a FINGERPRINT of the input files it was built from
  * (path, length, mtime of every file).
  *
  * A lookup whose fingerprint differs from the stored one rebuilds the
  * value and replaces the entry, so a file-backed input rewritten in
  * place (the reference feeder's `mode("overwrite")` mirror) is never
  * served stale, and a mutable input never makes the memo grow: there
  * is at most one entry per logical key. Keys built by [[of]] carry the
  * input's CANONICALIZED plan, which does not change when the files
  * under a path do — the fingerprint is what does. Inputs with no file
  * leaves (a JDBC relation, a `LogicalRDD`, a local relation) have an
  * empty fingerprint, i.e. plan-only keying; their owners offer an
  * explicit rebuild (`Membership.bloomSemiJoin(refresh = true)`).
  *
  * A family's values may own a resource outside the JVM heap (the IVF
  * index's directory); the family's release hook frees it. [[evict]]
  * releases the family's values at once. A REPLACED value is released
  * only when the session ends, because a plan built before the
  * replacement may still read it. One `onApplicationEnd` listener per
  * session releases every value the session still holds or retired and
  * drops its entries. A value with no release is only dropped from the
  * memo: plans that captured it keep it alive, and Spark's
  * ContextCleaner frees a checkpoint or broadcast once nothing reaches
  * it. Concurrent misses on one key may both build; the last one stays.
  * The same model as "Building Advanced SQL Analytics From Low-Level
  * Plan Operators" (SIGMOD 2021): one materialized intermediate, reused
  * by every consumer, kept correct by the data it read. */
object Memo {

  /** (path, length, modification time) of every input file. */
  type Fingerprint = Set[(String, Long, Long)]

  /** The memo families; [[evict]] drops one of them. */
  val TableFrames = "tables"
  val DedupFrames = "dedup"
  val BloomFilters = "bloom"
  /** Values are index directories; releasing one deletes it if it is
    * one of [[ivfDir]]'s. */
  val IvfIndexes = "ivf"
  val ScdBucketedState = "scd_bucketed"
  /** Freshness gauges observed on the job that materialized a
    * checkpointed frame, keyed by that frame's RDD id
    * ([[graft.metrics.Freshness.remember]]). */
  val ObservedGauges = "gauges"

  /** The per-family release hooks: what a value holds outside the
    * heap, and how to free it. Families not named hold nothing. */
  private val releases: Map[String, Any => Unit] = Map(
    IvfIndexes -> (dir => ownIvfDir(dir).foreach(FileUtils.deleteQuietly)))

  private val IvfPrefix = "graft-ivf"

  /** A fresh directory for an [[IvfIndexes]] value. */
  private[graft] def ivfDir(): String =
    java.nio.file.Files.createTempDirectory(IvfPrefix).toFile.getAbsolutePath

  /** `value` as a directory [[ivfDir]] made: a `graft-ivf*` child of the
    * temp directory. The release deletes nothing else, whatever path a
    * value names. */
  private def ownIvfDir(value: Any): Option[File] = {
    val f = new File(value.toString).getAbsoluteFile
    val tmp = new File(System.getProperty("java.io.tmpdir")).getAbsoluteFile
    Some(f).filter(d => d.getParentFile == tmp && d.getName.startsWith(IvfPrefix))
  }

  private def release(family: String, value: Any): Unit =
    releases.get(family).foreach(_(value))

  private final case class Entry(fingerprint: Fingerprint, value: Any)

  /** One session's entries, and the replaced (family, value) pairs that
    * still own a resource, released when the session ends. */
  private final class Session {
    val entries = TrieMap.empty[(String, Any), Entry]
    val retired = new ConcurrentLinkedQueue[(String, Any)]()
  }

  private val sessions = TrieMap.empty[SparkSession, Session]

  private def session(spark: SparkSession): Session =
    sessions.getOrElse(spark, {
      val fresh = new Session
      sessions.putIfAbsent(spark, fresh).getOrElse {
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            close(spark)
        })
        fresh
      }
    })

  /** The value memoized under (spark, family, key) if it was built from
    * `fingerprint`; otherwise `build` it (always, when `rebuild`) and
    * replace the entry. */
  def apply[V](spark: SparkSession, family: String, key: Any,
      fingerprint: Fingerprint, rebuild: Boolean = false)(build: => V): V = {
    val memo = session(spark)
    memo.entries.get((family, key)) match {
      case Some(e) if !rebuild && e.fingerprint == fingerprint =>
        e.value.asInstanceOf[V]
      case _ =>
        val v = build
        memo.entries.put((family, key), Entry(fingerprint, v))
          .foreach(old => retire(memo, family, old.value))
        v
    }
  }

  /** The value memoized under (spark, family, key), if any; never
    * builds. */
  private[graft] def get[V](spark: SparkSession, family: String, key: Any): Option[V] =
    sessions.get(spark).flatMap(_.entries.get((family, key))).map(_.value.asInstanceOf[V])

  /** A replaced value: its release, if its family has one, waits for
    * session end (other values are not held, so the ContextCleaner can
    * free them). A value keyed on the plan of a replaced checkpointed
    * frame (the dedup signatures of a rebuilt shingle frame) can never
    * be looked up again; drop it, and its own dependents, with the
    * frame. */
  private def retire(memo: Session, family: String, replaced: Any): Unit = {
    if (releases.contains(family)) memo.retired.add(family -> replaced)
    val rdds = replaced match {
      case df: DataFrame =>
        df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
      case _ => Set.empty[Int]
    }
    if (rdds.nonEmpty) memo.entries.foreach {
      case (k @ (f, (_, plan: LogicalPlan)), e) if plan.exists {
          case r: LogicalRDD => rdds(r.rdd.id)
          case _ => false
        } =>
        memo.entries.remove(k)
        retire(memo, f, e.value)
      case _ =>
    }
  }

  /** [[apply]] for a value derived from `input`: keyed by (`key`,
    * `input`'s canonicalized plan), fingerprinted by its files. */
  def of[V](input: DataFrame, family: String, key: Any,
      rebuild: Boolean = false)(build: => V): V =
    apply(input.sparkSession, family,
      (key, input.queryExecution.analyzed.canonicalized), files(input),
      rebuild)(build)

  /** The files a frame reads, from each file relation's own listing
    * (an `InMemoryFileIndex` lists once, when the frame is read, so this
    * does no IO). Non-file leaves contribute nothing. */
  def files(df: DataFrame): Fingerprint =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation =>
      h.location.listFiles(Nil, Nil).flatMap(_.files).map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime))
    }.flatten.toSet

  /** The files under `path` (recursive; empty when it does not exist).
    * A `listStatus` walk that reads only length and mtime: `listFiles`
    * and `LocatedFileStatus` read permissions, which on the local
    * filesystem forks a shell per file (~55–90 ms for 11 files against
    * ~1 ms for this walk). */
  def files(spark: SparkSession, path: String): Fingerprint = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try fs.listStatus(p).toSeq.flatMap(walk).toSet
    catch { case _: FileNotFoundException => Set.empty }
  }

  /** Drop this session's entries of one family and release their
    * values (bench billing of a cold build, or freeing executor storage
    * and disk sooner). */
  def evict(spark: SparkSession, family: String): Unit =
    sessions.get(spark).foreach { m =>
      m.entries.keys.filter(_._1 == family).foreach(k =>
        m.entries.remove(k).foreach(e => release(family, e.value)))
    }

  /** End the session's memo: release every value it holds or retired
    * and drop its entries. The app-end listener runs this. */
  private def close(spark: SparkSession): Unit =
    sessions.remove(spark).foreach { m =>
      m.entries.foreach { case ((family, _), e) => release(family, e.value) }
      m.entries.clear()
      Iterator.continually(m.retired.poll()).takeWhile(_ != null)
        .foreach { case (family, v) => release(family, v) }
    }

  /** Number of this session's entries in one family. */
  private[graft] def size(spark: SparkSession, family: String): Int =
    sessions.get(spark).fold(0)(_.entries.keys.count(_._1 == family))
}
