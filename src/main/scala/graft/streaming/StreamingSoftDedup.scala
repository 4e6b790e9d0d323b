package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.{ConnectedComponents, Dedup}

/** Streaming SOFT dedup — the incremental counterpart of
  * [[graft.extensions.Dedup.softDedupWeights]]/[[graft.extensions.Dedup.softDedupMass]]
  * (r17 verdict #5): maintain per-document down-weights (1/|near-dup
  * component|) and per-source effective mass CONTINUOUSLY as documents
  * arrive, instead of re-running the whole-corpus MinHash + connected
  * components per refresh. The consumers (mixture planning,
  * q_mixture_soft) already run as admission twins; this closes the one
  * missing input — dedup-adjusted source mass — so a live admission
  * loop can keep duplicated sources from buying mixture share with
  * copies, batch by batch.
  *
  * State = two metadata frames, both narrow and text-free:
  *  - `membership` (doc_id, source, comp): APPEND-ONLY — each admitted
  *    document is recorded once with the canonical component label at
  *    its admission time. Never rewritten, so at 100 TB it is a plain
  *    appendable parquet table.
  *  - `remap` (old_comp, canon): the union-find forest, PATH-COMPRESSED
  *    TO DEPTH 1 at every batch — when a new document bridges existing
  *    components, the losing canonicals get a remap row and all
  *    existing rows pointing at them are re-targeted in the same pass
  *    (one small self-join; remap is bounded by the number of component
  *    MERGES ever, not by corpus size). Reads therefore resolve with a
  *    single left join — no iterative chasing, no recursive joins.
  *
  * Per batch: band the batch row-locally
  * ([[Dedup.bandBucketsRowLocal]] — stateless, narrow), probe the
  * persisted corpus band index (the same growing index
  * [[StreamingDedup]] maintains; cost ∝ batch, never corpus), resolve
  * the hit corpus docs to canonical components through `remap`, and run
  * connected components over the BATCH-SIZED graph whose nodes are the
  * batch's doc ids plus the touched canonicals. Min-id labeling makes
  * the incremental canonical equal the batch one: a component's
  * canonical is the min doc_id it has ever contained, so a merge
  * relabels only the losing canonicals (remap rows), never the members.
  *
  * PARITY CONTRACT (pinned in StreamingSoftDedupSpec): after replaying
  * any document set in any batch split — including splits that force
  * cross-batch component MERGES — [[mass]] equals
  * `Dedup.softDedupMass` on the full corpus and [[weights]] equals
  * `Dedup.softDedupWeights` up to the (doc_id-determined) labels.
  * Why the edge sets match: every band collision pair (a, b) with a
  * admitted before b is found when b's batch probes the index that
  * already holds a's band rows; same-batch collisions come from the
  * batch self-join. Transitivity across batches is exactly what the
  * remap forest preserves. */
object StreamingSoftDedup {

  /** The twin's full state. Both frames are lineage-truncated
    * (localCheckpoint) at every [[admitBatch]], so a long-running loop
    * plans constant-size plans — the ConnectedComponents discipline. */
  final case class State(membership: DataFrame, remap: DataFrame)

  def emptyState(spark: SparkSession): State = State(
    spark.range(0).select(col("id").as("doc_id"),
      lit("").as("source"), col("id").as("comp")),
    spark.range(0).select(col("id").as("old_comp"), col("id").as("canon")))

  /** Bootstrap from an already-batch-deduped corpus: membership =
    * [[Dedup.ccLabels]] + the source column, remap empty (batch labels
    * are already canonical). The admission loop then continues
    * incrementally from the refresh point. */
  def fromCorpus(documents: DataFrame): State = {
    val labels = Dedup.ccLabels(documents)
      .select(col("id").as("doc_id"), col("comp"))
    State(
      documents.select("doc_id", "source").join(labels, "doc_id")
        .localCheckpoint(),
      emptyState(documents.sparkSession).remap)
  }

  /** membership resolved through the depth-1 remap forest:
    * (doc_id, source, canon). One left join — the read-side payoff of
    * per-batch path compression. */
  def resolved(state: State): DataFrame =
    state.membership.alias("m")
      .join(state.remap.alias("r"),
        col("m.comp") === col("r.old_comp"), "left")
      .select(col("m.doc_id"), col("m.source"),
        coalesce(col("r.canon"), col("m.comp")).as("canon"))

  /** Mirror of [[Dedup.softDedupWeights]] over the maintained state:
    * (doc_id, comp, cluster_size, weight), weight = round(1/size, 6). */
  def weights(state: State): DataFrame = {
    val res = resolved(state)
    val sz = res.groupBy("canon").agg(count(lit(1)).as("cluster_size"))
    res.join(sz, "canon")
      .select(col("doc_id"), col("canon").as("comp"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Mirror of [[Dedup.softDedupMass]] over the maintained state —
    * the mixture-facing per-source (n_docs, eff_docs, dedup_ratio),
    * DECIMAL-summed so the result is partition-order-independent. */
  def mass(state: State): DataFrame =
    weights(state)
      .select(col("doc_id"), col("weight").cast("decimal(18,6)").as("w"))
      .join(resolved(state).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("eff"))
      .select(col("source"), col("n_docs"),
        round(col("eff").cast("double"), 4).as("eff_docs"),
        round(col("eff").cast("double") / col("n_docs"), 4)
          .as("dedup_ratio"))
      .orderBy("source")

  /** Persist the state as two parquet directories — the
    * refresh-cadence checkpoint a long-running admission loop writes so
    * a RESTART resumes from disk instead of replaying history (the
    * StreamingDedup no-state-migration discipline applied to this
    * twin's state). At 100 TB the membership table is APPEND-ONLY by
    * construction (each batch only adds rows), so a production loop
    * appends per-batch deltas and rewrites only the merge-bounded
    * remap; this whole-state writer is the spec-sized form of the same
    * contract (StreamingSoftDedupSpec pins save → load → continue ≡
    * uninterrupted). */
  def save(state: State, dir: String): Unit = {
    state.membership.write.mode("overwrite").parquet(s"$dir/membership")
    state.remap.write.mode("overwrite").parquet(s"$dir/remap")
  }

  def load(spark: SparkSession, dir: String): State = State(
    spark.read.parquet(s"$dir/membership"),
    spark.read.parquet(s"$dir/remap"))

  /** One micro-batch of admissions folded into the state. `batch` is
    * (doc_id, source, text) with doc_ids disjoint from the corpus;
    * `index` is the corpus' (doc_id, band, bkey) band index INCLUDING
    * all previously admitted batches (the caller appends — see [[sink]]).
    * Band parameters must match the index's. Everything a batch
    * touches is batch-sized: the banding is row-local, the probe is a
    * bucket-key equi-join, and the CC runs on the batch's candidate
    * graph — the historical corpus is never re-shingled or re-labeled. */
  def admitBatch(
      state: State,
      index: DataFrame,
      batch: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false): State = {
    val b = batch.select("doc_id", "source", "text").localCheckpoint()
    val bands = Dedup
      .bandBucketsRowLocal(b.select("doc_id", "text"), numHashes,
        rowsPerBand, fastHash)
      .localCheckpoint() // read twice: self-join + index probe
    val within = bands.alias("x")
      .join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val hits = bands.alias("y")
      .join(index.alias("x"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("new_id"))
      .distinct()
    // corpus hits collapse to their CANONICAL components — connectivity
    // through a canonical is exactly what membership already encodes
    val viaCorpus = hits
      .join(resolved(state).select(col("doc_id").as("corpus_id"),
        col("canon")), "corpus_id")
      .select(col("canon").as("a"), col("new_id").as("b"))
      .distinct()
    val nodes = b.select(col("doc_id").as("id"))
      .union(viaCorpus.select(col("a").as("id")))
      .distinct()
    // batch-sized graph: batch docs + touched canonicals; min-id labels
    // (label returns a checkpointed frame)
    val labels = ConnectedComponents.label(nodes, within.union(viaCorpus))
    val newMembership = b.select("doc_id", "source")
      .join(labels.select(col("id").as("doc_id"), col("comp")), "doc_id")
    // a touched canonical that lost the min: remap row. Strictly
    // decreasing (comp = min < id), so the forest stays acyclic.
    val newRemap = viaCorpus.select(col("a").as("id")).distinct()
      .join(labels, "id")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as("old_comp"), col("comp").as("canon"))
    // path compression: existing rows whose target just lost re-point
    // at the new canonical, keeping the whole forest at depth 1
    val compressed = state.remap.alias("r")
      .join(newRemap.alias("n"), col("r.canon") === col("n.old_comp"), "left")
      .select(col("r.old_comp"),
        coalesce(col("n.canon"), col("r.canon")).as("canon"))
    val next = State(
      state.membership.unionByName(newMembership).localCheckpoint(),
      compressed.unionByName(newRemap).localCheckpoint())
    // the new state is materialized; the batch's own checkpoints are
    // spent. `state` is the caller's and stays.
    Seq(b, bands, labels).foreach(graft.Frozen.release)
    next
  }

  /** The sink's per-batch fold with its REPLAY GUARD, exposed so the
    * guard is directly testable (r18 ADVICE): Structured Streaming
    * re-delivers a batchId to foreachBatch after driver recovery or a
    * transient failure, and an unguarded fold would admit the batch
    * TWICE — duplicate membership rows inflating cluster_size (and
    * skewing mass) and the band rows appended to the index twice. The
    * guard skips any batchId at or below the last applied one
    * (exactly-once fold on top of the engine's at-least-once replay —
    * the standard idempotent-foreachBatch discipline). A restarted
    * loop passes the persisted id as `startAfterBatchId` so a replay
    * of the pre-crash batch is skipped too ([[saveLastBatchId]]). */
  final class Fold(
      index: () => DataFrame,
      initial: State,
      appendIndex: DataFrame => Unit,
      onBatch: (State, Long) => Unit,
      numHashes: Int,
      rowsPerBand: Int,
      fastHash: Boolean,
      startAfterBatchId: Long) extends ((Dataset[Row], Long) => Unit) {
    @volatile private var lastApplied: Long = startAfterBatchId
    @volatile private var current: State = initial
    def state: State = current
    def lastAppliedBatchId: Long = lastApplied
    override def apply(batch: Dataset[Row], batchId: Long): Unit =
      Admission.run(batch, batchId)(admit)
    private[streaming] def admit(b: Admission.Batch): Unit =
      if (b.id > lastApplied) { // else a replayed batch: already folded
        current = admitBatch(current, index(), b.frozen, numHashes,
          rowsPerBand, fastHash)
        appendIndex(Dedup.bandBucketsRowLocal(
          b.frozen.select("doc_id", "text"), numHashes, rowsPerBand, fastHash))
        lastApplied = b.id // after the fold: a crash mid-batch replays it
        onBatch(current, b.id)
      }
  }

  /** Persist/read the fold's replay cursor beside the state dirs, so a
    * restarted admission loop can hand [[sink]] the id it must not
    * re-apply (write it from `onBatch`, atomically with [[save]]). */
  def saveLastBatchId(spark: SparkSession, dir: String, batchId: Long): Unit =
    spark.range(1).select(lit(batchId).as("batch_id"))
      .write.mode("overwrite").parquet(s"$dir/last_batch")

  def loadLastBatchId(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/last_batch").head.getLong(0)

  /** foreachBatch sink closing the loop: per micro-batch, fold the
    * batch into the state, append its band rows to the growing index
    * (`appendIndex` — the same discipline as [[StreamingDedup]]'s
    * admission loop, so later batches' probes see earlier admissions),
    * and hand the updated state to `onBatch` with the micro-batch id.
    * `index` is BY-NAME so each batch re-resolves the grown index.
    * Replayed batchIds are skipped (see [[Fold]]); pass the persisted
    * cursor as `startAfterBatchId` on restart. Call `.start()` on the
    * result. */
  def sink(
      index: => DataFrame,
      arriving: DataFrame,
      initial: State,
      appendIndex: DataFrame => Unit,
      onBatch: (State, Long) => Unit,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      fastHash: Boolean = false,
      startAfterBatchId: Long = -1L): DataStreamWriter[Row] = {
    val fold = new Fold(() => index, initial, appendIndex, onBatch,
      numHashes, rowsPerBand, fastHash, startAfterBatchId)
    Admission.sink(arriving.writeStream)(fold.admit)
  }
}
