package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.{KMeans, Similarity}

/** Streaming admission for the EMBEDDING leg — the semantic twin of
  * [[StreamingDedup]]: every arriving vector is probed against the
  * persisted per-cell SemDeDup survivor set (the q_semdedup_keep
  * artifact, with its vectors) BEFORE admission, so the corpus'
  * semantic-dedup invariant — no vector has a smaller-id cosine
  * near-dup in its cell — holds continuously, not just at batch
  * recompute time.
  *
  * Shape: the stream side is assigned to its k-means cell ROW-LOCALLY
  * ([[KMeans.assign]] — the broadcast NearestCell argmin, a stateless
  * narrow projection: no watermark, no state store, no stream-side
  * shuffle), then each micro-batch runs the admission decision in
  * foreachBatch: a cell-keyed join against the survivor index (cosine ≥
  * `tau` ⇒ dropped), plus the within-batch greedy pass reusing
  * [[Similarity.semDedupSurvivors]]. Cost per batch ∝ batch × its
  * cells' survivors, never the corpus.
  *
  * PARITY CONTRACT (pinned in StreamingSemDedupSpec): for a batch B
  * whose vec_ids all exceed the index's, the admitted set equals
  * `semDedupSurvivors(index ∪ B) ∩ B` — the batch-merged recompute.
  * The two drop reasons decompose exactly: a batch vector's smaller-id
  * near-dups in the merged corpus are either index survivors (the
  * stream-static probe) or earlier batch vectors (the within-batch
  * pass); dropped HISTORICAL vectors are not in the index and cannot
  * veto — which is also true of the batch recompute over the survivor
  * corpus.
  *
  * Index growth mirrors [[StreamingDedup]]: append each batch's
  * admitted rows to the file-backed index (a stream-static-shaped probe
  * re-reads the static side per batch), so later batches probe earlier
  * admissions — no restart, no state migration; the growth loop is
  * spec-pinned and the per-batch cost priced in the bench capstone
  * (`emb_admit_batch`). */
object StreamingSemDedup {

  /** The persisted survivor index an admission loop probes:
    * (vec_id, cell_id, e, nrm) for exactly the vectors
    * [[Similarity.semDedupSurvivors]] keeps within the FITTED cells.
    * Built once per (re)clustering; at 100 TB it is written with
    * cell_id as a partition column so each batch's probe prunes to its
    * cells. */
  def survivorIndex(
      embeddings: DataFrame,
      centroids: DataFrame,
      tau: Double,
      maxCellSize: Int = 4096): DataFrame = {
    val cells = assignWithNorm(embeddings, centroids)
    val surv = Similarity.semDedupSurvivors(
      cells.select(col("vec_id"), col("cell_id").cast("long").as("label"),
        col("e").as("embedding")),
      tau, maxCellSize).select("vec_id")
    cells.join(surv, "vec_id").select("vec_id", "cell_id", "e", "nrm")
  }

  /** Row-local cell assignment + norm of an embedding frame — stateless
    * and narrow, hence STREAMING-SAFE (works identically on a batch
    * frame; the capstone bench prices the batch-mode plan, which is
    * what each micro-batch executes anyway). */
  def assignWithNorm(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    KMeans.assign(embeddings, centroids)
      .withColumn("nrm", sqrt(call_function("dot_product", col("e"), col("e"))))

  /** One micro-batch's admission decision over an assigned batch frame
    * (`vec_id`, `e`, `cell_id`, `nrm`): returns the admitted rows.
    * Same cosine form as [[Similarity.semDedup]]'s pair scan (rounded
    * to 4 decimals), so the parity contract is exact. */
  def admitBatch(
      index: DataFrame, batch: DataFrame, tau: Double,
      maxCellSize: Int = 4096): DataFrame = {
    // foreachBatch hands over a CLONED session — make sure the native
    // expressions resolve there too
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val idx = index.select(col("vec_id").as("i_id"), col("cell_id").as("i_cell"),
      col("e").as("ie"), col("nrm").as("inrm"))
    val dot = call_function("dot_product", col("e"), col("ie"))
    val hitByIndex = batch
      .join(idx, col("cell_id") === col("i_cell") &&
        round(dot / (col("nrm") * col("inrm")), 4) >= tau)
      .select("vec_id").distinct()
    val batchSurvivors = Similarity.semDedupSurvivors(
      batch.select(col("vec_id"), col("cell_id").cast("long").as("label"),
        col("e").as("embedding")),
      tau, maxCellSize).select("vec_id")
    batch
      .join(batchSurvivors, Seq("vec_id"), "left_semi")
      .join(hitByIndex, Seq("vec_id"), "left_anti")
      .select("vec_id", "cell_id", "e", "nrm")
  }

  /** Drift-monitor sink for the embedding leg — [[DriftMonitor]]'s
    * representation-level twin: each micro-batch is cell-assigned
    * row-locally (the same stateless narrow projection as admission)
    * and its cell histogram scored against the corpus baseline
    * ([[graft.extensions.EmbeddingDrift.driftVsProfile]]) inside
    * foreachBatch. An encoder change or topic shift moves the JS
    * number within one batch, before any text-level signal. The
    * profile is a point-in-time snapshot (the DriftMonitor staleness
    * contract); rebuild on the re-clustering cadence. */
  def driftSink(
      profile: DataFrame,
      centroids: DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Admission.sink(assignWithNorm(arriving, centroids).writeStream) { b =>
      onBatch(graft.extensions.EmbeddingDrift.driftVsProfile(
        b.df.select(col("cell_id").cast("long").as("cell")), profile), b.id)
    }

  /** foreachBatch sink: assigns the arriving stream to cells (narrow,
    * stateless) and hands each micro-batch's ADMITTED rows to `onBatch`
    * with the batch id (idempotent under replay: same id ⇒ same rows ⇒
    * overwrite-by-id sinks are exactly-once). The callback appends the
    * admitted rows to the file-backed index to close the growth loop.
    * Call `.start()` on the result. */
  def sink(
      index: => DataFrame,
      centroids: DataFrame,
      arriving: DataFrame,
      tau: Double,
      onBatch: (DataFrame, Long) => Unit,
      maxCellSize: Int = 4096): DataStreamWriter[Row] =
    Admission.sink(assignWithNorm(arriving, centroids).writeStream) { b =>
      onBatch(admitBatch(index, b.frozen, tau, maxCellSize), b.id)
    }
}
