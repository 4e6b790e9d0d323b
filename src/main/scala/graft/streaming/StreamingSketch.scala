package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.Sketches

/** The always-on corpus profile — the streaming twin of
  * [[graft.extensions.Sketches]], completing the family the same way
  * [[DriftMonitor]] twins q_src_drift and [[StreamingSemDedup]] twins
  * the batch SemDeDup: the Count-Min grid and the per-source KMV
  * k-minimum sets are maintained ACROSS micro-batches by pure
  * sketch-merge, so token-frequency and distinct-cardinality estimates
  * are continuously current without ever re-scanning history.
  *
  * Why this is exact (not approximately-mergeable): CMS counters are
  * sums (associative, commutative) and the KMV state is
  * union-then-take-k (associative, commutative, idempotent), so ANY
  * batch decomposition merges to bit-identically the sketch a batch
  * rebuild over the concatenated corpus would produce —
  * StreamingSketchSpec pins `merged(stream batches) ≡ rebuilt(union)`
  * for both sketches, the same parity discipline as every streaming
  * twin in this repo.
  *
  * State shape at 100 TB: the CMS state is ≤ d·w rows and the KMV
  * state is ≤ k longs per source — both driver-postcard-sized — so the
  * per-batch merge cost is O(batch) map-side combine + O(state)
  * reduce, independent of corpus age. The state lives as a file-backed
  * frame the caller overwrites per batch (the [[StreamingDedup]]
  * stream-static discipline). CMS counters are sums, a fold under the
  * [[Admission]] replay contract; the KMV merge, a set union, is
  * idempotent and immune. */
object StreamingSketch {

  /** Cell-wise sum of two CMS grids (seed, bucket, cnt) — the sketch
    * union. Missing cells are zero, so a plain union+sum is exact.
    * Both grids must share (depth, width): cells of differently-sized
    * grids are unrelated coordinates and their sum means nothing. */
  def mergeCms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("seed", "bucket").agg(sum("cnt").as("cnt"))

  /** Per-source union of two KMV states (source, mins: array<long>) —
    * distinct-union each source's sets, keep the k smallest. */
  def mergeKmv(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new graft.functions.KMinDistinct(k))
    a.unionByName(b)
      .select(col("source"), explode(col("mins")).as("h"))
      .groupBy("source").agg(agg(col("h")).as("mins"))
  }

  /** One batch's KMV state contribution: per-source k smallest distinct
    * shingle hashes (the state [[mergeKmv]] folds; estimate via
    * [[kmvEstimate]]). */
  def kmvState(documents: DataFrame, k: Int = 64, n: Int = 3): DataFrame = {
    val agg = udaf(new graft.functions.KMinDistinct(k))
    Sketches.shingleHashes(documents, n)
      .groupBy("source").agg(agg(col("h")).as("mins"))
  }

  /** Read the estimate out of a KMV state frame — the same
    * (k−1)·16^12/h(k) estimator [[Sketches.kmvDistinct]] reports, but
    * from maintained state instead of a corpus scan. */
  def kmvEstimate(state: DataFrame, k: Int): DataFrame =
    state.select(col("source"),
      round(when(size(col("mins")) < k, size(col("mins")).cast("double"))
        .otherwise(lit(k - 1) * lit(281474976710656.0)
          / element_at(col("mins"), k).cast("double")), 4).as("kmv_est"))

  /** foreachBatch sink maintaining the HISTOGRAM quantile state (the
    * r12 third family member, [[graft.extensions.Sketches.histState]]):
    * per-batch bin counts merged by union+sum — associative and
    * commutative like the CMS counters, so streamed ≡ rebuilt holds
    * EXACTLY (not w.h.p.; StreamingSketchSpec pins it). Counts are
    * sums, replayed like CMS ([[Admission]]). */
  def histSink(
      state: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      vCol: String, lo: Long, hi: Long, bins: Int): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val batchState = Sketches.histState(b.frozen, vCol, lo, hi, bins)
      onBatch(Sketches.mergeHist(state, batchState), b.id)
    }

  /** foreachBatch sink maintaining the HLL distinct state (the fourth
    * family member, [[graft.extensions.Sketches.hllState]]): per-batch
    * registers merged by union+MAX — associative, commutative, AND
    * idempotent, so unlike the CMS/histogram legs a redelivered batch
    * re-merges to the identical state with NO batchId keying needed;
    * the sink is exactly-once by algebra, not by persist discipline
    * (StreamingSketchSpec pins streamed ≡ rebuilt and the replay
    * no-op). */
  def hllSink(
      state: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      n: Int = 3): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(Sketches.mergeHll(state, Sketches.hllState(b.frozen, n)), b.id)
    }

  /** foreachBatch sink maintaining BOTH sketches: each micro-batch of
    * documents is sketched (one narrow pass each) and merged into the
    * caller-persisted state; `onBatch(newCms, newKmv, batchId)`
    * persists the merged states. `cms`/`kmv` are by-name so each batch
    * re-reads the file-backed current state — the stream-static
    * shape. */
  def sink(
      cms: => DataFrame,
      kmv: => DataFrame,
      arriving: DataFrame,
      onBatch: (DataFrame, DataFrame, Long) => Unit,
      depth: Int = 4, width: Int = 1024, k: Int = 64, n: Int = 3): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      val batchCms = Sketches.cmsBuild(Sketches.tokens(b.frozen), depth, width)
      val batchKmv = kmvState(b.frozen, k, n)
      onBatch(mergeCms(cms, batchCms), mergeKmv(kmv, batchKmv, k), b.id)
    }
}
