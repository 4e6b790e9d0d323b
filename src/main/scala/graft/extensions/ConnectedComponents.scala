package graft.extensions

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the correct
  * clustering of a near-dup pair graph (greedy drop-the-b keeps the
  * lowest id per CHAIN only transitively; components make that exact).
  *
  * Each iteration: every node takes the min label among itself and its
  * neighbors — one join + one aggregate, materialized by ONE job.
  *
  * Per-iteration cost control (each of these measurably mattered):
  *  - `localCheckpoint()` (not `cache()`) on edges and on every label
  *    generation: truncates lineage, so iteration k plans a constant-size
  *    plan instead of re-analyzing k generations of joins (plan growth —
  *    not data — dominated the cached formulation's wall time).
  *  - The convergence probe rides the SAME job via `Dataset.observe`:
  *    comp values only ever decrease under min-propagation, so
  *    sum(comp) is stationary exactly at the fixpoint — no separate
  *    convergence job. (A non-blocking fallback aggregate guards the
  *    rare case where the observed metric hasn't been delivered by the
  *    listener yet; it scans already-materialized blocks.)
  *  - Only this one scalar crosses the driver per iteration.
  *
  * Iteration count is bounded by the component diameter (near-dup
  * clusters are shallow); for web-scale graphs the same loop hosts the
  * large-star/small-star optimization — the per-iteration dataflow shape
  * is identical. Each superseded generation is freed
  * ([[graft.Frozen.release]]) once its successor has materialized. */
object ConnectedComponents {

  /** Sum of the observed metric if delivered, else a direct aggregate
    * over the (already materialized) frame. Empty frame ⇒ 0. */
  private def convergenceSum(obs: Observation, materialized: DataFrame): Long =
    try {
      // the listener delivering observed metrics is async wrt job
      // completion; wait briefly, then fall back to a cheap block scan
      val row = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(2, "s"))
      row.getAs[Long]("s")
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        materialized.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
    }

  /** Alternating large-star/small-star connected components — the
    * published O(log n)-round formulation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) for graphs whose
    * diameter makes per-hop min-label propagation too slow. Near-dup
    * graphs are shallow, so [[label]] is the default; this is the
    * web-scale path, same per-round dataflow (groupBy + generate).
    *
    *  - large-star: each node points its LARGER neighbors at the min of
    *    its neighborhood (long chains collapse toward roots),
    *  - small-star: each node and its smaller-or-equal neighbors all
    *    point at the neighborhood min (stars flatten),
    * iterated to an edge-set fixpoint, at which every surviving edge is
    * (node → component root). Fixpoint detection rides the same job via
    * an (edge count, xxhash64 bit_xor) observation pair — XOR is
    * order-independent and cannot overflow under ANSI mode. */
  def labelStar(nodes: DataFrame, pairs: DataFrame, maxIters: Int = 30): DataFrame =
    labelStarWithIters(nodes, pairs, maxIters)._1

  private[extensions] def labelStarWithIters(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val idCol = nodes.columns.head
    // canonical directed edges (hi → lo), self-loops dropped
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()

    def neighborhoodMin(e: DataFrame): DataFrame = e
      .groupBy("u").agg(min("v").as("m")) // v < u always, so min(N∪{u}) = min(v)

    var it = 0
    var converged = nodes.isEmpty
    var prev = (-1L, 0L)
    while (it < maxIters && !converged) {
      // large-star over the SYMMETRIZED edges: larger neighbors → min
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star over (u → smaller v): u and all its v's → min
      val ssMin = neighborhoodMin(large)
      val small = large.join(ssMin, "u")
        .select(explode(array(col("u"), col("v"))).as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      val obs = Observation()
      val next = small
        .observe(obs,
          count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
        .localCheckpoint()
      val probe = try {
        val row = scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(2, "s"))
        (row.getAs[Long]("n"), row.getAs[Long]("h"))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          val r = next.agg(count(lit(1)),
            coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
      }
      graft.Frozen.release(edges)
      edges = next
      converged = probe == prev
      prev = probe
      it += 1
    }
    // every edge is now (node → root); roots and isolated nodes label
    // themselves. The label frame is a lazy join over `edges`: keep it.
    val lbl = nodes.select(col(idCol).as("id"))
      .join(edges.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (lbl, it)
  }

  /** @param pairs (a, b) undirected edges
    * @param nodes single-column frame of all node ids (isolated nodes
    *              become singleton components)
    * @return (id, comp) where comp = min node id of the component */
  def label(nodes: DataFrame, pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val idCol = nodes.columns.head
    // materialize the symmetric edge set ONCE and cut its lineage:
    // without this every iteration re-plans (and first re-runs) the whole
    // upstream pair computation — e.g. the MinHash pipeline
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("comp"))
      .localCheckpoint()
    // coalesce: empty node frame ⇒ sum(comp) is NULL ⇒ 0 (and the first
    // iteration observes 0 again ⇒ immediate convergence)
    var prevSum = labels.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
    var it = 0
    var converged = labels.isEmpty
    while (it < maxIters && !converged) {
      val viaNeighbors = labels.join(edges, col("id") === col("a"))
        .select(col("b").as("id"), col("comp"))
      val obs = Observation()
      val next = labels.select("id", "comp").union(viaNeighbors)
        .groupBy("id").agg(min("comp").as("comp"))
        .observe(obs, coalesce(sum("comp"), lit(0L)).as("s"))
        .localCheckpoint() // eager: the one job of this iteration
      val sumNow = convergenceSum(obs, next)
      graft.Frozen.release(labels)
      labels = next
      converged = sumNow == prevSum
      prevSum = sumNow
      it += 1
    }
    graft.Frozen.release(edges)
    labels
  }
}
