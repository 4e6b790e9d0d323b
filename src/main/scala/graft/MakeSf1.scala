package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (r15 VERDICT #4): synthesize an sf1 slice — 10× sf0.1 — so
  * the heavy families get ONE measured point an order of magnitude above
  * the bench scale, turning the design-audited linear-cost claims into a
  * measured slope.
  *
  * Construction: `documents` and `orders` replicated `reps`× under
  * disjoint id strides. Document tokens carry a per-replica prefix
  * (replica 0 verbatim), so cross-replica text is NOT near-duplicate —
  * within-replica duplicate/Zipf structure is preserved, which is
  * exactly the workload whose linear scaling is under test (an
  * unprefixed copy would make every doc a 10-way near-dup and square the
  * candidate-pair count instead of scaling it). Id strides are multiples
  * of 10 (and 5), so the `doc_id % 5` reference slice and `doc_id % 10`
  * benchmark-slice conventions keep their per-replica proportions.
  *
  * Embeddings replicate under disjoint vec_id AND label strides (cells
  * keep their size, so cell-blocked ops scale linearly in the cell
  * count and IVF's query-cell restriction stays constant-cost — the
  * measurable analogue of partition pruning), and replicas i>0 get a
  * per-replica md5-keyed ±1 sign pattern applied element-wise. The SAME
  * pattern multiplies every vector of the replica, so within-replica
  * dot products are preserved EXACTLY ((s⊙a)·(s⊙b) = Σ sᵢ²aᵢbᵢ = a·b)
  * while cross-replica cosines decorrelate — the vector-space analogue
  * of the per-replica token prefix. [[MakeSf1Spec]] pins both
  * invariants.
  *
  * Usage: runMain graft.MakeSf1 [srcDir] [dstDir] [reps]
  * Writes <dstDir>/{documents,embeddings,orders}.parquet (the only
  * tables the heavy families read). Never part of the library
  * surface. */
object MakeSf1 {
  val docStride = 1000000L // multiple of 10: slice conventions survive
  val vecStride = 1000000L
  val labelStride = 1000
  val orderStride = 100000000L

  /** The disjoint-replica invariants (id/label ranges never overlap
    * across replicas) hold only when every source key fits under its
    * stride — true of the driver's sf≤0.1 fixtures, FALSE of e.g. an
    * already-synthesized sf1 (doc_id up to 9×10⁶+). Checked loudly
    * here (r16 ADVICE): a violating source must fail, not produce a
    * subtly wrong scaling fixture that PLANS.md slopes get measured
    * on. One tiny agg per table. */
  private def requireUnder(df: org.apache.spark.sql.DataFrame,
                           keyCol: String, stride: Long, tbl: String): Unit = {
    val row = df.agg(max(col(keyCol))).head()
    // empty source → max is NULL; fail with the loud fixture diagnostic,
    // not getLong's opaque NPE (r17 ADVICE)
    require(!row.isNullAt(0),
      s"$tbl is empty at the source — nothing to synthesize from; " +
        "point MakeSf1 at a populated sf<=0.1 fixture dir")
    val mx = row.getLong(0)
    require(mx < stride,
      s"$tbl.$keyCol max $mx >= replica stride $stride — replicas would " +
        "overlap and silently merge cells; synthesize only from a source " +
        "whose keys fit under the stride (use a larger stride or the " +
        "original sf<=0.1 fixtures)")
  }

  def synthesize(spark: SparkSession, src: String, dst: String,
                 reps: Int, parts: Int): Unit = {
    requireUnder(Tables.table(spark, src, "documents"), "doc_id",
      docStride, "documents")
    requireUnder(Tables.table(spark, src, "embeddings"), "vec_id",
      vecStride, "embeddings")
    requireUnder(Tables.table(spark, src, "embeddings")
      .select(col("label").cast("long").as("label")), "label",
      labelStride.toLong, "embeddings")
    requireUnder(Tables.table(spark, src, "orders"), "o_orderkey",
      orderStride, "orders")
    val docs = Tables.table(spark, src, "documents")
    (0 until reps).map { i =>
      docs.select(
        (col("doc_id") + lit(i * docStride)).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = Tables.table(spark, src, "embeddings")
    (0 until reps).map { i =>
      emb.select(
        (col("vec_id") + lit(i * vecStride)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr(
           s"""transform(embedding, (x, idx) -> x *
                 CAST(CASE WHEN substring(md5(concat('s$i:',
                                CAST(idx AS STRING))), 1, 1) < '8'
                      THEN 1.0 ELSE -1.0 END AS FLOAT))""")).as("embedding"),
        (col("label") + lit(i * labelStride)).as("label"))
    }.reduce(_ unionByName _)
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val orders = Tables.table(spark, src, "orders")
    (0 until reps).map { i =>
      orders.select(
        (col("o_orderkey") + lit(i * orderStride)).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "testdata_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.tool(defaultCpus = 16)
    synthesize(spark, src, dst, reps,
      spark.sparkContext.defaultParallelism)
    println(s"MAKESF1 done: $dst at ${reps}x $src")
    spark.stop()
  }
}
