package graft.extensions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ProductQuantizationSpec extends SparkSpec {
  import spark.implicits._

  // 3 tight planted clusters in 8 dims (m=2 subspaces of 4): PQ with
  // ksub=4 has more than enough codewords to separate them
  private def clustered(n: Int): Seq[(Long, Array[Double])] = {
    val anchors = Seq(
      Array(10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 10.0, 0.0))
    (0 until n).map { i =>
      val a = anchors(i % 3)
      (i.toLong, a.zipWithIndex.map { case (v, d) => v + 0.01 * ((i + d) % 5) })
    }
  }
  private lazy val emb = clustered(30).toDF("vec_id", "embedding")
  private lazy val cb = ProductQuantization.train(emb, dim = 8, m = 2, ksub = 4)

  test("codebooks and codes are deterministic run to run") {
    val cb2 = ProductQuantization.train(emb, dim = 8, m = 2, ksub = 4)
    assert(cb.books.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.books.map(_.map(_.toSeq).toSeq).toSeq)
    def codes() = ProductQuantization.encode(emb, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes() == codes())
    assert(codes().size == 30, "every non-degenerate row gets a code")
  }

  test("a code is m sub-codes below ksub: m bytes per vector at ksub <= 256") {
    val codes = ProductQuantization.encode(emb, cb)
      .collect().map(_.getSeq[Int](1))
    assert(codes.length == 30)
    assert(codes.forall(c => c.size == 2 && c.forall(i => i >= 0 && i < 4)),
      codes.map(_.mkString("[", ",", "]")).mkString(" "))
  }

  test("ADC score equals the reconstruction distance bit-for-bit") {
    val q = clustered(1).head._2.map(_ + 0.005)
    val codes = ProductQuantization.encode(emb, cb)
    val adc = ProductQuantization.searchAdc(codes, cb, q, kTop = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byId = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    byId.foreach { case (id, code) =>
      // the same per-subspace left-to-right grouping searchAdc uses
      val expect = (0 until cb.m).map { j =>
        val cw = cb.books(j)(code(j))
        var acc = 0.0
        var i = 0
        while (i < cb.dsub) {
          val d = q(j * cb.dsub + i) - cw(i); acc += d * d; i += 1
        }
        acc
      }.foldLeft(0.0)(_ + _)
      assert(java.lang.Double.compare(adc(id), expect) == 0,
        s"vec $id: adc ${adc(id)} != reconstruction $expect")
    }
  }

  test("ADC ranking recovers the query's planted cluster before any other") {
    // query near anchor 0: the 10 cluster-0 members must fill the top 10
    val q = Array(10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0)
    val codes = ProductQuantization.encode(emb, cb)
    val top = ProductQuantization.searchAdc(codes, cb, q, kTop = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(top == (0 until 30 by 3).map(_.toLong).toSet, s"got $top")
  }

  test("ADC shortlist + exact re-rank returns the exact L2 top-k when the shortlist covers it") {
    graft.functions.GraftFunctions.register(spark)
    val q = Array(10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0)
    val codes = ProductQuantization.encode(emb, cb)
    val reranked = ProductQuantization
      .searchAdcRerank(codes, emb, cb, q, kTop = 5, shortlist = 30)
      .select("vec_id").as[Long].collect().toSeq
    // shortlist = whole corpus ⇒ the result IS the exact L2 ranking
    val exact = emb
      .select(col("vec_id"),
        call_function("squared_l2", col("embedding").cast("array<double>"),
          typedLit(q.toSeq)).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(reranked == exact)
  }

  test("IVF-PQ: nprobe=1 scans only the query's cell; covering nprobe + shortlist is exact") {
    graft.functions.GraftFunctions.register(spark)
    val cents = KMeans.fit(emb, k = 3, iters = 5).localCheckpoint()
    val assigned = KMeans.assign(emb, cents).select("vec_id", "cell_id")
    val codes = ProductQuantization.encode(emb, cb)
    val q = Array(10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0) // anchor-0 query
    // nprobe=1: only cluster 0's members (ids ≡ 0 mod 3) are reachable
    val np1 = ProductQuantization.ivfPqSearch(codes, assigned, emb, cents,
      cb, q, kTop = 10, nprobe = 1, shortlist = 30)
      .select("vec_id").as[Long].collect().toSet
    assert(np1.nonEmpty && np1.forall(_ % 3 == 0), s"leaked outside the probed cell: $np1")
    // covering everything (nprobe = k, shortlist = corpus) ⇒ exact L2 top-k
    val full = ProductQuantization.ivfPqSearch(codes, assigned, emb, cents,
      cb, q, kTop = 5, nprobe = 3, shortlist = 30)
      .select("vec_id").as[Long].collect().toSeq
    val exact = emb.select(col("vec_id"),
        call_function("squared_l2", col("embedding").cast("array<double>"),
          typedLit(q.toSeq)).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exact)
  }

  test("degenerate rows quarantine: a null element yields no code, not a crash") {
    val bad = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (2L, Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)))
      .toDF("vec_id", "raw")
      .select(col("vec_id"), col("raw").cast("array<double>").as("embedding"))
    val got = ProductQuantization.encode(bad, cb)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("encode plan stays zero-shuffle narrow (no Exchange, no Join)") {
    val p = ProductQuantization.encode(emb.localCheckpoint(), cb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }
}
