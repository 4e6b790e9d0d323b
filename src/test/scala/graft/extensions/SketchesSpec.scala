package graft.extensions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.SparkSpec
import graft.functions.KMinDistinct

/** Counting-sketch contracts ([[Sketches]]): the Count-Min one-sided
  * guarantee and mergeability, and the KMV k-smallest set's
  * merge-order independence (what makes both sketches exactly
  * oracle-able — see ApproxSpec for the built-in sketches that are
  * NOT, which is the gap this family closes). */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta", "src0"),
    (2L, "alpha beta gamma delta iota kappa lambda mu", "src0"),
    (3L, "nu xi omicron pi rho sigma tau upsilon", "src1"),
    (4L, "alpha alpha alpha beta beta gamma nu nu", "src1"),
    (5L, "phi chi psi omega alpha beta gamma delta", "src2"),
    (6L, "", "src2")
  ).toDF("doc_id", "text", "source")

  private def exactCounts: Map[String, Long] =
    Sketches.tokens(docs).groupBy("tok").count()
      .as[(String, Long)].collect().toMap

  test("CMS never underestimates — one-sided error over the WHOLE vocabulary") {
    val exact = exactCounts
    val keys = exact.keys.toSeq.toDF("tok")
    // width 4 on a ~25-token vocab: every bucket collides, the harshest regime
    val sketch = Sketches.cmsBuild(Sketches.tokens(docs), depth = 4, width = 4)
    val est = Sketches.cmsEstimate(sketch, keys, depth = 4, width = 4)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (tok, cnt) =>
      assert(est(tok) >= cnt, s"$tok: est ${est(tok)} < exact $cnt")
    }
  }

  test("CMS is exact when the grid is wide enough to avoid 4-fold collisions") {
    val exact = exactCounts
    val keys = exact.keys.toSeq.toDF("tok")
    val sketch = Sketches.cmsBuild(Sketches.tokens(docs), depth = 4, width = 4096)
    val est = Sketches.cmsEstimate(sketch, keys, depth = 4, width = 4096)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (tok, cnt) =>
      assert(est(tok) == cnt, s"$tok: est ${est(tok)} != exact $cnt")
    }
  }

  test("the CMS grid stays depth x width rows however large the vocabulary") {
    // 5000 distinct tokens into 64 buckets per row: every cell is hit,
    // and the grid is still exactly 4 x 64 counters holding every token
    val big = spark.range(5000)
      .selectExpr("id AS doc_id", "concat('tok', id) AS text")
    val grid = Sketches.cmsBuild(Sketches.tokens(big), depth = 4, width = 64)
    assert(grid.count() == 4L * 64L)
    assert(grid.groupBy("seed").agg(sum("cnt")).as[(Int, Long)].collect()
      .toMap == (0 until 4).map(_ -> 5000L).toMap)
  }

  test("CMS grids are additive: sketch(a ∪ b) = sketch(a) + sketch(b) cell-wise") {
    val a = docs.filter($"doc_id" <= 3)
    val b = docs.filter($"doc_id" > 3)
    def grid(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      Sketches.cmsBuild(Sketches.tokens(df), depth = 4, width = 8)
        .as[(Int, Long, Long)].collect()
        .map { case (s, bkt, c) => (s, bkt) -> c }.toMap
    val whole = grid(docs)
    val merged = (grid(a).toSeq ++ grid(b).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(merged == whole)
  }

  test("KMinDistinct is merge-order and partition independent (ScalaCheck)") {
    val gen = for {
      xs <- Gen.listOf(Gen.chooseNum(0L, 40L)) // dense range forces duplicates
      cut <- Gen.chooseNum(0, 5)
    } yield (xs, cut)
    val prop = Prop.forAll(gen) { case (xs, nChunks) =>
      val k = 5
      val agg = new KMinDistinct(k)
      val direct = xs.foldLeft(agg.zero)(agg.reduce)
      val chunks =
        if (nChunks == 0) Seq(xs)
        else xs.grouped(math.max(1, xs.size / (nChunks + 1) + 1)).toSeq
      val merged = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val expected = xs.distinct.sorted.take(k)
      direct == expected && merged == expected
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("KMV reports exactly below k and within estimator error above it") {
    // exact mode: k larger than any source's distinct 2-gram count
    val small = Sketches.kmvDistinct(docs, k = 1000, n = 2)
      .as[(String, Long, Double)].collect()
    small.foreach { case (src, exact, est) =>
      assert(est == exact.toDouble, s"$src exact-mode drift: $est vs $exact")
    }
    // estimation mode on the sf0.001 corpus: k=64 over ≥1k shingles/source
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = Sketches.kmvDistinct(corpus, k = 64, n = 3)
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, exact, est) =>
      val rel = math.abs(est - exact) / exact
      assert(rel < 0.5, f"$src: est $est%.1f vs exact $exact (rel err $rel%.2f)")
    }
  }

  test("CMS join-size upper-bounds the exact join size; exact when collision-free") {
    val a = Seq(1L, 1L, 2L, 3L, 5L).toDF("k")
    val b = Seq(1L, 2L, 2L, 4L).toDF("k")
    val exact = a.join(b, "k").count() // 1→2·1, 2→1·2 ⇒ 4 pairs
    def est(w: Int): Long = Sketches.cmsJoinSize(
        Sketches.cmsKeyGrid(a, "k", 4, w),
        Sketches.cmsKeyGrid(b, "k", 4, w))
      .as[Long].head()
    // width 2: every key collides — the bound must still hold
    assert(est(2) >= exact, s"${est(2)} < $exact")
    // width 4096 over 6 keys: some depth row is collision-free and the
    // min recovers the exact product
    assert(est(4096) == exact, s"${est(4096)} != $exact")
  }

  test("skewFactor flags a hot key and clears a uniform one") {
    // 8k rows, half on key 0 → factor ≈ 0.25·D; uniform → ≈ 1
    val hot = spark.range(8192).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k")
    val uniform = spark.range(8192).selectExpr("id AS k")
    val fh = Sketches.skewFactor(hot, "k", width = 1 << 17)
      .head().getAs[Double]("skew_factor")
    val fu = Sketches.skewFactor(uniform, "k", width = 1 << 17)
      .head().getAs[Double]("skew_factor")
    assert(fh > 100, s"hot factor $fh")
    assert(fu > 0.3 && fu < 3, s"uniform factor $fu")
  }

  test("kmvDistinct matches a driver-side reference estimator") {
    val corpus = docs.filter($"doc_id" <= 5)
    // recompute: per source, 2-gram shingles, md5-48-bit hashes, 4 smallest
    val ref = corpus.select($"source", $"text").as[(String, String)].collect()
      .groupBy(_._1).map { case (src, rows) =>
        val shingles = rows.flatMap { case (_, t) =>
          val toks = t.toLowerCase.split(" ").filter(_.nonEmpty)
          toks.sliding(2).filter(_.length == 2).map(_.mkString(" "))
        }.distinct
        val hs = shingles.map { s =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8"))
          java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
        }.distinct.sorted.take(4)
        val est =
          if (hs.length < 4) hs.length.toDouble
          else 3.0 * 281474976710656.0 / hs(3)
        src -> BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val gotFull = Sketches.kmvDistinct(corpus, k = 4, n = 2)
      .as[(String, Long, Double)].collect().map { case (s, _, e) => s -> e }.toMap
    assert(gotFull == ref, s"$gotFull vs $ref")
  }
}
