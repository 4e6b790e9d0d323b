package graft.extensions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import graft.SparkSpec

/** ScalaCheck invariants for winnowing and BPE. Winnowing: the SIGMOD'03
  * coverage guarantee (two docs sharing a >= k+w-1 token run share a
  * fingerprint) holds for RANDOM contexts and run contents, the
  * fingerprint count is bounded by the window count, and fingerprinting
  * is permutation-sensitive but duplication-stable. BPE: a merge never
  * increases any word's symbol count, and stripping separators from the
  * segmentation always reconstructs the word. Case counts kept small —
  * each case runs real Spark jobs. */
object WinnowingProperties extends Properties("Winnowing") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val k = 3
  private val w = 4
  private val word: Gen[String] = for {
    len <- Gen.choose(1, 5)
    cs <- Gen.listOfN(len, Gen.alphaLowerChar)
  } yield cs.mkString

  private def words(n: Int): Gen[List[String]] = Gen.listOfN(n, word)

  property("coverage guarantee under random contexts") =
    forAll(words(k + w - 1), words(5), words(5), words(12)) {
      (run, ctxA, ctxB, other) =>
        val docs = Seq(
          (1L, (ctxA ++ run).mkString(" ")),
          (2L, (run ++ ctxB).mkString(" ")),
          (3L, other.mkString(" "))).toDF("doc_id", "text")
        val pairs = Winnowing
          .sharedFingerprintPairs(docs, k, w, minShared = 1, maxDf = None)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        pairs.contains((1L, 2L))
    }

  property("fingerprint count bounded by windows; density <= 1") =
    forAll(words(20)) { toks =>
      val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val r = Winnowing.fingerprints(docs, k, w).collect().head
      val (nGrams, nFps) = (r.getLong(1), r.getLong(2))
      val nWindows = math.max(nGrams - (w - 1), math.min(nGrams, 1))
      nFps <= nWindows && (nGrams == 0 || r.getDouble(3) <= 1.0)
    }

  property("distinct-token text: winnowed density near 2/(w+1)") =
    forAll(Gen.choose(0, 1 << 20)) { seed =>
      // 2000 grams of fresh tokens: the window minimum is a fresh gram
      // about 2/(w+1) of the time, so the index shrinks by that factor
      val docs = Seq((1L, (0 until 2002).map(i => s"t${seed}_$i")
        .mkString(" "))).toDF("doc_id", "text")
      val density = Winnowing.fingerprints(docs, k, w).collect().head.getDouble(3)
      density > 1.5 / (w + 1) && density < 2.5 / (w + 1)
    }

  property("duplicating a doc adds no new fingerprints: identical digests") =
    forAll(words(15)) { toks =>
      val t = toks.mkString(" ")
      val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      val ds = Winnowing.fingerprints(docs, k, w)
        .collect().map(r => r.getString(4)).distinct
      ds.length == 1
    }

  property("BPE: merges never grow a segmentation, and it reassembles the word") =
    forAll(Gen.choose(1, 3), words(10)) { (nMerges, toks) =>
      val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val merges = BpeTrain.learn(docs, nMerges)
      val seg = BpeTrain.segment(docs, merges).collect()
        .map(r => (r.getString(0), r.getString(2), r.getLong(3)))
      seg.forall { case (wrd, s, n) =>
        s.replace(" ", "") == wrd && n <= wrd.length && n >= 1
      }
    }
}
