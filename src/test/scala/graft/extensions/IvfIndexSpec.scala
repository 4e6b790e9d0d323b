package graft.extensions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.plans.Layout

/** The persisted IVF index's two contracts (r18 VERDICT #2): a probe
  * physically reads ONLY the probed cell's files (partition pruning —
  * the delta-log-pruning evidence pattern, via Layout.scannedFiles),
  * and the indexed path returns exactly [[Similarity.ivfTopK]]'s rows
  * (the q_ann_ivf hash gate's local twin). */
class IvfIndexSpec extends SparkSpec {

  private val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  test("probe scans exactly the query cell's directory; rows equal inline ivfTopK") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-idx").toFile.getAbsolutePath
    Similarity.writeIvfIndex(emb, dir)
    val idx = spark.read.parquet(dir)

    val qlabel = idx.filter(col("vec_id") === 0L)
      .select("label").head().getInt(0)
    val probe = Similarity.ivfTopKIndexed(idx, 0L, 10)

    // pruning evidence: the probe's scan lists ONLY label=<qcell> files
    val probeFiles = Layout.scannedFiles(probe).toSet
    val allFiles = Layout.scannedFiles(idx).toSet
    val cellFiles = allFiles.filter(_.contains(s"label=$qlabel"))
    assert(probeFiles.nonEmpty)
    assert(probeFiles == cellFiles,
      s"probe must read exactly the query cell's files:\n$probeFiles")
    val nCells = idx.select("label").distinct().count()
    assert(nCells > 1, "fixture needs multiple cells for pruning to mean anything")
    assert(probeFiles.size < allFiles.size,
      s"pruned ${probeFiles.size} of ${allFiles.size} across $nCells cells")

    // row-for-row equivalence with the inline path (ordered compare —
    // both end in the same (cos desc, vec_id) top-k)
    val inline = Similarity.ivfTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = probe
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == inline, "indexed probe must equal the inline cell scan")
  }

  test("incremental upsert: touched cells rewritten, untouched cells' files byte-identical, probe stays pruned and equals the full inline path") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-upsert").toFile.getAbsolutePath
    // build from a PARTIAL corpus, then upsert the held-out slice —
    // held-out rows confined to labels 0..3 so cells 4+ stay untouched
    // (the 500-vector fixture spreads over 10 labels)
    val held = pmod(col("vec_id"), lit(7L)) === 0L && col("label") < 4
    val seed = emb.filter(!held)
    val arriving = emb.filter(held)
    Similarity.writeIvfIndex(seed, dir)

    val touched = arriving.select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    val untouched = spark.read.parquet(dir).select("label").distinct()
      .collect().map(_.getInt(0)).toSet -- touched

    def cellFiles(label: Int): Set[(String, Long)] = {
      val d = new java.io.File(dir, s"label=$label")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val beforeUntouched = untouched.map(l => l -> cellFiles(l)).toMap

    val ret = Similarity.upsertIvfIndex(dir, arriving)
    assert(ret == touched.toSeq.sorted, "returns the touched cell set")

    // untouched cell directories: same files, same mtimes — the write
    // never visited them (dynamic partition overwrite contract)
    untouched.foreach { l =>
      assert(cellFiles(l) == beforeUntouched(l),
        s"untouched cell $l must keep its files byte-identical")
    }

    // after the append+probe cycle the index answers like the FULL
    // corpus inline path (q_ann_ivf's hash-gate equivalence, extended
    // through an upsert)
    val idx = spark.read.parquet(dir)
    assert(idx.count() == emb.count(), "index now holds every vector once")
    val indexed = Similarity.ivfTopKIndexed(idx, 0L, 10)
    val inline = Similarity.ivfTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == inline, "post-upsert probe must equal the full inline path")

    // pruning preserved: the probe still scans ONLY the query cell's
    // files (possibly two per cell now — seed + upsert generations)
    val qlabel = idx.filter(col("vec_id") === 0L).select("label")
      .head().getInt(0)
    val probeFiles = Layout.scannedFiles(Similarity.ivfTopKIndexed(idx, 0L, 10))
      .toSet
    assert(probeFiles.nonEmpty &&
      probeFiles == Layout.scannedFiles(idx).toSet
        .filter(_.contains(s"label=$qlabel")),
      "probe after upsert must still read exactly the query cell's files")

    // upsert is idempotent on vec_id: re-sending the same batch does
    // not duplicate rows (the anti-join's batch-wins contract)
    Similarity.upsertIvfIndex(dir, arriving)
    assert(spark.read.parquet(dir).count() == emb.count(),
      "replayed batch must replace, not duplicate")
  }

  test("drift gate: an in-distribution batch upserts; a shifted batch triggers rebuild") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-maint").toFile.getAbsolutePath
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 400L), dir)
    // in-distribution: the held-out slice of the same corpus (the
    // 500-vector fixture: 100 vectors over the same 10 cells)
    val calm = emb.filter(col("vec_id") >= 400L)
    val (a1, _) = Similarity.maintainIvfIndex(dir, calm, jsThreshold = 0.1)
    assert(a1 == "upsert", "matching cell distribution must not rebuild")
    // shifted: everything forced into one cell (an encoder break)
    val shifted = emb.filter(col("vec_id") >= 400L)
      .withColumn("label", lit(0))
    val (a2, _) = Similarity.maintainIvfIndex(dir, shifted, jsThreshold = 0.1)
    assert(a2 == "rebuild", "a collapsed cell distribution must re-center")
  }

  test("day-one bootstrap: upsert into an empty-corpus index establishes a clean partitioned layout") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-bootstrap").toFile.getAbsolutePath
    // the EmptyCorpusSpec day-one case: an empty corpus persists as one
    // FLAT schema-carrying file; the first arriving batch must not
    // leave a mixed flat/partitioned layout behind (partition discovery
    // rejects those on the next read)
    Similarity.writeIvfIndex(emb.filter(lit(false)), dir)
    assert(spark.read.parquet(dir).isEmpty)
    val batch = emb.filter(col("vec_id") < 50L)
    val touched = Similarity.upsertIvfIndex(dir, batch)
    assert(touched.nonEmpty)
    val idx = spark.read.parquet(dir) // readable: no mixed layout
    assert(idx.count() == batch.count())
    // the flat bootstrap file is gone — every data file is under label=
    assert(Layout.scannedFiles(idx).forall(_.contains("label=")),
      "static bootstrap overwrite must clear the flat empty-corpus file")
    // and the established layout behaves: probe equals the inline path
    val inline = Similarity.ivfTopK(batch, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Similarity.ivfTopKIndexed(idx, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == inline)
    // a SECOND upsert takes the normal touched-cell path on the now-
    // partitioned layout
    val batch2 = emb.filter(col("vec_id") >= 50L && col("vec_id") < 80L)
    Similarity.upsertIvfIndex(dir, batch2)
    assert(spark.read.parquet(dir).count() == 80L)
  }

  test("index build is session-memoized: one path per corpus plan, evictable") {
    val p1 = Similarity.ivfIndexPath(emb)
    val p2 = Similarity.ivfIndexPath(
      Tables.table(spark, "/root/testdata/sf0.001", "embeddings"))
    assert(p1 == p2, "same corpus plan -> same persisted index")
    graft.Memo.evict(spark, graft.Memo.IvfIndexes)
    val p3 = Similarity.ivfIndexPath(emb)
    assert(p3 != p1, "eviction forces a fresh build")
  }
}
