package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the concat-and-chunk batching LLM pretraining
  * uses: documents are laid end-to-end into a per-shard token stream and
  * the stream is cut into fixed-`budget` training chunks. Each document
  * is assigned its token span and the chunk range it overlaps, from
  * which a loader materializes chunk contents.
  *
  * Plan shape: one narrow token count + ONE windowed cumulative sum
  * partitioned by the shard column — the shard is the parallel unit, so
  * packing 100 TB costs a single shuffle on the shard key and each
  * shard's running sum stays inside one task stream. A global (single-
  * partition) pack would serialize; shard-wise is how packing is done in
  * practice (shards = data-parallel workers). Order within a shard is
  * pinned by doc_id for determinism. */
object Packing {

  def packChunks(
      documents: DataFrame,
      budget: Int,
      shardCol: String = "lang"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col(shardCol).as("shard"), TextAnalysis.nTok.as("n_tok"))
      .withColumn("end_tok", sum("n_tok").over(w))
      .withColumn("start_tok", col("end_tok") - col("n_tok"))
      .withColumn("chunk_first", floor(col("start_tok") / budget).cast("long"))
      .withColumn("chunk_last",
        floor((col("end_tok") - 1) / budget).cast("long"))
  }

  /** Distributed total-order row number (0-based) over `sortCols` —
    * the enumeration primitive [[shardAssign]] needs WITHOUT the
    * single-partition `Window.orderBy` trap (an unpartitioned window
    * moves the whole frame to one task; at 100 TB that is the job).
    *
    * Shape: range-partition on the sort key, freeze ONE materialization
    * (localCheckpoint — counts and ranks must see the same placement),
    * collect the per-partition row counts (≤ numShufflePartitions rows),
    * broadcast the prefix offsets as a map literal, and add a
    * within-partition row_number. Total order is exact regardless of
    * where the range boundaries fall: ranges are disjoint in key space
    * and each partition is ranked by the same keys. Call on a NARROW
    * metadata projection (id + sort key, ~16 B/row — a few GB per
    * billion rows) and join the rank back by id; ranking a wide frame
    * checkpoints the wide payload for no reason. */
  def globalRowNumber(
      df: DataFrame, sortCols: Seq[Column], rnCol: String = "rn"): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("_gr_pid", spark_partition_id())
      .localCheckpoint()
    val offsets: Map[Int, Long] = {
      val counts = ranged.groupBy("_gr_pid").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      var acc = 0L
      counts.sortBy(_._1).map { case (pid, c) =>
        val off = acc; acc += c; pid -> off
      }.toMap
    }
    val w = Window.partitionBy("_gr_pid").orderBy(sortCols: _*)
    ranged
      .withColumn(rnCol,
        row_number().over(w).cast("long") - 1L +
          coalesce(element_at(typedLit(offsets), col("_gr_pid")), lit(0L)))
      .drop("_gr_pid")
  }

  /** Token-balanced shard assignment — the trainer-facing placement
    * step between cleaning and [[packChunks]]: `numShards` data-parallel
    * workers each want the SAME total token count, or the slowest shard
    * paces every step. Greedy LPT is inherently sequential; the
    * distributed stand-in is sorted serpentine round-robin: rank docs by
    * (n_tok desc, doc_id), deal rank r to lane r mod S, and REVERSE the
    * lane order on every other pass — the lane that just received the
    * largest doc of one pass receives the smallest of the next, so
    * per-pass imbalance cancels instead of accumulating (plain
    * round-robin hands lane 0 the largest doc of EVERY pass).
    * Deterministic, oracle-expressible, and fully parallel: one
    * metadata-only [[globalRowNumber]] plus arithmetic.
    *
    * Output: (doc_id, n_tok, shard) — join back by doc_id to carry
    * text, then `packChunks(joined, budget, "shard")` packs each shard
    * independently. */
  def shardAssign(documents: DataFrame, numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val meta = documents.select(col("doc_id"), TextAnalysis.nTok.as("n_tok"))
    val lane = pmod(col("rn"), lit(numShards.toLong))
    val pass = floor(col("rn") / numShards)
    globalRowNumber(meta, Seq(col("n_tok").desc, col("doc_id")))
      .select(col("doc_id"), col("n_tok"),
        when(pmod(pass, lit(2L)) === 0, lane)
          .otherwise(lit(numShards - 1L) - lane).cast("int").as("shard"))
  }

  /** Per-shard balance report over a [[shardAssign]] result: doc count,
    * token total, and the balance factor tok_sum · S / Σ tok_sum scaled
    * ×10000 (10000 = perfect). The factor is computed ENTIRELY in int64
    * (round-half-up as `(2·tok_sum·S·10000 + Σ) div 2Σ`) so the published
    * row is bit-stable across engines and float canonicalizations — no
    * DoubleType in the hashed output, the discipline every other oracled
    * metric follows. Int64 headroom is Long.MaxValue / (2·S·10⁴) tokens
    * per shard — ~5.7e13 at S=8, ~7.2e12 at the bench's S=64, still
    * orders beyond any real shard of a 100 TB corpus (~2.5e13 tokens
    * TOTAL at 4 bytes/token). The grand total comes from a
    * broadcast 1-row aggregate, not an unpartitioned window. */
  def shardBalance(assigned: DataFrame, numShards: Int): DataFrame = {
    val perShard = assigned.groupBy("shard").agg(
      count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
    val total = perShard.agg(sum("tok_sum").as("_tot"))
    val scale = 2L * numShards * 10000L
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("tok_sum"),
        expr(s"(tok_sum * $scale + _tot) div (2 * _tot)")
          .as("balance_x10k"))
  }

  /** Delete propagation through a [[packChunks]] manifest — the
    * right-to-be-forgotten pass a shipped training set needs: given a
    * delete list, re-derive the manifest for the RETAINED docs without
    * touching the corpus text. Each shard's stream closes up over the
    * removed spans (same cumulative-sum shape as packChunks, same
    * doc_id order), so the result is EXACTLY what packing the filtered
    * corpus would produce (spec-pinned equivalence) — but computed
    * from manifest rows (~32 B/doc), never a 100 TB re-tokenization.
    *
    * The write side is incremental too: within a shard, every chunk
    * BEFORE the first deleted doc's chunk_first is byte-identical
    * (prefix ranks and spans are untouched by removals behind them),
    * so only the suffix from that chunk on rewrites —
    * [[repackCost]] publishes exactly that bound per shard. */
  def applyDeletes(
      manifest: DataFrame, deletes: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest.join(deletes.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("shard"), col("n_tok"))
      .withColumn("end_tok", sum("n_tok").over(w))
      .withColumn("start_tok", col("end_tok") - col("n_tok"))
      .withColumn("chunk_first", floor(col("start_tok") / budget).cast("long"))
      .withColumn("chunk_last",
        floor((col("end_tok") - 1) / budget).cast("long"))
  }

  /** Per-shard rewrite bill for [[applyDeletes]]: how many training
    * chunks existed, how many remain, and how many must be rewritten —
    * `chunks_after − chunk_first(first deleted doc)` (0 for shards the
    * delete list never touches; every chunk before that index is
    * byte-identical and keeps its file). The number the shard writer
    * acts on, and the measurable form of the "unlearning is bounded,
    * not a full repack" claim. All columns int64. */
  def repackCost(
      manifest: DataFrame, deletes: DataFrame, budget: Int): DataFrame = {
    val del = manifest.join(deletes.select("doc_id"), Seq("doc_id"), "left_semi")
    val before = manifest.groupBy("shard")
      .agg((max("chunk_last") + 1).as("chunks_before"))
    val after = applyDeletes(manifest, deletes, budget).groupBy("shard")
      .agg((max("chunk_last") + 1).as("chunks_after"))
    val firstHit = del.groupBy("shard")
      .agg(min("chunk_first").as("_first_hit"))
    before
      .join(after, Seq("shard"), "left_outer")
      .join(firstHit, Seq("shard"), "left_outer")
      .select(col("shard"), col("chunks_before"),
        coalesce(col("chunks_after"), lit(0L)).as("chunks_after"),
        when(col("_first_hit").isNull, lit(0L))
          .otherwise(greatest(
            coalesce(col("chunks_after"), lit(0L)) - col("_first_hit"),
            lit(0L)))
          .as("chunks_rewritten"))
  }

  /** Deterministic EPOCH SHUFFLE — the per-epoch reshuffle a trainer
    * wants without a true random shuffle's irreproducibility: rank
    * every doc by `md5(seed ":" doc_id)` (ties by doc_id, though md5
    * makes them measure-zero) through [[globalRowNumber]], so each
    * seed yields a fixed, globally-enumerated permutation — epoch 3 of
    * run A and of its re-run order documents IDENTICALLY, the property
    * data-loader seeds exist for, while different seeds decorrelate
    * epochs as well as a random shuffle would.
    *
    * Scale shape: the same range-partition + broadcast-prefix-offsets
    * enumeration as [[shardAssign]] — the hash key spreads uniformly,
    * so the range partitions are balanced by construction and no
    * single-partition window ever appears. Runs on the (doc_id, key)
    * metadata projection; join `epoch_rn` back by doc_id to feed the
    * loader. */
  def epochShuffle(documents: DataFrame, seed: Long): DataFrame = {
    val meta = documents.select(col("doc_id"),
      md5(concat_ws(":", lit(seed), col("doc_id"))).as("_shuffle_key"))
    globalRowNumber(meta, Seq(col("_shuffle_key"), col("doc_id")), "epoch_rn")
      .select(col("doc_id"), col("epoch_rn"))
  }

  /** Sliding-window chunking — the long-document splitter for context-
    * bounded training and RAG indexing: each document's token stream is
    * cut into windows of `win` tokens starting every `stride` tokens
    * (stride < win ⇒ overlapping chunks, the usual boundary-context
    * trick). Emits one row per chunk with its index, start offset, token
    * count, and text.
    *
    * Scale shape: pure narrow generate — split, an arithmetic sequence of
    * window starts, slice + posexplode. No shuffle, no window function,
    * no state; a 100 TB corpus chunks at scan speed. Chunk starts are
    * 0, stride, 2·stride, … while start < n_tok, so every token lands in
    * ≥1 chunk and the last chunk may be short. */
  def slidingChunks(documents: DataFrame, win: Int, stride: Int): DataFrame = {
    require(win > 0 && stride > 0, s"win/stride must be positive: $win/$stride")
    val arr = split(coalesce(col("text"), lit("")), " ")
    // n_tok >= 1 always: split("") = [""]; sequence stop stays >= 0. The
    // token array is let-bound (transform over a 1-element wrapper) so the
    // split runs once per row, not once per chunk slice.
    val chunks = flatten(transform(array(arr), a =>
      transform(
        sequence(lit(0), floor((size(a) - 1) / stride).cast("int")),
        k => slice(a, k * stride + 1, lit(win)))))
    documents
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_tok"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** Length-bucketed batching — the padded-batch assembly trainers use
    * when sequences are NOT concat-packed (SFT, reward modeling,
    * encoder workloads): every batch is padded to its longest member,
    * so batching similar-length docs together is the whole game.
    * Docs are bucketed by ⌊n_tok / bucketWidth⌋, enumerated within
    * their bucket (deterministic: doc_id order), and cut into batches
    * of `docsPerBatch`; each output row is one batch with its padded
    * cost: `padding_waste = n_docs · max_tok − tok_sum`.
    *
    * Scale shape: the within-bucket ordinal is NOT a per-bucket window
    * (one task per bucket = the skew trap; a bucket can hold most of
    * the corpus) — it rides [[globalRowNumber]] over (bucket, doc_id),
    * then subtracts each bucket's first global rank, which comes back
    * as a broadcast of ≤ #buckets rows. One range exchange + one
    * bounded broadcast, regardless of bucket skew. */
  def lengthBuckets(
      documents: DataFrame, bucketWidth: Long, docsPerBatch: Int): DataFrame =
    lengthBucketsFromMeta(tokenMeta(documents), bucketWidth, docsPerBatch)

  /** The `(doc_id, n_tok)` projection both batching policies rank —
    * token counting is the corpus-scan cost, so [[paddingWaste]] pays
    * it ONCE and feeds both rankings from the frozen result. */
  private def tokenMeta(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), TextTokens.count.as("n_tok"))

  private def lengthBucketsFromMeta(
      meta: DataFrame, bucketWidth: Long, docsPerBatch: Int): DataFrame = {
    require(bucketWidth > 0 && docsPerBatch > 0,
      s"bucketWidth/docsPerBatch must be positive: $bucketWidth/$docsPerBatch")
    val bucketed = meta.withColumn("bucket", expr(s"n_tok div $bucketWidth"))
    val ranked = globalRowNumber(
      bucketed, Seq(col("bucket"), col("doc_id")), "_rn")
    val bucketStart = ranked.groupBy("bucket").agg(min(col("_rn")).as("_b0"))
    ranked.join(broadcast(bucketStart), Seq("bucket"))
      .withColumn("batch_id", expr(s"(_rn - _b0) div $docsPerBatch"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("tok_sum"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_tok") - col("tok_sum"))
  }

  /** The lever [[lengthBuckets]] exists to pull, measured: total padded
    * tokens under length-bucketed batching vs the naive doc_id-order
    * batching a shuffled loader would do, same `docsPerBatch`. Output:
    * one row per policy `(policy, n_batches, tok_sum, padded_tokens,
    * waste_ppm)` — all integers (ppm, not a float ratio, so the row
    * hashes identically cross-engine). */
  def paddingWaste(
      documents: DataFrame, bucketWidth: Long, docsPerBatch: Int): DataFrame = {
    // the tokenized projection feeds BOTH rankings — freeze it once
    // (bounded: 16 B/row metadata, the globalRowNumber discipline) so
    // the corpus scan + tokenization are paid once, not per policy
    val meta = tokenMeta(documents).localCheckpoint()
    val naive = globalRowNumber(meta, Seq(col("doc_id")), "_rn")
      .withColumn("batch_id", expr(s"_rn div $docsPerBatch"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("tok_sum"))
    def roll(perBatch: DataFrame, policy: String): DataFrame =
      perBatch
        .agg(count(lit(1)).as("n_batches"),
          sum(col("tok_sum")).as("tok_sum"),
          sum(col("n_docs") * col("max_tok")).as("padded_tokens"))
        .select(lit(policy).as("policy"), col("n_batches"), col("tok_sum"),
          col("padded_tokens"),
          expr("(padded_tokens - tok_sum) * 1000000 div padded_tokens")
            .as("waste_ppm"))
    roll(lengthBucketsFromMeta(meta, bucketWidth, docsPerBatch), "bucketed")
      .unionByName(roll(naive, "naive"))
  }
}
