package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.extensions.TextAnalysis

/** Streaming twin of the two-stage retrieval decontamination triage
  * (q_retrieval_decon): arriving documents are BM25-scored against the
  * benchmark prompt's term bag using FROZEN corpus dims, and only each
  * batch's lexical top-k pays the n-gram containment pass against the
  * benchmark gram dim — eval-leak triage at admission time, before a
  * contaminated document ever lands in the corpus.
  *
  * Shape: the three dims are corpus-derived once and persisted —
  * (n_docs, avgdl) stats, the ≤|terms|-row idf table, and the
  * benchmark's distinct gram dim (all [[TextAnalysis]] helpers, so the
  * scoring/containment code is shared VERBATIM with the static row:
  * batch ≡ static by construction, [[StreamingRetrievalDeconSpec]] pins
  * it). In production the dims refresh at compaction cadence; between
  * refreshes per-batch cost is ∝ batch (one narrow batch scan for
  * tf/dl, a k-bounded containment join) — nothing of the corpus is
  * rescanned per batch, the [[StreamingDedup]] frozen-index discipline
  * applied to the lexical stats.
  *
  * ALL per-batch work runs INSIDE foreachBatch where the micro-batch is
  * a plain DataFrame (the per-doc tf aggregation would be stateful on
  * the raw stream side); the output is a pure function of the batch, so
  * replay reproduces it bitwise and the stream keeps zero state. */
object StreamingRetrievalDecon {

  /** The frozen dims: (stats, idf, benchGrams), each localCheckpoint'ed
    * so every batch reads one materialization. */
  def dims(corpus: DataFrame, benchmark: DataFrame,
           queryTerms: Seq[String], n: Int = 4)
      : (DataFrame, DataFrame, DataFrame) = {
    val perDoc = TextAnalysis.bm25PerDoc(corpus, queryTerms)
    val tf = TextAnalysis.bm25Tf(perDoc)
    val (stats, idf) = TextAnalysis.bm25Dims(perDoc, tf)
    (stats.localCheckpoint(), idf.localCheckpoint(),
      TextAnalysis.benchGramDim(benchmark, n))
  }

  /** The per-batch triage over a STATIC frame (doc_id, text): batch
    * top-k by the frozen lexical dims, then containment for those k
    * only. Exposed so the spec (and any batch backfill) runs the exact
    * code path the sink runs per micro-batch. Output shape is the
    * static row's: (doc_id, bm25, n_grams, n_shared, containment,
    * contaminated), retrieval-ranked. */
  def admitBatch(batch: DataFrame, stats: DataFrame, idf: DataFrame,
                 benchGrams: DataFrame, queryTerms: Seq[String],
                 k: Int = 20, n: Int = 4,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perDoc = TextAnalysis.bm25PerDoc(batch, queryTerms, share = false)
    val tf = TextAnalysis.bm25Tf(perDoc)
    val topk = TextAnalysis.bm25Score(tf, stats, idf, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
    val cands = broadcast(topk)
      .join(batch.select(col("doc_id"), col("text")), "doc_id")
    val cont = TextAnalysis.candidateContainment(cands, benchGrams, n)
    topk.join(cont, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("bm25"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(coalesce(col("n_shared"), lit(0L)) / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("containment"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** foreachBatch sink over [[admitBatch]]: hands each micro-batch's
    * triage frame to `onBatch` with the batch id (idempotent under
    * replay — the frame is a pure function of the batch and the frozen
    * dims). Call `.start()` on the result. */
  def sink(stats: DataFrame, idf: DataFrame, benchGrams: DataFrame,
           queryTerms: Seq[String], arriving: DataFrame,
           onBatch: (DataFrame, Long) => Unit,
           k: Int = 20, n: Int = 4): DataStreamWriter[Row] =
    Admission.sink(arriving.writeStream) { b =>
      onBatch(admitBatch(b.df, stats, idf, benchGrams, queryTerms, k, n), b.id)
    }
}
