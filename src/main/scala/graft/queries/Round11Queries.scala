package graft.queries

import org.apache.spark.sql.functions._

/** Round-11 additions: the S8 paged-source scan (the last §2.1 row) —
  * see [[graft.sources.PagedSource]]. */
object Round11Queries {

  /** [[graft.sources.PagedSource]] — the recursive date-bisect paged
    * scan, end to end: the fixture feed's 5000 rows overflow the
    * 100×5 page cap across the whole 10-day span, so the planner
    * bisects to ≤500-row windows and fans the pages out as input
    * partitions. The oracle reproduces the fixture's row function
    * (id, base + (id·2654435761) mod span, 'vac-'||id) independently —
    * a planner that dropped, duplicated, or boundary-shifted any
    * window breaks the hash. */
  private val pagedSource = Q("q_paged_source",
    (s, _) => s.read.format("graft.sources.PagedSource")
      .option("n", "5000").option("base", "1600000000")
      .option("span", "864000")
      .option("perPage", "100").option("maxPages", "5")
      .option("minRange", "60")
      .load(),
    Some("""SELECT CAST(t.id AS BIGINT) AS id,
                   CAST(1600000000 + (t.id * 2654435761) % 864000 AS BIGINT)
                     AS ts_sec,
                   'vac-' || t.id AS title
            FROM range(0, 5000) t(id) ORDER BY id"""))

  private def packed(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.extensions.Packing.packChunks(
      graft.Tables.table(s, dir, "documents"), budget = 64)

  private def deletesOf(m: org.apache.spark.sql.DataFrame) =
    m.select("doc_id").filter(col("doc_id") % 37 === 0)

  /** [[graft.extensions.Packing.applyDeletes]] — right-to-be-forgotten
    * propagation through the q_pack_chunks manifest (every 37th doc
    * deleted): each shard's token stream closes up over the removed
    * spans WITHOUT re-tokenizing any text. The oracle re-derives the
    * packed geometry over the retained population independently, so a
    * repack that drifted from pack-the-filtered-corpus semantics (the
    * spec-pinned equivalence) breaks the hash here too. */
  private val deleteRepack = Q("q_delete_repack",
    (s, dir) => {
      val m = packed(s, dir)
      graft.extensions.Packing.applyDeletes(m, deletesOf(m), budget = 64)
    },
    Some("""WITH t AS (SELECT doc_id, lang AS shard,
                              CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
                       FROM documents WHERE doc_id % 37 <> 0),
                 c AS (SELECT doc_id, shard, n_tok,
                              sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
                       FROM t)
            SELECT doc_id, shard, n_tok,
                   CAST(end_tok AS BIGINT) AS end_tok,
                   CAST(end_tok - n_tok AS BIGINT) AS start_tok,
                   CAST(floor((end_tok - n_tok) / 64) AS BIGINT) AS chunk_first,
                   CAST(floor((end_tok - 1) / 64) AS BIGINT) AS chunk_last
            FROM c ORDER BY shard, doc_id"""))

  /** [[graft.extensions.Packing.repackCost]] — the bounded-rewrite
    * bill for the delete pass: per shard, chunks before/after and how
    * many must rewrite (everything from the first deleted doc's
    * chunk_first on; every earlier chunk keeps its file byte-
    * identical). The oracle recomputes both manifests and the bound
    * independently; all columns int64. */
  private val deleteRepackCost = Q("q_delete_repack_cost",
    (s, dir) => {
      val m = packed(s, dir)
      graft.extensions.Packing.repackCost(m, deletesOf(m), budget = 64)
    },
    Some("""WITH t AS (SELECT doc_id, lang AS shard,
                              CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
                       FROM documents),
                 b AS (SELECT doc_id, shard, n_tok,
                              sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
                       FROM t),
                 before AS (SELECT shard,
                                   CAST(max((end_tok - 1) // 64) + 1 AS BIGINT) AS chunks_before
                            FROM b GROUP BY shard),
                 hit AS (SELECT shard,
                                CAST(min((end_tok - n_tok) // 64) AS BIGINT) AS first_hit
                         FROM b WHERE doc_id % 37 = 0 GROUP BY shard),
                 a AS (SELECT shard, n_tok,
                              sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
                       FROM b WHERE doc_id % 37 <> 0),
                 after AS (SELECT shard,
                                  CAST(max((end_tok - 1) // 64) + 1 AS BIGINT) AS chunks_after
                           FROM a GROUP BY shard)
            SELECT before.shard, chunks_before,
                   coalesce(chunks_after, 0) AS chunks_after,
                   CASE WHEN first_hit IS NULL THEN 0
                        ELSE greatest(coalesce(chunks_after, 0) - first_hit, 0)
                   END AS chunks_rewritten
            FROM before
            LEFT JOIN after USING (shard)
            LEFT JOIN hit USING (shard)
            ORDER BY shard"""))

  /** [[graft.extensions.DataCard.renderMerged]] — the release card
    * assembled the 100 TB way: two half-corpus CARD STATES (bounded:
    * tallies + per-source/lang counts + KMV min-hash rows) merged
    * without re-reading any document, then rendered. The oracle
    * computes every metric from the FULL corpus independently — the
    * merge being exact (k-smallest-of-union) is precisely what makes
    * the row hashable; top_token_share is deliberately absent (not
    * derivable from bounded state, documented in the scaladoc). */
  private val cardMerged = Q("q_card_merged",
    (s, dir) => {
      val docs = graft.Tables.table(s, dir, "documents")
      val a = graft.extensions.DataCard
        .buildState(docs.filter(col("doc_id") % 2 === 0).localCheckpoint())
      val b = graft.extensions.DataCard
        .buildState(docs.filter(col("doc_id") % 2 === 1).localCheckpoint())
      graft.extensions.DataCard
        .renderMerged(graft.extensions.DataCard.mergeStates(a, b))
    },
    Some("""WITH d AS (SELECT source, lang,
                              coalesce(n_chars, 0) AS n_chars,
                              len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                              t -> t <> '')) AS n_tok,
                              len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                              t -> t IN ('the', 'a'))) AS n_stop,
                              lower(coalesce(text, '')) AS lt
                       FROM documents),
                 sums AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                                 CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                                 CAST(sum(n_stop) AS BIGINT) AS total_stop,
                                 CAST(sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                   AS empty_docs,
                                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
                          FROM d),
                 msrc AS (SELECT CAST(max(c) AS BIGINT) AS max_source_docs FROM
                            (SELECT count(*) AS c FROM d GROUP BY source)),
                 th AS (SELECT DISTINCT
                          CAST(concat('0x', substr(md5(lt), 1, 12)) AS BIGINT) AS h
                        FROM d),
                 tr AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM th),
                 test AS (SELECT count(*) AS n_h,
                                 max(CASE WHEN rk = 256 THEN h END) AS hk
                          FROM tr WHERE rk <= 256),
                 kh AS (SELECT DISTINCT
                          CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
                        FROM (SELECT unnest(list_filter(
                                string_split(lt, ' '), t -> t <> '')) AS tok
                              FROM d)),
                 kr AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM kh),
                 kest AS (SELECT count(*) AS n_h,
                                 max(CASE WHEN rk = 256 THEN h END) AS hk
                          FROM kr WHERE rk <= 256)
            SELECT metric, round(value, 4) AS value FROM (
              SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM sums
              UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM sums
              UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM sums
              UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM sums
              UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM sums
              UNION ALL SELECT 'empty_docs', CAST(empty_docs AS DOUBLE) FROM sums
              UNION ALL SELECT 'distinct_text_est',
                CASE WHEN n_h < 256 THEN CAST(n_h AS DOUBLE)
                     ELSE 255 * 281474976710656.0 / hk END FROM test
              UNION ALL SELECT 'distinct_token_est',
                CASE WHEN n_h < 256 THEN CAST(n_h AS DOUBLE)
                     ELSE 255 * 281474976710656.0 / hk END FROM kest
              UNION ALL SELECT 'mean_doc_tokens',
                CAST(total_tokens AS DOUBLE) / n_docs FROM sums
              UNION ALL SELECT 'stop_ratio',
                CAST(total_stop AS DOUBLE) / total_tokens FROM sums
              UNION ALL SELECT 'max_source_share',
                CAST(max_source_docs AS DOUBLE) / n_docs FROM sums, msrc)
            ORDER BY metric"""))

  val all: Seq[Q] =
    Seq(pagedSource, deleteRepack, deleteRepackCost, cardMerged)
}
