package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.extensions.ProductQuantization

/** Round-10 surface: the PQ encode→ADC path gets an oracle row (its
  * recall numbers were bench-only through r9), and the training-set
  * composition ships end-to-end. Same contract as every row: rounded
  * floats, total-order sort keys, bitwise DuckDB oracles. */
object Round10Queries {

  /** The q_pq_adc fixture codebook: `ProductQuantization.train` output
    * over the sf0.01 embeddings (dim 64, m = 4, ksub = 8 — small enough
    * that the SQL twin stays readable), frozen to 6-decimal literals.
    * Freezing is what makes the row tri-scale oracle-expressible: both
    * engines parse the SAME decimal strings to the SAME doubles, so
    * encode's per-subspace argmin and every ADC sum are bit-identical
    * cross-engine regardless of which sf dir the row runs against (a
    * live re-train would bake engine-side float summation order into
    * the codebook and the oracle could not reproduce it). Training
    * itself stays pinned by ProductQuantizationSpec's determinism
    * cases; this row pins encode + ADC per VECTOR, not a top-k slice. */
  private val pqBooks: Array[Array[Array[Double]]] = Array(
    Array(
      Array(0.032731, 0.020331, 0.018672, -0.104637, 0.067687, 0.003588, -0.019214, -0.030954, 0.107691, -0.024289, -0.009554, -0.023913, -0.032819, -0.004041, -0.018863, 0.007343),
      Array(-0.059579, 0.008481, 0.042492, 0.009491, 0.033809, 0.03184, -0.11344, 0.013058, -0.004647, 0.018914, -0.038005, 0.00444, 0.053611, -0.094094, 0.08464, 0.01189),
      Array(-0.015591, -0.030614, -0.090524, 0.029291, -0.027344, 2.6E-4, 0.004614, -0.011988, -0.025396, -0.137812, -0.006119, -0.03801, -0.036495, 0.049397, -0.011996, 0.058605),
      Array(-0.017893, 0.033771, 0.037413, -0.003871, 0.034957, 0.010068, 0.041599, -0.018927, -0.047465, 0.044048, -0.032903, 0.110237, 0.035192, 0.149064, 0.014486, 0.021437),
      Array(-0.014483, -0.025418, 0.069092, -0.001474, -0.008272, -0.170373, 0.088588, 0.058571, -0.021414, 0.103484, 0.054743, -0.01217, 0.030706, -0.032241, 0.06915, 0.02876),
      Array(0.032151, -0.081863, 0.052313, 0.019363, 0.037386, 0.025603, -0.013311, 0.069015, -0.032002, 0.012452, 0.101084, -0.022984, 0.031042, -0.0357, -0.125841, 0.008771),
      Array(-0.049273, -0.023747, -0.060866, -0.014508, -0.097187, 0.066125, -0.06366, 0.002176, 0.061568, 0.125748, 0.064605, 0.032845, -0.040756, 0.083091, -0.032837, -0.007852),
      Array(0.116457, 0.037219, -0.035086, 0.055303, -0.034455, 0.05117, -0.00788, 0.03369, -0.086046, -0.021108, -0.00566, 0.005664, -0.07183, -0.046903, -0.008487, -0.10531)),
    Array(
      Array(0.011532, -0.010213, 0.026105, 0.02957, -0.075699, -0.09244, 0.013461, -0.029634, -0.005214, 0.080445, 0.04981, 0.028053, 0.012155, 0.135774, 0.009836, 0.121717),
      Array(7.12E-4, 0.063366, 0.034427, -0.077928, -0.010563, 0.067102, 0.055902, -0.150582, 0.052652, 0.059565, -0.058216, -0.023536, -0.059603, 0.039113, -0.093132, 0.062342),
      Array(-0.111851, 0.012046, -0.061976, -0.053471, 0.035941, 0.079778, 0.07023, -0.028284, -0.046186, -0.046062, 0.03197, -0.050354, 0.028721, 0.06676, -0.045996, -0.100333),
      Array(-0.028115, -0.019316, 0.038887, 0.055504, -0.006054, 0.003031, -0.01633, -7.89E-4, -0.036021, 0.060976, 0.002406, -0.057123, -0.098274, -0.069603, -0.024858, -0.016624),
      Array(0.035417, 0.037674, 0.048892, -0.033309, -0.044923, 0.064546, -5.97E-4, 0.08905, 0.00166, -0.054011, 0.066225, -0.012447, 0.074151, -0.076075, 7.68E-4, 0.065335),
      Array(0.032463, -0.097208, -0.056228, 0.022123, 0.026278, -0.006243, -0.045543, 0.058712, 0.107973, 0.058961, -0.005352, 0.005181, 0.06362, 0.065813, 0.024126, -0.059548),
      Array(0.002268, 0.061207, -0.003197, 0.009695, 0.046606, -0.063413, -0.043747, -0.05593, -0.068139, -0.044104, -0.032329, 0.079505, 0.02845, -0.029828, -0.001873, -0.043882),
      Array(0.046597, 0.00969, -0.041196, 0.006129, -0.030554, 0.009538, 0.073276, 0.002976, -0.005221, 0.003929, -0.049799, 0.082205, -0.0618, -0.032873, 0.14216, -0.036528)),
    Array(
      Array(-0.06746, -0.093119, 0.069563, -0.028099, -0.014197, -0.005701, -0.010081, 3.76E-4, 0.03063, 0.038994, -0.031065, -0.047239, -0.003978, 0.01049, 0.029358, -0.110404),
      Array(0.02303, 0.023921, 0.028769, 0.024414, -0.044552, -0.046126, 0.080264, -0.136245, -0.008954, -0.067882, 0.078585, -0.048717, 0.0275, -0.049966, -0.027665, -0.026241),
      Array(0.024718, 0.01478, -1.43E-4, 0.03946, 0.004579, 0.072566, 0.00379, 0.040282, 0.022508, 0.015559, 0.133473, 0.048015, -0.065878, 0.011812, -0.026162, -0.071613),
      Array(0.134447, 0.057453, -0.018606, 0.014439, 0.038009, -0.021694, -0.022206, -0.030433, 0.004685, -0.092573, -0.081688, 0.048185, -0.008489, 0.023584, -0.001381, -0.036777),
      Array(-0.034746, 0.007854, 0.037194, -0.078251, -0.034728, 0.018653, -0.078281, -0.044713, 0.009831, 0.004277, -0.064902, -0.019667, 0.026427, 0.042836, -0.080908, 0.102952),
      Array(0.023167, -0.007375, -0.05933, 0.08573, 0.03122, 0.056187, -0.010047, 0.048357, -0.064591, 0.084986, -0.083891, 0.012222, -0.038814, -0.06906, 0.063919, 0.031243),
      Array(-0.066934, -0.063826, -0.028439, 0.085859, 0.126985, 0.017789, 0.021115, 0.023901, 0.048414, -0.086587, 0.027251, -0.114361, 0.060946, 0.024579, 0.045517, 0.102755),
      Array(-0.002719, -0.021708, -0.002464, -0.056877, -0.060513, -0.085111, 0.035649, 0.066025, -0.022205, -0.042203, 0.047087, 0.033354, -0.036923, 0.028959, 0.021001, 0.070848)),
    Array(
      Array(0.01485, 0.021617, 0.019244, -0.001515, 0.011271, -0.061751, 0.038213, -0.077433, -0.00543, -0.004994, -0.024343, -0.077745, -0.08995, -0.030793, 0.021236, -0.125707),
      Array(-0.09544, -0.06115, 0.015062, -7.92E-4, 0.010365, 0.026562, -0.002114, 0.032701, 0.040433, -0.01942, 0.059635, 0.059343, -0.017985, 0.024843, -0.080567, -0.072133),
      Array(0.101607, 0.069233, 0.085974, -0.067829, 0.04702, -0.045523, 0.039079, 0.048952, 0.066287, 0.015668, 0.021843, 0.098336, 0.067789, -9.72E-4, 0.031184, 0.025792),
      Array(0.09061, -0.098358, -0.036599, -0.119033, -0.022114, 0.014434, -0.06311, -0.009265, -0.029472, -0.045573, 0.034667, -0.093662, 0.03315, 0.022692, -0.009132, -0.045058),
      Array(-0.050136, 0.023827, -0.007918, 0.022032, 0.026396, 0.031486, 0.077202, -0.050989, 0.041278, -0.064425, -0.012853, -0.059497, 0.002629, 0.036685, 0.0401, 0.08127),
      Array(-0.004837, 0.019023, 0.071541, -0.005679, -0.019622, 0.042448, -0.098532, -0.114968, -0.046451, 0.018759, 0.02615, 0.068792, -0.044234, 0.027533, -0.065734, 0.015155),
      Array(0.026662, -0.035786, -0.090298, 0.059183, 0.007294, -0.002218, 0.011748, 0.070652, -0.054708, 0.033117, -0.032477, 0.006345, -0.004914, 0.022205, 0.06255, 0.013428),
      Array(-0.059239, -0.01131, 0.083762, 0.048885, -0.009876, -0.057347, -0.02247, 0.073281, 0.026463, 0.077963, -0.109301, -0.043258, 0.091733, -0.08873, -0.042394, -0.011046)))

  /** The fixture query vector (sf0.01 vec_id 0's embedding, 6-decimal
    * frozen — same cross-engine-identical-literals rationale). */
  private val pqQueryVec: Array[Double] = Array(
    0.05425, 0.105594, -0.037544, -0.252478, 0.19969, -0.097039, -0.078031, -0.014797, 0.163755, 0.027956, 0.040269, -0.028215, -0.192553, -0.069572, -0.026978, -0.032001,
    -0.022106, 0.084172, 0.006909, 0.119693, -0.245103, -0.167462, 0.15094, -0.049542, -0.076805, 0.294556, 0.076402, -0.075097, 0.031133, 0.224788, 0.111507, 0.269965,
    -0.169972, -0.256706, 0.007775, -0.03472, -0.008654, 0.022719, 0.012217, 0.043055, 0.085207, -0.013976, -0.144771, -0.036479, 0.02464, 0.108901, 0.062057, -0.137374,
    0.143419, -0.12813, 0.02091, 0.241185, 0.078125, -0.125382, 0.054494, 0.006351, 0.046549, 0.038426, -0.175942, -0.12576, -0.054357, 0.011889, 0.105388, -0.258038)

  private lazy val pqCb = ProductQuantization.Codebooks(64, 4, pqBooks)

  private def sqlList(xs: Seq[Double]): String = xs.mkString("[", ", ", "]")

  private lazy val pqCbValues: String = (for {
    j <- 0 until 4
    c <- pqBooks(j).indices
  } yield s"($j, $c, ${sqlList(pqBooks(j)(c).toSeq)})").mkString(",\n             ")

  /** [[ProductQuantization.encode]] ∘ [[ProductQuantization.adcScores]]
    * against the frozen codebook/query: every vector's m-byte code and
    * its ADC distance. Pins the per-subspace argmin (ties → lowest
    * code, the NearestCell strict-< rule, twinned by the oracle's
    * ORDER BY d2, c) and the two-level left-to-right ADC summation
    * (subspace fold inside, j-fold outside — the oracle's
    * list_sum(list(... ORDER BY j)) reproduces the order, so the
    * doubles agree bitwise before the 4-decimal rounding). */
  private val pqAdc = Q("q_pq_adc",
    (s, dir) => {
      val codes = ProductQuantization.encode(table(s, dir, "embeddings"), pqCb)
      ProductQuantization.adcScores(codes, pqCb, pqQueryVec)
        .select(col("vec_id"),
          element_at(col("code"), 1).as("c0"),
          element_at(col("code"), 2).as("c1"),
          element_at(col("code"), 3).as("c2"),
          element_at(col("code"), 4).as("c3"),
          round(col("adist"), 4).as("adist"))
    },
    Some(s"""WITH cb(j, c, w) AS (VALUES
             $pqCbValues),
             q(qv) AS (VALUES (${sqlList(pqQueryVec.toSeq)})),
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings
                   WHERE embedding IS NOT NULL AND len(embedding) = 64
                     AND len(list_filter(embedding, x -> x IS NULL)) = 0),
             sub AS (SELECT vec_id, j, c,
                            list_sum(list_transform(range(1, 17),
                              i -> (e[CAST(j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])
                                   * (e[CAST(j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])))
                              AS d2
                     FROM e CROSS JOIN cb),
             best AS (SELECT vec_id, j, c, d2,
                             row_number() OVER (PARTITION BY vec_id, j
                                                ORDER BY d2, c) AS rn
                      FROM sub),
             code AS (SELECT vec_id, j, c FROM best WHERE rn = 1),
             qd AS (SELECT cb.j, cb.c,
                           list_sum(list_transform(range(1, 17),
                             i -> (qv[CAST(cb.j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])
                                  * (qv[CAST(cb.j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])))
                             AS qd2
                    FROM cb, q),
             ad AS (SELECT code.vec_id,
                           list_sum(list(qd.qd2 ORDER BY code.j)) AS adist
                    FROM code JOIN qd ON qd.j = code.j AND qd.c = code.c
                    GROUP BY code.vec_id),
             cw AS (SELECT vec_id,
                           max(CASE WHEN j = 0 THEN c END) AS c0,
                           max(CASE WHEN j = 1 THEN c END) AS c1,
                           max(CASE WHEN j = 2 THEN c END) AS c2,
                           max(CASE WHEN j = 3 THEN c END) AS c3
                    FROM code GROUP BY vec_id)
             SELECT cw.vec_id, c0, c1, c2, c3,
                    round(adist, 4) + 0.0 AS adist
             FROM cw JOIN ad USING (vec_id)"""))

  /** [[graft.extensions.TrainingSet.compose]] — the ship-it artifact:
    * leakage-safe train/eval assignment ∘ exact-substring scrub ∘
    * fixed-budget packing, as one row. The oracle rebuilds the chain
    * from the INDEPENDENT halves (q_split_assign's recursive-CC fold +
    * mixture CTEs for the assignment; q_substr_clean's span CTEs for
    * the scrubbed token count n_tok − n_removed; q_pack_chunks' shard
    * cumsum for the geometry) — the Spark side packs the actual
    * exactSubstrApply TEXT, so any drift between the applied scrub and
    * its budget arithmetic breaks the hash. */
  private val trainingSet = Q("q_training_set",
    (s, dir) => graft.extensions.TrainingSet.compose(table(s, dir, "documents")),
    Some(s"""WITH RECURSIVE ${ExtensionQueries.duckCcReach},
             comps AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
             folds AS (SELECT doc_id,
                              CAST(CAST(concat('0x', substr(md5(CAST(comp AS VARCHAR)), 1, 4))
                                        AS BIGINT) % 10 AS BIGINT) AS fold
                       FROM comps),
             per AS (SELECT source, sum(n_chars) AS n_chars
                     FROM documents GROUP BY 1),
             t AS (SELECT source,
                          CAST(n_chars AS BIGINT) AS n_chars,
                          sqrt(CAST(n_chars AS DOUBLE)) AS t
                   FROM per),
             tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS chars_tot,
                            list_sum(list(t ORDER BY source)) AS t_tot
                     FROM t),
             r AS (SELECT source,
                          least(1.0, round(round(t / t_tot, 4)
                                           / round(n_chars * 1.0 / chars_tot, 4), 4))
                            AS rate
                   FROM t, tot),
             adm AS (SELECT d.doc_id FROM documents d JOIN r USING (source)
                     WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                                AS BIGINT) % 100 < floor(rate * 100 + 0.5)),
             asg AS (SELECT f.doc_id,
                            CASE WHEN f.fold >= 8 THEN 'eval'
                                 WHEN adm.doc_id IS NOT NULL THEN 'train'
                                 ELSE 'dropped' END AS assignment
                     FROM folds f LEFT JOIN adm USING (doc_id)),
             ${Round9Queries.duckSubstrSpans(" WHERE ww.doc_id <> own.owner")},
             srm AS (SELECT doc_id,
                            CAST(sum(span_end - span_start) AS BIGINT) AS n_removed
                     FROM sp GROUP BY doc_id),
             ship AS (SELECT ag.doc_id,
                             asg.assignment || ':' || d.lang AS shard,
                             asg.assignment,
                             CAST(len(ag.arr) - coalesce(srm.n_removed, 0) AS BIGINT)
                               AS n_tok
                      FROM ag
                        JOIN asg USING (doc_id)
                        JOIN documents d USING (doc_id)
                        LEFT JOIN srm USING (doc_id)
                      WHERE asg.assignment <> 'dropped'
                        AND len(ag.arr) - coalesce(srm.n_removed, 0) > 0),
             cum AS (SELECT doc_id, shard, assignment, n_tok,
                            sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS end_tok
                     FROM ship)
             SELECT doc_id, shard, assignment, n_tok,
                    CAST(end_tok AS BIGINT) AS end_tok,
                    CAST(end_tok - n_tok AS BIGINT) AS start_tok,
                    CAST(floor((end_tok - n_tok) / 64) AS BIGINT) AS chunk_first,
                    CAST(floor((end_tok - 1) / 64) AS BIGINT) AS chunk_last
             FROM cum ORDER BY shard, doc_id"""))

  /** [[graft.extensions.TextAnalysis.exactSubstrApply]] — the scrubbed
    * TEXT itself (q_substr_clean pins the budget; this pins the
    * artifact): tokens inside merged non-owned duplicated spans cut,
    * survivors single-space-rejoined. The oracle reconstructs
    * clean_text with an indexed token filter (nested-lambda span test)
    * over the shared substr CTE chain. */
  private val substrApply = Q("q_substr_apply",
    (s, dir) => graft.extensions.TextAnalysis
      .exactSubstrApply(table(s, dir, "documents")),
    Some(s"""WITH ${Round9Queries.duckSubstrSpans(" WHERE ww.doc_id <> own.owner")},
             sps AS (SELECT doc_id,
                            list(struct_pack(s := span_start, e := span_end)) AS spans
                     FROM sp GROUP BY doc_id),
             ct AS (SELECT ag.doc_id,
                           -- coalesce: DuckDB's array_to_string([]) is NULL
                           -- where Spark's concat_ws is '' (fully-scrubbed docs)
                           coalesce(array_to_string(
                             list_filter(
                               list_transform(range(0, CAST(len(ag.arr) AS INTEGER)),
                                 i -> CASE WHEN len(list_filter(coalesce(sps.spans, []),
                                                  sp -> i >= sp.s AND i < sp.e)) = 0
                                           THEN ag.arr[i + 1] ELSE NULL END),
                               x -> x IS NOT NULL), ' '), '') AS clean_text
                    FROM ag LEFT JOIN sps USING (doc_id))
             SELECT doc_id, clean_text FROM ct ORDER BY doc_id"""))

  /** [[ProductQuantization.ivfPqSearch]] — the full production-ANN
    * composition oracled end-to-end: coarse cells prune WHICH vectors
    * the query scans (testdata labels as cells, their centroids the
    * 3-decimal-rounded element-wise means both engines compute
    * identically — the q_centroids contract), the frozen PQ codebook
    * shrinks WHAT the scan touches (the q_pq_adc fixture), and the
    * shortlist-200 exact re-rank restores exactness within the probed
    * cells. nprobe=2 matches the bench's ivfpq_recall10_np2 regime —
    * on this corpus' overlapping clusters the query's own cell is the
    * THIRD-nearest centroid, so the row also pins the honest miss
    * behavior (probe recall < 1), not just the happy path. */
  private val ivfPq = Q("q_ivfpq",
    (s, dir) => {
      import graft.extensions.Similarity
      val emb = table(s, dir, "embeddings")
      val codes = ProductQuantization.encode(emb, pqCb)
      val assigned = emb.select(col("vec_id"), col("label").cast("int").as("cell_id"))
      val coarse = Similarity.centroids(emb)
        .groupBy(col("label").cast("int").as("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
      ProductQuantization.ivfPqSearch(codes, assigned, emb, coarse, pqCb,
          pqQueryVec, kTop = 10, nprobe = 2, shortlist = 200)
        .select(col("vec_id"), (round(col("d2"), 4) + 0.0).as("d2"))
    },
    Some(s"""WITH cb(j, c, w) AS (VALUES
             $pqCbValues),
             q(qv) AS (VALUES (${sqlList(pqQueryVec.toSeq)})),
             cents AS (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 3) + 0.0 AS cv
                       FROM (SELECT label, unnest(embedding) AS v,
                                    generate_subscripts(embedding, 1) AS pos
                             FROM embeddings)
                       GROUP BY 1, 2),
             carr AS (SELECT label, list(cv ORDER BY pos) AS cent
                      FROM cents GROUP BY label),
             probe AS (SELECT label FROM carr, q
                       WHERE len(cent) = len(qv)
                       ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                                  i -> (qv[CAST(i AS INTEGER)] - cent[CAST(i AS INTEGER)])
                                       * (qv[CAST(i AS INTEGER)] - cent[CAST(i AS INTEGER)]))),
                                label
                       LIMIT 2),
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings
                   WHERE embedding IS NOT NULL AND len(embedding) = 64
                     AND len(list_filter(embedding, x -> x IS NULL)) = 0
                     AND label IN (SELECT label FROM probe)),
             sub AS (SELECT vec_id, j, c,
                            list_sum(list_transform(range(1, 17),
                              i -> (e[CAST(j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])
                                   * (e[CAST(j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])))
                              AS d2
                     FROM e CROSS JOIN cb),
             best AS (SELECT vec_id, j, c, d2,
                             row_number() OVER (PARTITION BY vec_id, j
                                                ORDER BY d2, c) AS rn
                      FROM sub),
             code AS (SELECT vec_id, j, c FROM best WHERE rn = 1),
             qd AS (SELECT cb.j, cb.c,
                           list_sum(list_transform(range(1, 17),
                             i -> (qv[CAST(cb.j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])
                                  * (qv[CAST(cb.j * 16 + i AS INTEGER)] - w[CAST(i AS INTEGER)])))
                             AS qd2
                    FROM cb, q),
             ad AS (SELECT code.vec_id,
                           list_sum(list(qd.qd2 ORDER BY code.j)) AS adist
                    FROM code JOIN qd ON qd.j = code.j AND qd.c = code.c
                    GROUP BY code.vec_id),
             short AS (SELECT vec_id FROM ad ORDER BY adist, vec_id LIMIT 200),
             rr AS (SELECT e.vec_id,
                           list_sum(list_transform(range(1, len(qv) + 1),
                             i -> (e.e[CAST(i AS INTEGER)] - qv[CAST(i AS INTEGER)])
                                  * (e.e[CAST(i AS INTEGER)] - qv[CAST(i AS INTEGER)])))
                             AS d2
                    FROM e JOIN short USING (vec_id), q)
             SELECT vec_id, round(d2, 4) + 0.0 AS d2
             FROM rr ORDER BY d2, vec_id LIMIT 10"""))

  /** [[graft.extensions.Packing.shardAssign]] — token-balanced
    * serpentine placement over the distributed global row number. The
    * oracle's plain `row_number() OVER (ORDER BY ...)` and the Spark
    * side's range-partition + offset enumeration must agree EXACTLY or
    * every downstream shard flips — this row is the total-order
    * correctness pin for [[graft.extensions.Packing.globalRowNumber]]
    * itself (ties broken by doc_id; 8 shards; serpentine = reverse lane
    * order on odd passes). */
  private val shardAssignQ = Q("q_shard_assign",
    (s, dir) => graft.extensions.Packing
      .shardAssign(table(s, dir, "documents"), 8),
    Some("""WITH t AS (SELECT doc_id,
                   CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
                 FROM documents),
            r AS (SELECT doc_id, n_tok,
                    row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS rn
                  FROM t)
            SELECT doc_id, n_tok,
                   CAST(CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
                             ELSE 7 - rn % 8 END AS INTEGER) AS shard
            FROM r ORDER BY doc_id"""))

  /** [[graft.extensions.Packing.shardBalance]] — the per-shard budget
    * line: doc count, token total, and tok_sum·S/Σ scaled ×10⁴ as
    * int64 (10000 = perfect). Both sides are int64 end-to-end: the
    * oracle CASTs its `sum`/`//` outputs back to BIGINT because DuckDB
    * widens integer aggregates to HUGEINT, which the driver's pandas
    * canonicalizer renders as float64 ("3404.0" vs "3404" — the r10/r11
    * hash mismatch, root-caused in VERDICT r11). Pins that
    * serpentine dealing actually balances (every factor lands near
    * 10000) and that the broadcast grand-total path and the oracle's
    * window agree in exact integer space. */
  private val shardBalanceQ = Q("q_shard_balance",
    (s, dir) => {
      val assigned = graft.extensions.Packing
        .shardAssign(table(s, dir, "documents"), 8)
      graft.extensions.Packing.shardBalance(assigned, 8)
    },
    Some("""WITH t AS (SELECT doc_id,
                   CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
                 FROM documents),
            r AS (SELECT doc_id, n_tok,
                    row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS rn
                  FROM t),
            a AS (SELECT doc_id, n_tok,
                    CAST(CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
                              ELSE 7 - rn % 8 END AS INTEGER) AS shard
                  FROM r),
            b AS (SELECT shard, count(*) AS n_docs,
                    CAST(sum(n_tok) AS BIGINT) AS tok_sum
                  FROM a GROUP BY shard)
            SELECT shard, n_docs, tok_sum,
                   CAST((tok_sum * 160000 + sum(tok_sum) OVER ())
                     // (2 * sum(tok_sum) OVER ()) AS BIGINT) AS balance_x10k
            FROM b ORDER BY shard"""))

  /** [[graft.plans.Layout.zValue]] — the Morton key behind
    * writeZOrdered, oracle-verified per row: both engines normalize the
    * two keys to 16-bit ranks with the SAME left-to-right double
    * arithmetic ((c−lo)/span·65535, floored, capped) and run the same
    * spread-bits ladder, so the interleaved longs match bitwise. Pins
    * the layout lever's math itself, not just its skipping outcome
    * (ZOrderSpec pins that). */
  private val zValueQ = Q("q_zvalue",
    (s, dir) => graft.plans.Layout
      .zValue(table(s, dir, "orders"), "o_custkey", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("_z").as("zval")),
    Some("""WITH b AS (SELECT CAST(min(o_custkey) AS DOUBLE) AS loA,
                              CAST(max(o_custkey) AS DOUBLE) AS hiA,
                              CAST(min(o_totalprice) AS DOUBLE) AS loB,
                              CAST(max(o_totalprice) AS DOUBLE) AS hiB
                       FROM orders),
            n AS (SELECT o_orderkey, o_custkey, o_totalprice,
                    CAST(least(65535, floor((CAST(o_custkey AS DOUBLE) - loA)
                      / (CASE WHEN hiA > loA THEN hiA - loA ELSE 1 END)
                      * 65535)) AS BIGINT) AS ra,
                    CAST(least(65535, floor((CAST(o_totalprice AS DOUBLE) - loB)
                      / (CASE WHEN hiB > loB THEN hiB - loB ELSE 1 END)
                      * 65535)) AS BIGINT) AS rb
                  FROM orders, b),
            s8 AS (SELECT o_orderkey, o_custkey, o_totalprice,
                     ((ra | (ra << 8)) & 16711935) AS xa,
                     ((rb | (rb << 8)) & 16711935) AS xb FROM n),
            s4 AS (SELECT o_orderkey, o_custkey, o_totalprice,
                     ((xa | (xa << 4)) & 252645135) AS xa,
                     ((xb | (xb << 4)) & 252645135) AS xb FROM s8),
            s2 AS (SELECT o_orderkey, o_custkey, o_totalprice,
                     ((xa | (xa << 2)) & 858993459) AS xa,
                     ((xb | (xb << 2)) & 858993459) AS xb FROM s4),
            s1 AS (SELECT o_orderkey, o_custkey, o_totalprice,
                     ((xa | (xa << 1)) & 1431655765) AS xa,
                     ((xb | (xb << 1)) & 1431655765) AS xb FROM s2)
            SELECT o_orderkey, o_custkey, o_totalprice,
                   (xa | (xb << 1)) AS zval
            FROM s1 ORDER BY o_orderkey"""))

  /** [[graft.extensions.TrainingSet.composeBalanced]] — the ship-it
    * artifact with TOKEN-BALANCED shards: the q_training_set chain with
    * the lang passthrough replaced by per-assignment-class serpentine
    * dealing over SCRUBBED token counts (rank by clean n_tok desc,
    * doc_id; reverse lanes on odd passes; shard = assignment:lane).
    * The oracle derives the clean counts through the independent
    * n_tok − n_removed route AND re-ranks them with a plain
    * row_number twin, so drift in scrub, enumeration, or dealing all
    * surface as hash mismatches. */
  /** [[graft.extensions.TrainingSet.composeText]] — the artifact WITH
    * its payload: q_training_set's manifest joined back to
    * q_substr_apply's scrubbed text as one frame (what a shard writer
    * serializes). Both halves are oracled alone; this row pins the
    * JOIN-BACK — every manifest row carries exactly its own doc's
    * clean text, none dropped, none duplicated, and the text belongs
    * to the same scrub whose budget priced the packing. */
  private val trainingSetText = Q("q_training_set_text",
    (s, dir) => graft.extensions.TrainingSet
      .composeText(table(s, dir, "documents")),
    Some(s"""WITH RECURSIVE ${ExtensionQueries.duckCcReach},
             comps AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
             folds AS (SELECT doc_id,
                              CAST(CAST(concat('0x', substr(md5(CAST(comp AS VARCHAR)), 1, 4))
                                        AS BIGINT) % 10 AS BIGINT) AS fold
                       FROM comps),
             per AS (SELECT source, sum(n_chars) AS n_chars
                     FROM documents GROUP BY 1),
             t AS (SELECT source,
                          CAST(n_chars AS BIGINT) AS n_chars,
                          sqrt(CAST(n_chars AS DOUBLE)) AS t
                   FROM per),
             tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS chars_tot,
                            list_sum(list(t ORDER BY source)) AS t_tot
                     FROM t),
             r AS (SELECT source,
                          least(1.0, round(round(t / t_tot, 4)
                                           / round(n_chars * 1.0 / chars_tot, 4), 4))
                            AS rate
                   FROM t, tot),
             adm AS (SELECT d.doc_id FROM documents d JOIN r USING (source)
                     WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                                AS BIGINT) % 100 < floor(rate * 100 + 0.5)),
             asg AS (SELECT f.doc_id,
                            CASE WHEN f.fold >= 8 THEN 'eval'
                                 WHEN adm.doc_id IS NOT NULL THEN 'train'
                                 ELSE 'dropped' END AS assignment
                     FROM folds f LEFT JOIN adm USING (doc_id)),
             ${Round9Queries.duckSubstrSpans(" WHERE ww.doc_id <> own.owner")},
             srm AS (SELECT doc_id,
                            CAST(sum(span_end - span_start) AS BIGINT) AS n_removed
                     FROM sp GROUP BY doc_id),
             sps AS (SELECT doc_id,
                            list(struct_pack(s := span_start, e := span_end)) AS spans
                     FROM sp GROUP BY doc_id),
             ct AS (SELECT ag.doc_id,
                           coalesce(array_to_string(
                             list_filter(
                               list_transform(range(0, CAST(len(ag.arr) AS INTEGER)),
                                 i -> CASE WHEN len(list_filter(coalesce(sps.spans, []),
                                                  sp -> i >= sp.s AND i < sp.e)) = 0
                                           THEN ag.arr[i + 1] ELSE NULL END),
                               x -> x IS NOT NULL), ' '), '') AS text
                    FROM ag LEFT JOIN sps USING (doc_id)),
             ship AS (SELECT ag.doc_id,
                             asg.assignment || ':' || d.lang AS shard,
                             asg.assignment,
                             CAST(len(ag.arr) - coalesce(srm.n_removed, 0) AS BIGINT)
                               AS n_tok
                      FROM ag
                        JOIN asg USING (doc_id)
                        JOIN documents d USING (doc_id)
                        LEFT JOIN srm USING (doc_id)
                      WHERE asg.assignment <> 'dropped'
                        AND len(ag.arr) - coalesce(srm.n_removed, 0) > 0),
             cum AS (SELECT doc_id, shard, assignment, n_tok,
                            sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS end_tok
                     FROM ship)
             SELECT cum.doc_id, shard, assignment, n_tok,
                    CAST(end_tok AS BIGINT) AS end_tok,
                    CAST(end_tok - n_tok AS BIGINT) AS start_tok,
                    CAST(floor((end_tok - n_tok) / 64) AS BIGINT) AS chunk_first,
                    CAST(floor((end_tok - 1) / 64) AS BIGINT) AS chunk_last,
                    ct.text
             FROM cum JOIN ct USING (doc_id) ORDER BY shard, doc_id"""))

  private val trainingSetBalanced = Q("q_training_set_balanced",
    (s, dir) => graft.extensions.TrainingSet
      .composeBalanced(table(s, dir, "documents")),
    Some(s"""WITH RECURSIVE ${ExtensionQueries.duckCcReach},
             comps AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
             folds AS (SELECT doc_id,
                              CAST(CAST(concat('0x', substr(md5(CAST(comp AS VARCHAR)), 1, 4))
                                        AS BIGINT) % 10 AS BIGINT) AS fold
                       FROM comps),
             per AS (SELECT source, sum(n_chars) AS n_chars
                     FROM documents GROUP BY 1),
             t AS (SELECT source,
                          CAST(n_chars AS BIGINT) AS n_chars,
                          sqrt(CAST(n_chars AS DOUBLE)) AS t
                   FROM per),
             tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS chars_tot,
                            list_sum(list(t ORDER BY source)) AS t_tot
                     FROM t),
             r AS (SELECT source,
                          least(1.0, round(round(t / t_tot, 4)
                                           / round(n_chars * 1.0 / chars_tot, 4), 4))
                            AS rate
                   FROM t, tot),
             adm AS (SELECT d.doc_id FROM documents d JOIN r USING (source)
                     WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                                AS BIGINT) % 100 < floor(rate * 100 + 0.5)),
             asg AS (SELECT f.doc_id,
                            CASE WHEN f.fold >= 8 THEN 'eval'
                                 WHEN adm.doc_id IS NOT NULL THEN 'train'
                                 ELSE 'dropped' END AS assignment
                     FROM folds f LEFT JOIN adm USING (doc_id)),
             ${Round9Queries.duckSubstrSpans(" WHERE ww.doc_id <> own.owner")},
             srm AS (SELECT doc_id,
                            CAST(sum(span_end - span_start) AS BIGINT) AS n_removed
                     FROM sp GROUP BY doc_id),
             ship AS (SELECT ag.doc_id,
                             asg.assignment,
                             CAST(len(ag.arr) - coalesce(srm.n_removed, 0) AS BIGINT)
                               AS n_tok
                      FROM ag
                        JOIN asg USING (doc_id)
                        LEFT JOIN srm USING (doc_id)
                      WHERE asg.assignment <> 'dropped'
                        AND len(ag.arr) - coalesce(srm.n_removed, 0) > 0),
             rkn AS (SELECT doc_id, assignment, n_tok,
                            row_number() OVER (PARTITION BY assignment
                                               ORDER BY n_tok DESC, doc_id) - 1 AS rn
                     FROM ship),
             shd AS (SELECT doc_id, assignment, n_tok,
                            assignment || ':' ||
                              CAST(CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
                                        ELSE 7 - rn % 8 END AS VARCHAR) AS shard
                     FROM rkn),
             cum AS (SELECT doc_id, shard, assignment, n_tok,
                            sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS end_tok
                     FROM shd)
             SELECT doc_id, shard, assignment, n_tok,
                    CAST(end_tok AS BIGINT) AS end_tok,
                    CAST(end_tok - n_tok AS BIGINT) AS start_tok,
                    CAST(floor((end_tok - n_tok) / 64) AS BIGINT) AS chunk_first,
                    CAST(floor((end_tok - 1) / 64) AS BIGINT) AS chunk_last
             FROM cum ORDER BY shard, doc_id"""))

  /** [[graft.extensions.Sketches.cmsTopK]] — Count-Min frequency
    * estimation, exactly oracled: counter sums and min-over-depth are
    * order-independent, so the APPROXIMATE estimate is a DETERMINISTIC
    * function of the corpus both engines compute bitwise. Width 16
    * against the 31-token vocabulary forces real collisions (pigeonhole)
    * so the row exercises the interesting regime — estimates that
    * OVERcount with the min across 4 rows clawing precision back; the
    * one-sided guarantee is the overcount column's ≥ 0 (SketchesSpec
    * asserts it corpus-wide; here it rides the hash). */
  private val cmsTopKQ = Q("q_cms_topk",
    (s, dir) => graft.extensions.Sketches
      .cmsTopK(table(s, dir, "documents"), topK = 20, depth = 4, width = 16),
    Some("""WITH toks AS (SELECT unnest(list_filter(
                            string_split(lower(coalesce(text, '')), ' '),
                            t -> t <> '')) AS tok
                          FROM documents),
             c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
             head AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20),
             seeds AS (SELECT unnest(range(4)) AS seed),
             grid AS (SELECT seed,
                             CAST(concat('0x', substr(md5(tok), seed * 8 + 1, 8))
                                  AS BIGINT) % 16 AS bucket,
                             count(*) AS cnt
                      FROM toks CROSS JOIN seeds GROUP BY 1, 2),
             est AS (SELECT h.tok, min(coalesce(g.cnt, 0)) AS cms_est
                     FROM head h CROSS JOIN seeds s
                     LEFT JOIN grid g ON g.seed = s.seed
                       AND g.bucket = CAST(concat('0x', substr(md5(h.tok), s.seed * 8 + 1, 8))
                                           AS BIGINT) % 16
                     GROUP BY 1)
             SELECT h.tok AS token, h.cnt AS exact_cnt, e.cms_est,
                    e.cms_est - h.cnt AS overcount
             FROM head h JOIN est e USING (tok)
             ORDER BY exact_cnt DESC, token"""))

  /** [[graft.extensions.Sketches.kmvDistinct]] — KMV distinct-count
    * estimation beside the exact count (the accuracy-contract
    * discipline of q_minhash_est / q_winnow_est). The k-smallest
    * distinct-hash set is merge-order-independent, so the estimate is
    * deterministic; the oracle's row_number twin and the Spark side's
    * bounded-buffer [[graft.functions.KMinDistinct]] must surface the
    * SAME 64th minimum or the division drifts. 3-gram shingles per
    * source (≥ 1k distinct at every sf) keep the estimator engaged
    * tri-scale. */
  private val kmvDistinctQ = Q("q_kmv_distinct",
    (s, dir) => graft.extensions.Sketches
      .kmvDistinct(table(s, dir, "documents"), k = 64, n = 3),
    Some("""WITH d AS (SELECT source,
                              list_filter(string_split(lower(coalesce(text, '')), ' '),
                                          t -> t <> '') AS arr
                       FROM documents),
             g AS (SELECT source,
                          unnest(list_transform(range(1, CAST(len(arr) AS INTEGER) - 1),
                            i -> array_to_string(list_slice(arr, i, i + 2), ' '))) AS s
                   FROM d),
             h AS (SELECT DISTINCT source,
                          CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS h
                   FROM g),
             r AS (SELECT source, h,
                          row_number() OVER (PARTITION BY source ORDER BY h) AS rk
                   FROM h),
             kth AS (SELECT source, count(*) AS n_h,
                            max(CASE WHEN rk = 64 THEN h END) AS hk
                     FROM r WHERE rk <= 64 GROUP BY 1),
             ex AS (SELECT source, count(DISTINCT s) AS n_exact FROM g GROUP BY 1)
             SELECT ex.source, ex.n_exact,
                    round(CASE WHEN kth.hk IS NULL THEN CAST(kth.n_h AS DOUBLE)
                               ELSE 63 * 281474976710656.0 / kth.hk END, 4) AS kmv_est
             FROM ex JOIN kth USING (source)
             ORDER BY source"""))

  /** [[graft.extensions.Similarity.centroidOutliers]] — the embedding
    * cleaning report: top-20 vectors farthest (squared L2) from their
    * own label's centroid, the mislabeled/garbage quarantine list. The
    * centroid side reuses the q_centroids contract (3-decimal
    * element-wise means both engines compute identically); the
    * distance is the native SquaredL2 strict left-to-right fold, which
    * the oracle's list_sum(list_transform(...)) reproduces (the
    * q_pq_adc discipline); total order (d2 desc, vec_id) pins the
    * boundary. */
  private val embOutlier = Q("q_emb_outlier",
    (s, dir) => graft.extensions.Similarity
      .centroidOutliers(table(s, dir, "embeddings"), topK = 20),
    Some("""WITH cents AS (SELECT label, pos,
                                  round(avg(CAST(v AS DOUBLE)), 3) + 0.0 AS cv
                           FROM (SELECT label, unnest(embedding) AS v,
                                        generate_subscripts(embedding, 1) AS pos
                                 FROM embeddings)
                           GROUP BY 1, 2),
             carr AS (SELECT label, list(cv ORDER BY pos) AS cent
                      FROM cents GROUP BY label),
             e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings
                   WHERE embedding IS NOT NULL AND len(embedding) = 64
                     AND len(list_filter(embedding, x -> x IS NULL)) = 0),
             d AS (SELECT e.vec_id, e.label,
                          round(list_sum(list_transform(range(1, 65),
                            i -> (e.e[CAST(i AS INTEGER)] - cent[CAST(i AS INTEGER)])
                                 * (e.e[CAST(i AS INTEGER)] - cent[CAST(i AS INTEGER)]))), 4)
                            + 0.0 AS d2
                   FROM e JOIN carr ON carr.label = e.label
                     AND len(carr.cent) = 64)
             SELECT vec_id, label, d2 FROM d
             ORDER BY d2 DESC, vec_id LIMIT 20"""))

  /** [[graft.extensions.Sketches.cmsJoinSize]] — join-cardinality
    * estimation from two independently-built CMS grids (the grid inner
    * product, min over depth), beside the exact |orders ⋈ lineitem|
    * both engines count. The estimator is sums-of-products + min —
    * order-independent, hence bitwise — and one-sided (collisions only
    * add cross terms), so `overcount ≥ 0` is structural. This is the
    * number a planner wants BEFORE paying a shuffle: both grids are
    * one bounded pass per side, the estimate a d·w-row join. Expected
    * overcount ≈ rows_A·rows_B/w — measured 1.097e7 at sf0.1 vs the
    * 9e10/8192 ≈ 1.10e7 prediction — so w is sized to the row-count
    * product one needs resolved, the honest accuracy economics the
    * row's overcount column publishes each round. */
  private val cmsJoinSizeQ = Q("q_cms_joinsize",
    (s, dir) => {
      import graft.extensions.Sketches
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      val est = Sketches.cmsJoinSize(
        Sketches.cmsKeyGrid(o, "o_orderkey", 4, 8192),
        Sketches.cmsKeyGrid(l, "l_orderkey", 4, 8192))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact_pairs"))
        .crossJoin(est)
        .select(col("exact_pairs"), col("est_pairs"),
          (col("est_pairs") - col("exact_pairs")).as("overcount"))
    },
    Some("""WITH seeds AS (SELECT unnest(range(4)) AS seed),
             ga AS (SELECT seed,
                           CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), seed * 8 + 1, 8))
                                AS BIGINT) % 8192 AS bucket,
                           count(*) AS ca
                    FROM orders CROSS JOIN seeds GROUP BY 1, 2),
             gb AS (SELECT seed,
                           CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), seed * 8 + 1, 8))
                                AS BIGINT) % 8192 AS bucket,
                           count(*) AS cb
                    FROM lineitem CROSS JOIN seeds GROUP BY 1, 2),
             dots AS (SELECT ga.seed, CAST(sum(ca * cb) AS BIGINT) AS dot
                      FROM ga JOIN gb ON ga.seed = gb.seed
                        AND ga.bucket = gb.bucket
                      GROUP BY 1),
             ex AS (SELECT count(*) AS exact_pairs
                    FROM orders o JOIN lineitem l
                      ON o.o_orderkey = l.l_orderkey)
             SELECT ex.exact_pairs,
                    (SELECT min(dot) FROM dots) AS est_pairs,
                    (SELECT min(dot) FROM dots) - ex.exact_pairs AS overcount
             FROM ex"""))

  /** [[graft.extensions.Sampling.prioritySample]] — Efraimidis–Spirakis
    * weighted-without-replacement sampling: top-5 docs per source by
    * u^(1/n_tok), u the md5-48-bit uniform. Every emitted column is
    * integral; only the ORDER crosses engines through ln (the
    * q_bigram_lm transcendental precedent). */
  private val samplePriority = Q("q_sample_priority",
    (s, dir) => graft.extensions.Sampling
      .prioritySample(table(s, dir, "documents"), k = 5),
    Some("""WITH t AS (SELECT source, doc_id,
                              CAST(len(list_filter(
                                string_split(lower(coalesce(text, '')), ' '),
                                x -> x <> '')) AS BIGINT) AS n_tok
                       FROM documents),
             kyd AS (SELECT source, doc_id, n_tok,
                            ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                                     AS BIGINT) + 1) / 281474976710657.0)
                              / n_tok AS es_key
                     FROM t WHERE n_tok > 0),
             r AS (SELECT source, doc_id, n_tok,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY es_key DESC, doc_id) AS rank
                   FROM kyd)
             SELECT source, doc_id, n_tok, CAST(rank AS BIGINT) AS rank
             FROM r WHERE rank <= 5 ORDER BY source, rank"""))

  /** [[graft.extensions.Sampling.systematicSample]] — systematic
    * token-budget selection: per source, every doc whose token interval
    * contains a stride boundary (step = ⌈total/8⌉). All-integer
    * arithmetic — no float crosses engines at all. */
  private val sampleSystematic = Q("q_sample_systematic",
    (s, dir) => graft.extensions.Sampling
      .systematicSample(table(s, dir, "documents"), k = 8),
    Some("""WITH t AS (SELECT source, doc_id,
                              CAST(len(list_filter(
                                string_split(lower(coalesce(text, '')), ' '),
                                x -> x <> '')) AS BIGINT) AS n_tok
                       FROM documents),
             c AS (SELECT source, doc_id, n_tok,
                          sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING) AS end_tok
                   FROM t),
             c2 AS (SELECT source, doc_id, n_tok, end_tok,
                           end_tok - n_tok AS start_tok
                    FROM c),
             s AS (SELECT source,
                          greatest(1, CAST(floor((max(end_tok) + 7) / 8)
                                           AS BIGINT)) AS step
                   FROM c2 GROUP BY source)
             SELECT c2.source, doc_id, n_tok, CAST(start_tok AS BIGINT) AS start_tok
             FROM c2 JOIN s USING (source)
             WHERE floor(start_tok / step) < floor(end_tok / step)
             ORDER BY source, doc_id"""))

  /** [[graft.extensions.Sketches.skewFactor]] — the composed
    * decide-to-salt signal (CMS F₂ self-inner-product × KMV
    * cardinality ÷ N²) oracled end-to-end on orders.o_custkey, whose
    * near-uniform distribution pins the ≈1 baseline regime (the hot
    * regime is pinned structurally in SketchesSpec and priced against
    * AQE's splits in the skewjoin bench). Width 65536 keeps the F₂
    * noise floor (N²/w) below the uniform F₂ at every sf. */
  private val skewFactorQ = Q("q_skew_factor",
    (s, dir) => graft.extensions.Sketches
      .skewFactor(table(s, dir, "orders"), "o_custkey",
        depth = 4, width = 65536, k = 256),
    Some("""WITH keys AS (SELECT CAST(o_custkey AS VARCHAR) AS tok FROM orders),
             seeds AS (SELECT unnest(range(4)) AS seed),
             grid AS (SELECT seed,
                             CAST(concat('0x', substr(md5(tok), seed * 8 + 1, 8))
                                  AS BIGINT) % 65536 AS bucket,
                             count(*) AS cnt
                      FROM keys CROSS JOIN seeds GROUP BY 1, 2),
             dots AS (SELECT g1.seed, CAST(sum(g1.cnt * g2.cnt) AS BIGINT) AS dot
                      FROM grid g1 JOIN grid g2 ON g1.seed = g2.seed
                        AND g1.bucket = g2.bucket
                      GROUP BY 1),
             f2 AS (SELECT min(dot) AS f2_est FROM dots),
             h AS (SELECT DISTINCT CAST(concat('0x', substr(md5(tok), 1, 12))
                                        AS BIGINT) AS h
                   FROM keys),
             r AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
             kth AS (SELECT count(*) AS n_h,
                            max(CASE WHEN rk = 256 THEN h END) AS hk
                     FROM r WHERE rk <= 256),
             d AS (SELECT CASE WHEN hk IS NULL THEN CAST(n_h AS DOUBLE)
                               ELSE 255 * 281474976710656.0 / hk END AS d_est
                   FROM kth),
             n AS (SELECT count(*) AS n_rows FROM orders)
             SELECT n.n_rows, f2.f2_est, round(d.d_est, 1) AS d_est,
                    round(f2.f2_est * d.d_est
                          / (CAST(n.n_rows AS DOUBLE) * CAST(n.n_rows AS DOUBLE)), 4)
                      AS skew_factor
             FROM n, f2, d"""))

  /** [[graft.extensions.DataCard.build]] — the shipped corpus profile
    * as one (metric, value) frame: sizes, composition, dup rate, token
    * stats, and the KMV cardinality estimate BESIDE its exact twin
    * (the sketch's accuracy line rides in the artifact itself). Every
    * metric is integer-derived with at most one final division, so the
    * whole card is bitwise. */
  private val dataCard = Q("q_data_card",
    (s, dir) => graft.extensions.DataCard
      .build(table(s, dir, "documents")),
    Some("""WITH d AS (SELECT doc_id, source, lang,
                              coalesce(n_chars, 0) AS n_chars,
                              list_filter(string_split(lower(coalesce(text, '')), ' '),
                                          t -> t <> '') AS arr,
                              md5(lower(coalesce(text, ''))) AS tkey
                       FROM documents),
             p AS (SELECT source, lang, n_chars, tkey,
                          CAST(len(arr) AS BIGINT) AS n_tok,
                          CAST(len(list_filter(arr, t -> t IN ('the', 'a')))
                               AS BIGINT) AS n_stop
                   FROM d),
             base AS (SELECT count(*) AS n_docs,
                             count(DISTINCT source) AS n_sources,
                             count(DISTINCT lang) AS n_langs,
                             sum(n_tok) AS total_tokens,
                             sum(n_chars) AS total_chars,
                             sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS empty_docs,
                             count(DISTINCT tkey) AS distinct_texts,
                             sum(n_stop) AS total_stop
                      FROM p),
             tf AS (SELECT unnest(arr) AS tok FROM d),
             ts AS (SELECT tok, count(*) AS cnt FROM tf GROUP BY 1),
             tt AS (SELECT cnt AS top_tok_cnt FROM ts
                    ORDER BY cnt DESC, tok LIMIT 1),
             dt AS (SELECT count(*) AS distinct_tokens FROM ts),
             h AS (SELECT DISTINCT CAST(concat('0x', substr(md5(tok), 1, 12))
                                        AS BIGINT) AS h
                   FROM tf),
             r AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
             kth AS (SELECT count(*) AS n_h,
                            max(CASE WHEN rk = 256 THEN h END) AS hk
                     FROM r WHERE rk <= 256),
             de AS (SELECT CASE WHEN hk IS NULL THEN CAST(n_h AS DOUBLE)
                                ELSE 255 * 281474976710656.0 / hk END AS d_est
                    FROM kth),
             ms AS (SELECT max(sd) AS max_source_docs
                    FROM (SELECT source, count(*) AS sd FROM p GROUP BY 1)),
             w AS (SELECT * FROM base, tt, dt, de, ms)
             SELECT metric, round(value, 4) AS value FROM (
               SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM w
               UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM w
               UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM w
               UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM w
               UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM w
               UNION ALL SELECT 'empty_docs', CAST(empty_docs AS DOUBLE) FROM w
               UNION ALL SELECT 'exact_dup_docs',
                 CAST(n_docs - distinct_texts AS DOUBLE) FROM w
               UNION ALL SELECT 'distinct_tokens',
                 CAST(distinct_tokens AS DOUBLE) FROM w
               UNION ALL SELECT 'distinct_token_est', d_est FROM w
               UNION ALL SELECT 'mean_doc_tokens',
                 CAST(total_tokens AS DOUBLE) / n_docs FROM w
               UNION ALL SELECT 'stop_ratio',
                 CAST(total_stop AS DOUBLE) / total_tokens FROM w
               UNION ALL SELECT 'top_token_share',
                 CAST(top_tok_cnt AS DOUBLE) / total_tokens FROM w
               UNION ALL SELECT 'max_source_share',
                 CAST(max_source_docs AS DOUBLE) / n_docs FROM w)
             ORDER BY metric"""))

  /** [[graft.extensions.DataCard.buildWithFunnel]] — the release card
    * with the quality-funnel drop table folded in: q_data_card's rows
    * plus funnel_<rule>_dropped / funnel_survivors, reconciling by
    * construction (drops sum to n_docs − survivors). The oracle is the
    * card twin UNION the funnel twin with the same metric renaming. */
  private val dataCardFull = Q("q_data_card_full",
    (s, dir) => graft.extensions.DataCard
      .buildWithFunnel(table(s, dir, "documents")),
    Some("""WITH d AS (SELECT doc_id, source, lang,
                              coalesce(n_chars, 0) AS n_chars,
                              list_filter(string_split(lower(coalesce(text, '')), ' '),
                                          t -> t <> '') AS arr,
                              md5(lower(coalesce(text, ''))) AS tkey
                       FROM documents),
             p AS (SELECT source, lang, n_chars, tkey,
                          CAST(len(arr) AS BIGINT) AS n_tok,
                          CAST(len(list_filter(arr, t -> t IN ('the', 'a')))
                               AS BIGINT) AS n_stop
                   FROM d),
             base AS (SELECT count(*) AS n_docs,
                             count(DISTINCT source) AS n_sources,
                             count(DISTINCT lang) AS n_langs,
                             sum(n_tok) AS total_tokens,
                             sum(n_chars) AS total_chars,
                             sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS empty_docs,
                             count(DISTINCT tkey) AS distinct_texts,
                             sum(n_stop) AS total_stop
                      FROM p),
             tf AS (SELECT unnest(arr) AS tok FROM d),
             ts AS (SELECT tok, count(*) AS cnt FROM tf GROUP BY 1),
             tt AS (SELECT cnt AS top_tok_cnt FROM ts
                    ORDER BY cnt DESC, tok LIMIT 1),
             dt AS (SELECT count(*) AS distinct_tokens FROM ts),
             h AS (SELECT DISTINCT CAST(concat('0x', substr(md5(tok), 1, 12))
                                        AS BIGINT) AS h
                   FROM tf),
             r AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
             kth AS (SELECT count(*) AS n_h,
                            max(CASE WHEN rk = 256 THEN h END) AS hk
                     FROM r WHERE rk <= 256),
             de AS (SELECT CASE WHEN hk IS NULL THEN CAST(n_h AS DOUBLE)
                                ELSE 255 * 281474976710656.0 / hk END AS d_est
                    FROM kth),
             ms AS (SELECT max(sd) AS max_source_docs
                    FROM (SELECT source, count(*) AS sd FROM p GROUP BY 1)),
             w AS (SELECT * FROM base, tt, dt, de, ms),
             fm AS (SELECT doc_id, lang,
                      CAST(len(arr) AS BIGINT) AS n_tok,
                      CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
                      CAST(len(list_filter(arr, t -> t IN ('the', 'a')))
                           AS BIGINT) AS n_stop
                    FROM d),
             fa AS (SELECT CASE
                      WHEN NOT coalesce(lang IN ('en', 'de', 'es', 'fr'), FALSE)
                        THEN 0
                      WHEN NOT coalesce(n_tok >= 25, FALSE) THEN 1
                      WHEN NOT coalesce(n_tok <= 90, FALSE) THEN 2
                      WHEN NOT coalesce(n_tok > 0
                        AND n_stop * 1.0 / n_tok <= 0.12, FALSE) THEN 3
                      WHEN NOT coalesce(n_tok > 0
                        AND n_distinct * 1.0 / n_tok >= 0.35, FALSE) THEN 4
                      ELSE 5 END AS stage_idx
                    FROM fm),
             fc AS (SELECT stage_idx, count(*) AS n FROM fa GROUP BY 1),
             fd(stage_idx, rule) AS (VALUES
               (0, 'lang_allowed'), (1, 'min_tokens'), (2, 'max_tokens'),
               (3, 'stop_ratio'), (4, 'distinct_ratio'), (5, 'pass')),
             fj AS (SELECT fd.stage_idx, fd.rule, coalesce(fc.n, 0) AS n
                    FROM fd LEFT JOIN fc USING (stage_idx))
             SELECT metric, round(value, 4) AS value FROM (
               SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM w
               UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM w
               UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM w
               UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM w
               UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM w
               UNION ALL SELECT 'empty_docs', CAST(empty_docs AS DOUBLE) FROM w
               UNION ALL SELECT 'exact_dup_docs',
                 CAST(n_docs - distinct_texts AS DOUBLE) FROM w
               UNION ALL SELECT 'distinct_tokens',
                 CAST(distinct_tokens AS DOUBLE) FROM w
               UNION ALL SELECT 'distinct_token_est', d_est FROM w
               UNION ALL SELECT 'mean_doc_tokens',
                 CAST(total_tokens AS DOUBLE) / n_docs FROM w
               UNION ALL SELECT 'stop_ratio',
                 CAST(total_stop AS DOUBLE) / total_tokens FROM w
               UNION ALL SELECT 'top_token_share',
                 CAST(top_tok_cnt AS DOUBLE) / total_tokens FROM w
               UNION ALL SELECT 'max_source_share',
                 CAST(max_source_docs AS DOUBLE) / n_docs FROM w
               UNION ALL SELECT CASE WHEN rule = 'pass' THEN 'funnel_survivors'
                                     ELSE 'funnel_' || rule || '_dropped' END,
                 CAST(CASE WHEN rule = 'pass'
                           THEN (SELECT sum(n) FROM fj)
                                - (SELECT sum(CASE WHEN rule <> 'pass' THEN n
                                              ELSE 0 END) FROM fj)
                           ELSE n END AS DOUBLE)
               FROM fj)
             ORDER BY metric"""))

  /** Sliding (hopping) window aggregation — §2.9's tumbling row
    * (q_window_tumbling) generalized to overlap: 14-day windows every
    * 7 days, so each event lands in exactly dur/slide = 2 windows.
    * Spark's `window(ts, dur, slide)` aligns starts to the slide grid
    * from the epoch; the oracle reproduces the assignment directly —
    * the 7-day bucket start and its 7-day predecessor (with dur =
    * 2·slide both always contain the event, which is the alignment
    * fact the row pins). */
  private val windowSliding = Q("q_window_sliding",
    (s, dir) => table(s, dir, "events")
      .groupBy(window(col("ts"), "14 days", "7 days").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("wstart"), col("n")),
    Some("""SELECT strftime(time_bucket(INTERVAL 7 DAY, ts, TIMESTAMP '1970-01-01')
                              - k * INTERVAL 7 DAY, '%Y-%m-%d') AS wstart,
                   count(*) AS n
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
            GROUP BY 1 ORDER BY 1"""))

  /** [[graft.extensions.Pii.scrub]] over [[graft.extensions.Pii.synthText]]
    * — typed PII scrubbing, oracle-verified per doc: the corpus is
    * PII-free word salad, so both engines append the SAME
    * doc_id-derived contact line (email + NNN-NNN-NNNN phone + dotted
    * quad + a card that is Luhn-valid on even doc_ids, invalid on odd)
    * and then scrub it. Pins regex parity (the patterns are written in
    * the Java∩RE2 subset — no lookaround, ASCII \b), the Luhn branch
    * both ways (valid replaced, invalid counted-but-kept), the stage
    * order (later classes never match inside an earlier placeholder),
    * and the left-fold valid-card replacement (Spark `aggregate` ≡
    * DuckDB `list_reduce(list_prepend(...))`). */
  private val piiScrub = Q("q_pii_scrub",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("text", graft.extensions.Pii.synthText)
      graft.extensions.Pii.scrub(docs)
    },
    Some("""WITH s AS (SELECT doc_id, source,
                 coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org or 555-010-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' card '
                   || CASE WHEN doc_id % 2 = 0 THEN '4532015112830366'
                           ELSE '4532015112830367' END
                   || ' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 end' AS t0
               FROM documents),
            e AS (SELECT doc_id, source,
                    CAST(len(regexp_extract_all(t0,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                      AS n_email,
                    regexp_replace(t0,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                      '<EMAIL>', 'g') AS t1
                  FROM s),
            c AS (SELECT *, regexp_extract_all(t1, '\b[0-9]{16}\b') AS cand FROM e),
            cv AS (SELECT *, list_filter(cand, x ->
                     list_sum(list_transform(range(1, 17), i ->
                       CASE WHEN i % 2 = 1 THEN CAST(x[17 - i] AS INTEGER)
                            ELSE CASE WHEN CAST(x[17 - i] AS INTEGER) > 4
                                      THEN CAST(x[17 - i] AS INTEGER) * 2 - 9
                                      ELSE CAST(x[17 - i] AS INTEGER) * 2 END
                       END)) % 10 = 0) AS ok
                   FROM c),
            c2 AS (SELECT doc_id, source, n_email,
                     CAST(len(ok) AS BIGINT) AS n_card,
                     CAST(len(cand) - len(ok) AS BIGINT) AS n_card_invalid,
                     list_reduce(list_prepend(t1, ok),
                       (acc, x) -> regexp_replace(acc, '\b' || x || '\b',
                                                  '<CARD>', 'g')) AS t2
                   FROM cv),
            p AS (SELECT doc_id, source, n_email, n_card, n_card_invalid,
                    CAST(len(regexp_extract_all(t2,
                      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
                    regexp_replace(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b',
                      '<PHONE>', 'g') AS t3
                  FROM c2)
            SELECT doc_id, source,
                   regexp_replace(t3, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                     '<IP>', 'g') AS clean,
                   n_email, n_card, n_card_invalid, n_phone,
                   CAST(len(regexp_extract_all(t3,
                     '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4
            FROM p ORDER BY doc_id"""))

  /** [[graft.extensions.Pii.report]] — the per-source privacy-review
    * totals over the same synthesized corpus (every doc carries one of
    * each class, valid cards on even ids only, so the totals are a
    * doc_id-parity census the oracle reproduces independently). */
  private val piiReport = Q("q_pii_report",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("text", graft.extensions.Pii.synthText)
      graft.extensions.Pii.report(docs)
    },
    Some("""SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_docs_hit,
                   CAST(count(*) AS BIGINT) AS n_email,
                   CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_card,
                   CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_card_invalid,
                   CAST(count(*) AS BIGINT) AS n_phone,
                   CAST(count(*) AS BIGINT) AS n_ipv4
            FROM documents GROUP BY source ORDER BY source"""))

  /** [[graft.extensions.Funnel.funnel]] — the quality-filter cascade
    * with first-failing-rule attribution: per-rule drop counts that
    * reconcile exactly (Σ n_dropped = total − survivors; the pass row's
    * n_remaining equals the last rule's). Thresholds chosen from the
    * measured corpus distributions so every rule drops documents at
    * every sf. */
  private val filterFunnel = Q("q_filter_funnel",
    (s, dir) => graft.extensions.Funnel
      .funnel(table(s, dir, "documents")),
    Some("""WITH m AS (SELECT doc_id, lang,
                   CAST(len(arr) AS BIGINT) AS n_tok,
                   CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
                   CAST(len(list_filter(arr, t -> t IN ('the', 'a')))
                        AS BIGINT) AS n_stop
                 FROM (SELECT doc_id, lang,
                         list_filter(string_split(lower(coalesce(text, '')), ' '),
                                     t -> t <> '') AS arr
                       FROM documents)),
            a AS (SELECT CASE
                    WHEN NOT coalesce(lang IN ('en', 'de', 'es', 'fr'), FALSE)
                      THEN 0
                    WHEN NOT coalesce(n_tok >= 25, FALSE) THEN 1
                    WHEN NOT coalesce(n_tok <= 90, FALSE) THEN 2
                    WHEN NOT coalesce(n_tok > 0
                      AND n_stop * 1.0 / n_tok <= 0.12, FALSE) THEN 3
                    WHEN NOT coalesce(n_tok > 0
                      AND n_distinct * 1.0 / n_tok >= 0.35, FALSE) THEN 4
                    ELSE 5 END AS stage_idx
                  FROM m),
            c AS (SELECT stage_idx, count(*) AS n FROM a GROUP BY 1),
            d(stage_idx, rule) AS (VALUES
              (0, 'lang_allowed'), (1, 'min_tokens'), (2, 'max_tokens'),
              (3, 'stop_ratio'), (4, 'distinct_ratio'), (5, 'pass')),
            j AS (SELECT d.stage_idx, d.rule, coalesce(c.n, 0) AS n
                  FROM d LEFT JOIN c USING (stage_idx))
            SELECT stage_idx, rule,
                   CAST(CASE WHEN rule = 'pass' THEN 0 ELSE n END
                        AS BIGINT) AS n_dropped,
                   CAST(sum(n) OVER ()
                        - sum(CASE WHEN rule = 'pass' THEN 0 ELSE n END)
                            OVER (ORDER BY stage_idx ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS n_remaining
            FROM j ORDER BY stage_idx"""))

  /** [[graft.extensions.Postings.build]] — the df-capped delta-encoded
    * posting-list artifact over 3-gram terms: under-cap terms carry
    * their full sorted id list (first/last plus comma-joined gaps),
    * stop-grams keep df but NULL postings. maxDf = 6 engages BOTH
    * branches at every sf (term df spans 1–25 across the dirs). Pins
    * the prune-before-materialize cap, the sort order, and the delta
    * arithmetic bitwise. */
  private val postingsQ = Q("q_postings",
    (s, dir) => graft.extensions.Postings
      .build(table(s, dir, "documents")),
    Some("""WITH d AS (SELECT doc_id,
                   list_filter(string_split(lower(coalesce(text, '')), ' '),
                               t -> t <> '') AS arr
                 FROM documents),
            g AS (SELECT DISTINCT doc_id,
                    unnest(list_transform(range(1, CAST(len(arr) AS INTEGER) - 1),
                      i -> array_to_string(list_slice(arr, i, i + 2), ' ')))
                      AS term
                  FROM d),
            f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
            l AS (SELECT term, list(doc_id ORDER BY doc_id) AS ids
                  FROM g GROUP BY 1)
            SELECT f.term, f.df,
                   CASE WHEN f.df <= 6 THEN ids[1] END AS first_doc,
                   CASE WHEN f.df <= 6 THEN ids[CAST(len(ids) AS INTEGER)] END
                     AS last_doc,
                   CASE WHEN f.df <= 6 THEN array_to_string(
                     list_transform(range(1, CAST(len(ids) AS INTEGER) + 1),
                       i -> CAST(CASE WHEN i = 1 THEN ids[i]
                                      ELSE ids[i] - ids[i - 1] END AS VARCHAR)),
                     ',') END AS postings
            FROM f JOIN l USING (term) ORDER BY term"""))

  /** [[graft.extensions.Postings.appendDelta]] — incremental index
    * maintenance: the upsert rows for an arriving batch (docs with
    * doc_id % 4 == 0 arrive against an index built from the rest).
    * The oracle computes posting rows on the FULL union corpus
    * restricted to the batch's term set — the delta contract is that
    * upserting its rows reproduces build-on-union exactly, so each
    * delta row must equal the union row bitwise: merged gap encodings,
    * df sums, and cap transitions (a term the batch pushes past maxDf
    * flips to NULL postings) all pinned. */
  private val postingsDelta = Q("q_postings_delta",
    (s, dir) => {
      // both legs cut from ONE checkpointed pair frame — the
      // q_postings_compact single-scan discipline (r13)
      import graft.extensions.Postings
      val pairs = Postings.termPairs(table(s, dir, "documents"))
        .localCheckpoint()
      Postings.appendDeltaFromPairs(
        Postings.buildFromPairs(pairs.filter(col("doc_id") % 4 =!= 0)),
        pairs.filter(col("doc_id") % 4 === 0))
    },
    Some("""WITH d AS (SELECT doc_id,
                   list_filter(string_split(lower(coalesce(text, '')), ' '),
                               t -> t <> '') AS arr
                 FROM documents),
            g AS (SELECT DISTINCT doc_id,
                    unnest(list_transform(range(1, CAST(len(arr) AS INTEGER) - 1),
                      i -> array_to_string(list_slice(arr, i, i + 2), ' ')))
                      AS term
                  FROM d),
            tn AS (SELECT DISTINCT term FROM g WHERE doc_id % 4 = 0),
            f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
            l AS (SELECT term, list(doc_id ORDER BY doc_id) AS ids
                  FROM g GROUP BY 1)
            SELECT f.term, f.df,
                   CASE WHEN f.df <= 6 THEN ids[1] END AS first_doc,
                   CASE WHEN f.df <= 6 THEN ids[CAST(len(ids) AS INTEGER)] END
                     AS last_doc,
                   CASE WHEN f.df <= 6 THEN array_to_string(
                     list_transform(range(1, CAST(len(ids) AS INTEGER) + 1),
                       i -> CAST(CASE WHEN i = 1 THEN ids[i]
                                      ELSE ids[i] - ids[i - 1] END AS VARCHAR)),
                     ',') END AS postings
            FROM f JOIN l USING (term) JOIN tn USING (term)
            ORDER BY term"""))

  /** [[graft.streaming.StreamingPostings.view]] — the LSM read path
    * oracled end-to-end: an index built from 3/4 of the corpus plus a
    * one-batch delta log, resolved latest-per-term, must equal a flat
    * rebuild over everything — so the oracle is q_postings' full-union
    * SQL VERBATIM. Pins the delta computation, the batch stamping, and
    * the latest-row resolution as one hash (the streaming twin's
    * MemoryStream spec pins the same identity through a live stream;
    * this row makes it a driver-checked contract). */
  private val postingsView = Q("q_postings_view",
    (s, dir) => {
      // both legs cut from ONE checkpointed pair frame — the
      // q_postings_compact single-scan discipline (r13)
      import graft.extensions.Postings
      val pairs = Postings.termPairs(table(s, dir, "documents"))
        .localCheckpoint()
      val base = Postings.buildFromPairs(
        pairs.filter(col("doc_id") % 4 =!= 0))
      val log = Postings
        .appendDeltaFromPairs(base, pairs.filter(col("doc_id") % 4 === 0))
        .withColumn("batch_id", lit(0L))
      graft.streaming.StreamingPostings.view(base, log)
    },
    Some("""WITH d AS (SELECT doc_id,
                   list_filter(string_split(lower(coalesce(text, '')), ' '),
                               t -> t <> '') AS arr
                 FROM documents),
            g AS (SELECT DISTINCT doc_id,
                    unnest(list_transform(range(1, CAST(len(arr) AS INTEGER) - 1),
                      i -> array_to_string(list_slice(arr, i, i + 2), ' ')))
                      AS term
                  FROM d),
            f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
            l AS (SELECT term, list(doc_id ORDER BY doc_id) AS ids
                  FROM g GROUP BY 1)
            SELECT f.term, f.df,
                   CASE WHEN f.df <= 6 THEN ids[1] END AS first_doc,
                   CASE WHEN f.df <= 6 THEN ids[CAST(len(ids) AS INTEGER)] END
                     AS last_doc,
                   CASE WHEN f.df <= 6 THEN array_to_string(
                     list_transform(range(1, CAST(len(ids) AS INTEGER) + 1),
                       i -> CAST(CASE WHEN i = 1 THEN ids[i]
                                      ELSE ids[i] - ids[i - 1] END AS VARCHAR)),
                     ',') END AS postings
            FROM f JOIN l USING (term) ORDER BY term"""))

  /** [[graft.extensions.CorpusPipeline.funnelFull]] — "where did my
    * corpus go?": first-fail attribution across the FULL pretraining
    * gate chain (quality → repetition → contamination → exact dedup →
    * MinHash near-dup → pass), on q_corpus_clean_full's corpus/benchmark
    * split. graft renders the counts that q_corpus_clean_full's own pass
    * observes; the oracle re-derives every stage frame of the
    * q_corpus_clean_full CTE chain and attributes each doc to its first
    * failing stage — so the pass row's n_remaining necessarily equals
    * q_corpus_clean_full's row count, pinning the two queries to each
    * other as well as to the oracle. */
  private val pipelineFunnel = Q("q_pipeline_funnel",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.extensions.CorpusPipeline.funnelFull(
        docs.filter(ExtensionQueries.corpusSide(col("doc_id"))),
        docs.filter(ExtensionQueries.heldOut(col("doc_id"))))
    },
    Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
                 q AS (SELECT doc_id FROM
                         (SELECT doc_id,
                                 len(string_split(coalesce(text, ''), ' ')) AS n_tok,
                                 len(list_filter(string_split(coalesce(text, ''), ' '),
                                                 t -> t IN ('the', 'a'))) * 1.0
                                   / len(string_split(coalesce(text, ''), ' ')) AS sr
                          FROM corpus)
                       WHERE n_tok BETWEEN 20 AND 70 AND round(sr, 4) <= 0.12),
                 rep AS (SELECT doc_id FROM
                           (SELECT doc_id,
                                   CASE WHEN len(arr) < 2 THEN []
                                        ELSE list_transform(range(1, CAST(len(arr) AS INTEGER)),
                                                            i -> arr[i] || ' ' || arr[i + 1])
                                   END AS grams
                            FROM (SELECT doc_id,
                                         list_filter(string_split(lower(coalesce(text, '')), ' '),
                                                     t -> t <> '') AS arr
                                  FROM corpus))
                         WHERE len(grams) = 0
                            OR (len(grams) - len(list_distinct(grams))) * 1.0
                               / len(grams) <= 0.2),
                 gated AS (SELECT c.* FROM corpus c
                           JOIN q USING (doc_id) JOIN rep USING (doc_id)),
                 ag AS (SELECT doc_id,
                               len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                               t -> t <> '')) AS n,
                               list_filter(string_split(lower(coalesce(text, '')), ' '),
                                           t -> t <> '') AS arr
                        FROM documents),
                 grams5 AS (SELECT doc_id,
                                   unnest(CASE WHEN n < 5 THEN []
                                          ELSE list_transform(range(1, CAST(n AS INTEGER) - 3),
                                                 i -> array_to_string(arr[i : i + 4], ' '))
                                          END) AS gram
                            FROM ag),
                 bench AS (SELECT DISTINCT gram FROM grams5 WHERE doc_id % 10 = 0),
                 contaminated AS (SELECT DISTINCT g.doc_id FROM grams5 g
                                  JOIN bench USING (gram)
                                  JOIN gated USING (doc_id)),
                 decon AS (SELECT * FROM gated
                           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
                 keepers AS (SELECT min(doc_id) AS doc_id FROM decon
                             GROUP BY md5(lower(coalesce(text, '')))),
                 ed AS (SELECT g.* FROM decon g JOIN keepers USING (doc_id)),
                 sh AS (SELECT DISTINCT doc_id, s FROM
                          (SELECT doc_id,
                                  unnest(list_transform(
                                    range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                                    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS s
                           FROM ed)),
                 sigs AS (SELECT doc_id, sd.seed,
                                 min(md5(CAST(sd.seed AS VARCHAR) || ':' || s)) AS mh
                          FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) sd
                          GROUP BY 1, 2),
                 buckets AS (SELECT doc_id, CAST(floor(seed / 4) AS INTEGER) AS band,
                                    md5(string_agg(mh, '|' ORDER BY seed)) AS bkey
                             FROM sigs GROUP BY 1, 2),
                 dropb AS (SELECT DISTINCT y.doc_id FROM buckets x JOIN buckets y
                             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
                 st AS (SELECT CASE
                          WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 0
                          WHEN doc_id NOT IN (SELECT doc_id FROM rep) THEN 1
                          WHEN doc_id IN (SELECT doc_id FROM contaminated) THEN 2
                          WHEN doc_id NOT IN (SELECT doc_id FROM keepers) THEN 3
                          WHEN doc_id IN (SELECT doc_id FROM dropb) THEN 4
                          ELSE 5 END AS stage_idx
                        FROM corpus),
                 c AS (SELECT stage_idx, count(*) AS n FROM st GROUP BY 1),
                 d(stage_idx, rule) AS (VALUES
                   (0, 'quality'), (1, 'repetition'), (2, 'contamination'),
                   (3, 'exact_dup'), (4, 'near_dup'), (5, 'pass')),
                 j AS (SELECT d.stage_idx, d.rule, coalesce(c.n, 0) AS n
                       FROM d LEFT JOIN c USING (stage_idx))
            SELECT stage_idx, rule,
                   CAST(CASE WHEN rule = 'pass' THEN 0 ELSE n END
                        AS BIGINT) AS n_dropped,
                   CAST(sum(n) OVER ()
                        - sum(CASE WHEN rule = 'pass' THEN 0 ELSE n END)
                            OVER (ORDER BY stage_idx ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS n_remaining
            FROM j ORDER BY stage_idx"""))

  val all: Seq[Q] = Seq(pqAdc, trainingSet, substrApply, ivfPq,
    shardAssignQ, shardBalanceQ, zValueQ, trainingSetBalanced,
    cmsTopKQ, kmvDistinctQ, embOutlier, cmsJoinSizeQ,
    samplePriority, sampleSystematic, skewFactorQ, dataCard,
    windowSliding, piiScrub, piiReport, filterFunnel, postingsQ,
    pipelineFunnel, trainingSetText, postingsDelta, dataCardFull,
    postingsView)
}
