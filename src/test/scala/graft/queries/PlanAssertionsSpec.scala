package graft.queries

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

/** Plan-shape regression guard (SURVEY §4): the physical properties the
  * 100 TB design depends on, asserted against the real executed plans at
  * sf0.001 so a future refactor cannot silently lose them. */
class PlanAssertionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String) =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan

  private def planString(name: String) = plan(name).toString

  test("q_scan_prune: filter and projection reach the parquet scan") {
    val p = planString("q_scan_prune")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"), p)
  }

  test("q_join_broadcast: dimension side broadcasts, fact side never shuffles pre-join") {
    val p = planString("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_flagship: one generator, partial+final aggregate, rank limit pushed into window") {
    val p = planString("q_flagship")
    assert(p.contains("Generate explode"), p)
    assert(p.contains("WindowGroupLimit"), p) // rn <= 10 applied pre-window
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q_asof_join: exactly one hash shuffle (the key partition), like an equi-join") {
    // (AQE hides exec nodes pre-execution; assert on the plan text. The
    // rangepartitioning exchange is the final ORDER BY presentation sort,
    // not part of the operator.)
    val p = planString("q_asof_join")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q_merge_scd: merge is one full-outer join, no nested loops") {
    val p = planString("q_merge_scd")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_count_tokens: aggregation is partial before the exchange (map-side combine)") {
    val p = planString("q_count_tokens")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0, p)
    assert("partial_count|merge_count|count".r.findFirstIn(p).isDefined, p)
  }

  test("q_json_nested: a single from_json projection, no per-field JSON re-parses") {
    val p = planString("q_json_nested")
    assert(!p.contains("get_json_object"), p) // one schema'd parse, not ~50 scalar parses
    assert("from_json|JsonToStructs".r.findAllIn(p).size <= 1, p)
  }

  test("q_pack_chunks: exactly one hash exchange — the shard partitioning") {
    val p = planString("q_pack_chunks")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("languageId and slidingChunks compile to zero-exchange narrow plans") {
    // the fixed-profile language ID and the win/stride chunker both claim
    // scan-speed at 100 TB; pin that neither plan contains ANY exchange
    // (no shuffle, no broadcast — pure projection/generate)
    for (name <- Seq("q_lang_id", "q_chunk_overlap")) {
      val p = planString(name)
      // strip the final presentation ORDER BY (rangepartitioning) the
      // registered query adds for readability; no hash exchange allowed
      assert(!p.contains("Exchange hashpartitioning"), s"$name:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$name:\n$p")
    }
  }

  test("q_sample_stratified: rate dim broadcasts; corpus side never shuffles") {
    val p = planString("q_sample_stratified")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_decontaminate: benchmark gram set broadcasts against the corpus side") {
    val p = planString("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_emb_normalize / q_emb_lsh: row-local — no hash shuffle at all") {
    Seq("q_emb_normalize", "q_emb_lsh").foreach { q =>
      val p = planString(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n$p")
    }
  }

  test("q_ann_quantized: 1-row query broadcast + TakeOrdered, no hash shuffle") {
    val p = planString("q_ann_quantized")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_zipf: head extraction is a bounded heap (TakeOrderedAndProject), never a full-vocab sort") {
    val p = planString("q_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Sort nodes allowed are over the topK-row head (window +
    // presentation); the vocabulary-sized counts frame must reach no Sort
    val sortCount = "\\bSort \\[".r.findAllIn(p).size
    assert(sortCount <= 2, p)
  }

  test("q_oov_rate: vocab folds to a broadcast; the only hash shuffle is the TF build") {
    val p = planString("q_oov_rate")
    assert(p.contains("BroadcastExchange"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_quality_cutoff: per-stratum cutoffs broadcast back; no corpus re-shuffle beyond the stats agg") {
    val p = planString("q_quality_cutoff")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q_decontaminate: corpus grams reach the broadcast join un-shuffled (dedup is post-join)") {
    // the tree prints children BELOW their parent: everything after the
    // inner gram-join line is its input. The only exchange allowed there
    // is the benchmark-side gram distinct (tiny); a doc_id-keyed exchange
    // below the join means the corpus-wide pre-join distinct crept back
    val p = planString("q_decontaminate")
    val joinIdx = p.indexOf("BroadcastHashJoin [gram")
    assert(joinIdx >= 0, p)
    assert(!p.substring(joinIdx).contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("q_flagship_sql compiles to the same shuffle count as the DataFrame flagship") {
    def shuffles(name: String) =
      "Exchange hashpartitioning".r.findAllIn(planString(name)).size
    assert(shuffles("q_flagship_sql") == shuffles("q_flagship"))
  }

  test("q_winnow: the fingerprint build is a zero-shuffle narrow projection") {
    // split → gram → hash → window-min → distinct all happen inside one
    // projection; the only exchange is the presentation ORDER BY
    val p = planString("q_winnow")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("q_src_drift: vocab top-N is a bounded heap, vocab joins broadcast") {
    val p = planString("q_src_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N vocab must never be a global sort:\n$p")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_ann_recall: one checkpointed scored frame feeds both rankings") {
    // the corpus × queries scoring is materialized once (localCheckpoint
    // — the broadcast cross-join happens inside that build); the final
    // plan must consume the ExistingRDD for BOTH window branches and
    // contain no cartesian scoring of its own
    val p = planString("q_ann_recall")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Window".r.findAllIn(p).size >= 2, p)
  }

  test("q_token_entropy: zero-exchange narrow projection (scan-speed at 100 TB)") {
    val p = planString("q_token_entropy")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("q_semdedup: cell-blocked self-join — no cartesian anywhere") {
    val p = planString("q_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_doc_novelty: the corpus-size scalar broadcasts; no cartesian") {
    val p = planString("q_doc_novelty")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_contamination_report: benchmark gram set broadcasts; corpus side stays narrow") {
    val p = planString("q_contamination_report")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_knn_classify: consumes the shared scored checkpoint, no second corpus scan") {
    val p = planString("q_knn_classify")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_zvalue: the Morton key is a narrow projection — no hash shuffle, no join") {
    // the bounds pre-pass is its own bounded 2-row job at construction;
    // the per-row interleave must stay inside codegen (the only
    // exchange is the presentation ORDER BY's rangepartitioning)
    // (AQE hides codegen spans pre-execution — assert the shape:
    // Project straight over the FileScan, nothing between)
    val p = planString("q_zvalue")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Project"), p)
    assert(p.contains("FileScan parquet"), p)
  }

  test("q_shard_assign: one pid-keyed hash exchange over the checkpointed metadata frame") {
    // the range partition + pid stamp live behind the localCheckpoint
    // (Scan ExistingRDD); this plan adds ONE hash exchange for the
    // per-partition rank window and the serpentine arithmetic — no
    // join, no single-partition window
    val p = planString("q_shard_assign")
    assert(p.contains("Scan ExistingRDD"), p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, p)
    assert(p.contains("hashpartitioning(_gr_pid"), p)
    assert(p.contains("windowspecdefinition(_gr_pid"), p) // never unpartitioned
  }

  test("q_cms_topk: head is a bounded TakeOrdered; the sketch grid broadcasts") {
    val p = planString("q_cms_topk")
    assert(p.contains("TakeOrderedAndProject"), p) // top-20 heap, no vocab sort
    assert(p.contains("BroadcastHashJoin"), p) // d·w grid vs the key side
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_emb_outlier: centroid table broadcasts; top-k is a bounded TakeOrdered") {
    val p = planString("q_emb_outlier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_cms_joinsize: both grids partial-aggregate before their exchanges") {
    val p = planString("q_cms_joinsize")
    // grid builds are map-side combinable (partial_count before the
    // (seed,bucket) exchange) — the property that keeps the shuffle
    // O(d·w·tasks) instead of O(corpus)
    assert("partial_count".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("one-eval discipline: token builds appear exactly once per use in the plan") {
    // CollapseProject re-inlines withColumn aliases, silently re-running
    // a projection's base build once per OUTPUT COLUMN (languageId paid
    // ~10 splits/row before round 6). The ops now bind the build as a
    // lambda variable behind a Generate barrier; pin the expression
    // count in the executed plan so the regression is structural, not
    // just a bench smell.
    def occurrences(name: String, token: String): Int =
      token.r.findAllIn(planString(name)).size
    assert(occurrences("q_lang_id", "split\\(") == 1)
    assert(occurrences("q_text_stats", "split\\(") == 1)
    // vocab-build side + per-doc side are two distinct, legitimate uses
    assert(occurrences("q_oov_rate", "split\\(") == 2)
    assert(occurrences("q_repetition", "split\\(") == 2)
    // gram hashing (r20: the native md5_lanes digest) + fp digest; a
    // SECOND md5_lanes means the window-min lambda lost its
    // let-binding (the 40 s quadratic regression)
    assert(occurrences("q_winnow", "md5_lanes\\(") == 1)
    assert(occurrences("q_winnow", "md5\\(") == 1)
  }

  test("q_pii_scrub: scan-speed pass — no join, no aggregation, no hash shuffle") {
    val p = planString("q_pii_scrub")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // only the presentation ORDER BY's range exchange may appear
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_filter_funnel: corpus collapses before the report's bounded windows") {
    val p = planString("q_filter_funnel")
    // per-doc stage_idx partial-aggregates map-side; the dim join and
    // windows run on the ≤ rules+1 frame, never corpus-wide
    assert("partial_count".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_postings: pair frame materialized once, list build bounded by the cap") {
    val p = planString("q_postings")
    // the distinct (term, doc) frame is a checkpoint boundary (three
    // consumers; unchecked, the gram explode re-ran per consumer)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Generate explode"), p) // explode ran at the boundary
    // the sorted-list collect is the bounded ObjectHashAggregate form
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q_data_card: the wide row is evaluated once — no per-card-row subtree replication") {
    // the first draft union'd 13 single-row selects of the wide frame,
    // replicating every aggregate subtree (token explode+groupBy
    // included) once per card row; the explode-over-struct-array form
    // caps corpus touches at the 2 token passes (tok aggregate + KMV)
    // plus the checkpointed perDoc references
    val p = planString("q_data_card")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"$scans parquet scans — the card re-derived a branch per row\n$p")
  }

  test("q_paged_source: pages fan out as input partitions; only the presentation sort shuffles") {
    val df = Registry.queries("q_paged_source")(spark, dir)
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("BatchScan paged"), p.toString)
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"${shuffles.size} shuffles\n$p") // orderBy only
  }

  test("q_hist_quantile: the merged state materializes once — zero corpus scans in the query subtree") {
    // r12 audit catch: unmaterialized, the cum/n windows and the q
    // probe each re-ran the state build (corpus scan included) — 4
    // parquet scans for a ≤ bins-row state; the localCheckpoint caps
    // corpus touches at the (pre-subtree) state build itself
    val p = planString("q_hist_quantile")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"$scans parquet scans — the state re-derived per consumer\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_postings_compact: the LSM chain stays doc/term-keyed — no cartesian, no single-partition exchange") {
    val p = planString("q_postings_compact")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // r13 (VERDICT #3): every leg now cuts its doc slice from the ONE
    // checkpointed termPairs frame — the final plan reads checkpoints
    // only; a parquet scan here means a leg re-derived its pairs from
    // the corpus again (the r12 4-scan shape)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"$scans parquet scans — a corpus leg re-derived its pairs\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q_postings_view / q_postings_delta: both legs cut from the one checkpointed pair frame") {
    // r13: same single-scan discipline as q_postings_compact — a
    // parquet scan in the final plan means a leg re-derived its pairs
    for (name <- Seq("q_postings_view", "q_postings_delta")) {
      val p = planString(name)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 0, s"$name: $scans parquet scans\n$p")
      assert(p.contains("Scan ExistingRDD"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("q_sessionize: ONE user_id hash exchange satisfies both windows and the session groupBy") {
    // the canonical sessionize shape (r12 VERDICT #4): the lag/sum
    // windows and the (user_id, session_id) aggregate all consume the
    // same user_id hash partitioning — a second hash exchange means a
    // window or the groupBy stopped reusing it; the only other
    // exchange is the presentation ORDER BY's rangepartitioning
    val p = planString("q_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(!p.contains("windowspecdefinition()"), p) // never unpartitioned
  }

  test("q_quality_cutoff: the per-lang cutoff frame broadcasts; the corpus is scanned at most twice") {
    // r12 VERDICT #4 anchor hardening: the stats agg derives bounded
    // per-lang cutoffs which must come back as a BROADCAST join (the
    // scale-safe shape); a sort-merge join here re-shuffles the corpus
    val p = planString("q_quality_cutoff")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"$scans corpus scans\n$p")
  }

  test("q_shard_assign: serpentine stamp never sorts globally — no single-partition exchange") {
    // r12 VERDICT #4 anchor hardening on top of the existing pid pin:
    // the global row number must come from range partition + broadcast
    // prefix offsets, never an unpartitioned window or a 1-partition
    // funnel
    val p = planString("q_shard_assign")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("windowspecdefinition()"), p)
  }

  test("q_paged_count: the aggregate IS the scan — no fallback row scan, no shuffle") {
    // r14: the pushed group-free count/min/max plans as the one-row
    // PagedCountScan; a regression to the row path re-fetches the feed
    val p = planString("q_paged_count")
    assert(p.contains("PagedCountScan"), p)
    assert(!p.contains("PagedScan("), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_mixture_sample: bounded keeps broadcast back; the source window is partitioned") {
    // r14: the plan frame (one row per source) must return as a
    // broadcast join, and the budget cumsum must be a per-source
    // window — an unpartitioned window or a sort-merge join here
    // re-shuffles the corpus
    val p = planString("q_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition()"), p)
    assert(p.contains("windowspecdefinition(source#"), p)
    // one source-keyed exchange feeds the window; the keeps join adds
    // only a broadcast exchange
    assert("Exchange hashpartitioning\\(source#".r.findAllIn(p).size == 1, p)
  }

  test("q_mixture_plan: the corpus never re-enters — frozen bounded frames only") {
    // r14: totals/weights are localCheckpointed (bounded: one row per
    // source), so the final plan holds zero parquet scans and the
    // 1-row budget agg joins back as a broadcast
    val p = planString("q_mixture_plan")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"$scans corpus scans\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  /** r15 pins run against the BUILD plans (shared-frame memo off): the
    * memoized registry path returns a frozen ExistingRDD scan, which
    * would pass any structural assertion vacuously. */
  private def buildPlan(name: String): String = {
    spark.conf.set("spark.graft.dedup.shareFrames", "false")
    try planString(name)
    finally spark.conf.unset("spark.graft.dedup.shareFrames")
  }

  test("q_ppl_score: frozen LM joins; the only nested loop is the 1-row vocab") {
    val p = buildPlan("q_ppl_score")
    // the LM frames are localCheckpoint'ed — the scoring joins read
    // materialized blocks, never re-run the reference aggregations
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    // ≤ 2 corpus reads in the final plan: scoring bigrams + id/lang spine
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("q_dsir_weights: the bounded ratio table broadcasts into scoring") {
    val p = buildPlan("q_dsir_weights")
    // ratio (≤ buckets rows, frozen) must return as a broadcast hash
    // join on f — a sort-merge join THERE would shuffle the token
    // stream by feature id. (The per-doc spine join may SMJ pre-AQE;
    // that one shuffles on doc_id, the result key, which is fine.)
    assert("BroadcastHashJoin \\[f#".r.findFirstIn(p).isDefined, p)
    // findFirstIn, not .matches: Scala Regex.matches anchors to the
    // WHOLE input, so a negated .matches against a full plan dump is
    // vacuously true and the SMJ guard would be dead code (r15 ADVICE)
    assert("SortMergeJoin \\[f#".r.findFirstIn(p).isEmpty, p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("q_merge_scd_wide: the 53-column <=> change chain compiles inside WholeStageCodegen") {
    // r15 VERDICT #3: the reference diffs 53 columns stringwise; the wide
    // merge's updated_at CASE carries the 53-way null-safe OR-chain
    // (106 attribute references). Codegen declines operators with >100
    // OUTPUT fields (spark.sql.codegen.maxFields) — the 111-field
    // full-outer join itself correctly falls outside codegen — but the
    // Project holding the chain has 5 outputs and must stay compiled.
    // fallback=false turns a silent compile bail into a test failure.
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Registry.queries("q_merge_scd_wide")(spark, dir)
      val qe = df.queryExecution
      qe.toRdd.count() // materialize so the AQE final plan carries WSCG nodes
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case q: QueryStageExec => p +: walk(q.plan)
        case _ => p +: p.children.flatMap(walk)
      }
      val compiledProjects = walk(qe.executedPlan).collect {
        case w: WholeStageCodegenExec => walk(w).collect { case pr: ProjectExec => pr }
      }.flatten
      val wide = compiledProjects.filter(pr =>
        pr.output.exists(_.name == "updated_at") &&
          pr.projectList.exists(_.references.exists(_.name == "w52")))
      assert(wide.nonEmpty,
        s"53-way change chain not inside any WholeStageCodegen; compiled projects: " +
          compiledProjects.map(_.output.map(_.name).take(8).mkString(",")).mkString(" | "))
    } finally prevFallback match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("q_dsir_top: selection is a per-task top-K heap, never a global sort") {
    val p = buildPlan("q_dsir_top")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_curriculum: position rides the partitioned rank; no single-partition exchange") {
    val p = buildPlan("q_curriculum")
    assert(p.contains("_gr_pid"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q_hybrid_rrf: both channels are bounded heaps; fusion never touches the corpus") {
    // each channel must be TakeOrderedAndProject (per-task heaps) and
    // the fusion join must be over those bounded frames — no corpus-
    // shaped shuffle after the channel cuts, no cartesian anywhere
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val sp = Registry.queries("q_hybrid_rrf")(spark, dir)
      .queryExecution.sparkPlan
    val heaps = sp.collect { case t: TakeOrderedAndProjectExec => t }
    assert(heaps.size >= 2, s"expected both channel top-k heaps:\n$sp")
    // scalar crossJoins (stats dims) legitimately plan as 1-row
    // broadcast BNLJ — only a true cartesian is a red flag
    assert(!sp.toString.contains("CartesianProduct"), sp.toString)
  }

  test("q_classifier_score: weight dim broadcasts back as a hash join; no cartesian") {
    val sp = Registry.queries("q_classifier_score")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(sp.contains("BroadcastHashJoin"), sp)
    assert(!sp.contains("CartesianProduct"), sp)
  }

  test("q_retrieval_decon: containment's left side is the broadcast top-k frame, never the corpus") {
    // r16 VERDICT #4's pin: the two-stage shape only earns its keep if
    // the candidate gram generate sits ABOVE the k-bounded retrieval —
    // every doc-gram GenerateExec must have, in its own subtree, a
    // broadcast join whose build side is the TakeOrderedAndProject
    // top-k. Traversed on the pre-AQE physical plan (node types are
    // stable there; the executed-plan string hides them behind AQE).
    import org.apache.spark.sql.execution.{GenerateExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val sp = Registry.queries("q_retrieval_decon")(spark, dir)
      .queryExecution.sparkPlan
    val candGens = sp.collect {
      case g: GenerateExec
        if g.requiredChildOutput.exists(_.name == "doc_id") &&
          g.generatorOutput.exists(_.name == "gram") => g
    }
    assert(candGens.nonEmpty, s"no candidate gram generate found:\n$sp")
    candGens.foreach { g =>
      val kBounded = g.collectFirst {
        case b: BroadcastHashJoinExec if b.collectFirst {
          case t: TakeOrderedAndProjectExec => t
        }.isDefined => b
      }.isDefined
      assert(kBounded,
        s"candidate gram generate is not fed by the broadcast top-k:\n$g")
    }
    // and the benchmark gram dim still broadcasts (the decontaminate
    // discipline) — the containment join itself is a broadcast join
    val p = sp.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
