package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale contract (SURVEY.md §5).
  * Filters must reach the parquet scan (PushedFilters), projections must
  * prune the read schema, dims must broadcast — at 100 TB these are the
  * difference between reading terabytes and reading everything.
  */
class PlanSpec extends SparkSpecBase {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter is pushed to the parquet scan") {
    val plan = formatted(
      Tables.lineitem(spark, sf)
        .filter(col("l_shipdate") <= lit("2001-09-02"))
        .select(col("l_quantity")))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan)
  }

  test("q1 scan reads only the columns it needs (column pruning)") {
    val df = core.Relational.q1PricingSummary(spark, sf)
    val scanCols = df.queryExecution.sparkPlan.collectLeaves().flatMap {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.schema.fieldNames
      case _ => Nil
    }.toSet
    assert(scanCols.contains("l_quantity") && scanCols.contains("l_returnflag"), scanCols)
    assert(!scanCols.contains("l_partkey") && !scanCols.contains("l_suppkey"), scanCols)
    assert(scanCols.size <= 7, s"scan reads more than the 7 needed columns: $scanCols")
    df.collect() // materialize so AQE finalizes the plan
    val plan = formatted(df)
    assert(plan.contains("codegen id"), s"q1 must stay inside whole-stage codegen:\n$plan")
  }

  test("q5 broadcasts the small dims (nation/region)") {
    val plan = formatted(core.Relational.q5RegionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("qc_mad_outliers broadcasts the per-batch medians back (no giant window sort)") {
    val plan = formatted(sc.SingleCell.qcMadOutliers(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("WindowExec"), "medians must come from aggregates, not windows")
  }

  test("text ops are shuffle-free narrow plans") {
    val plan = formatted(text.TextOps.textQuality(spark, sf))
    assert(!plan.contains("Exchange"), s"text_quality must not shuffle:\n$plan")
  }

  test("decontaminate broadcasts the eval shingle set (train side never pair-joins)") {
    val plan = formatted(dedup.Dedup.decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"train shingles must stream through a broadcast, not a sort-merge join:\n$plan")
  }

  test("pack_sequences windows per shard — no single-partition global sort") {
    val plan = formatted(text.TextOps.packSequences(spark, sf))
    assert(plan.contains("Window"), plan)
    // the window partition spec must carry the shard key
    assert(plan.contains("partitionBy") || plan.contains("PartitionSpec") ||
      plan.toLowerCase.contains("source"),
      s"pack window must be partitioned by the shard column:\n$plan")
  }

  test("de_markers is one aggregation pass over the fact join (no fact-row window)") {
    val plan = sc.SingleCell.deMarkersQuery(spark, sf).queryExecution.sparkPlan.toString
    // windows may only appear AFTER the per-feature aggregation (the BH
    // adjust over the tiny stats table needs exactly 3 window
    // functions: rank, total count, running min); the fact table itself
    // must reach an aggregate without a window sort
    val windowFns = "windowspecdefinition".r.findAllIn(plan).length
    assert(plan.contains("HashAggregate"), plan)
    assert(windowFns == 3, s"expected exactly the 3 BH window functions, got $windowFns:\n$plan")
  }

  test("decile_bins assigns buckets without any sort (boundaries, not ntile)") {
    val plan = formatted(core.Relational.decileBins(spark, sf))
    assert(!plan.contains("Sort"), s"bucket assignment must not sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"boundary array must broadcast:\n$plan")
  }

  test("latest_per_key is one aggregation, no per-key window sort") {
    val plan = formatted(core.Sessions.latestPerKey(spark, sf))
    assert(!plan.contains("WindowExec"), s"latest pick must be a struct-max aggregate:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"expected partial-aggregable max:\n$plan")
  }

  test("brute-force topk aggregates map-side (partial topk_by before the exchange)") {
    val plan = sim.Ann.annBruteforceTopk(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by"),
      s"TopKByScore must partial-aggregate before the shuffle (is the " +
        s"ObjectHashAggregate sort-fallback threshold set?):\n$plan")
  }

  test("interval_overlap plans as an equi join on (user, bin), not a theta join") {
    val plan = formatted(core.Sessions.intervalOverlap(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"overlap must bin-join, not theta-join:\n$plan")
  }

  test("funnel_conversion's three stacked window mins share one sort") {
    val plan = core.Sessions.funnelConversion(spark, sf).queryExecution.executedPlan.toString
    // all three stage windows partition by (user, session): one exchange
    // + one sort must satisfy them all
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 2, s"expected the stage windows to reuse one sort, got $sorts:\n${plan.take(3000)}")
  }

  test("annotate_corr plans one fact shuffle and no rank-window sort") {
    // r14 shape: the centroid panel is collected at build time
    // (driver-bounded, |labels|×panel rows), so the RETURNED plan is a
    // single codegen HashAggregate pass over the fact table — exactly
    // one entity-keyed exchange (the partial-sum shuffle), no object
    // agg, no window, and the per-entity partial rows are the only
    // thing on the wire.
    val df = sc.Annotate.annotateCorr(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([^)#]+)#".r
      .findAllMatchIn(plan).map(_.group(1).trim).toList
    assert(exchanges == List("entity"),
      s"scoring must be one partial-agg entity shuffle, got keys: $exchanges")
    assert(!plan.contains("Window"),
      "argmax must be the in-row array_sort, not a rank window")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"scoring must stay in codegen HashAggregate:\n${plan.take(1500)}")
  }

  test("downsample_counts rides one entity shuffle for all three windows") {
    val plan = sc.SingleCell.downsampleCounts(spark, sf).queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 2,
      s"windows must share the entity partitioning, got ${exchanges.length} exchanges:\n$plan")
  }

  test("ambient_pval joins co-partitioned sides without a sort-merge") {
    val plan = sc.Annotate.ambientPval(spark, sf).queryExecution.sparkPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"matrix-totals join must be hash-based on the shared partitioning:\n$plan")
  }

  test("pseudotime_assign broadcasts the segment geometry; one bounded-key shuffle") {
    val plan = sc.Trajectory.pseudotimeAssign(spark, sf).queryExecution.sparkPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"segment table must broadcast onto the cell scan:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the argmin groupBy on (vec_id, label, lineage_id) is the ONLY
    // corpus shuffle (the centroid pass already ran at plan-build time)
    assert(exchanges.length <= 1,
      s"projection pass must shuffle once, got ${exchanges.length}:\n$plan")
  }

  test("LSH kNN feed joins on the bucket key via shuffle-hash (no corpus broadcast)") {
    // guard the FEED itself: the graph twins materialize their edge list
    // eagerly (localCheckpoint), so their returned plan is only the tail
    val plan = api.Similarity.lshTopK(Tables.embeddings(spark, sf),
        col("vec_id"), col("embedding"), k = 5)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"bucket self-join must be shuffle-hash, not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH feed must never fall back to an all-pairs join:\n${plan.take(3000)}")
  }

  test("semantic_dedup broadcasts the bounded centroid stats; candidate join " +
      "is bucket-keyed shuffle-hash") {
    val plan = dedup.Dedup.semanticDedup(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"within-bucket candidate join must be shuffle-hash on bucket:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-bucket centroid sums (≤2^planes·dim rows) must broadcast back:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"semantic dedup must never fall back to an all-pairs join:\n${plan.take(3000)}")
  }

  test("dsir_weights scores through a word-key shuffle join, no LM broadcast") {
    val plan = text.TextOps.dsirWeights(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"doc-term × LM must join on the word key, not broadcast the vocab:\n${plan.take(3000)}")
  }

  test("filter_decision composes a broadcast contamination probe, never a pair join") {
    val plan = formatted(text.TextOps.filterDecision(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the decision table must stay linear:\n${plan.take(3000)}")
  }

  test("span removal joins its gram-frequency table on the gram key, not broadcast") {
    // the df table is corpus-vocabulary-sized — broadcasting it is the
    // mistake that OOMs at 100 TB; the hint must hold
    val plan = text.Clean.dedupSpanRemoval(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"gram df join must be shuffle-hash on the gram key:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span removal must stay linear:\n${plan.take(3000)}")
  }

  test("bpe merge round is a narrow per-row projection — no window, no exchange") {
    // r15 optimization pin: one merge round folds each word's symbol
    // array in a single codegen'd projection. Any Window or Exchange
    // reappearing here means the per-round shuffle crept back (×32 in
    // the deep trainer). The input is a local relation so every plan
    // node below belongs to the merge step itself.
    import spark.implicits._
    val dict = Seq(("the", 5L, Seq("t", "h", "e")))
      .toDF("w", "wc", "syms")
    val plan = text.Vocab.mergeOnce(dict, "t", "h")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"),
      s"merge round must not window over the token stream:\n$plan")
    assert(!plan.contains("Exchange"),
      s"merge round must not shuffle:\n$plan")
  }

  test("no registry query hides an accidental quadratic join") {
    // the ONLY operators allowed a cartesian/BNL shape are the ones
    // explicitly documented as brute-force baselines
    // bm25/pmi/decile/kl join a ONE-ROW broadcast of global totals —
    // the BNL there is a scalar attach, not a quadratic pair join
    val allowedQuadratic = Set(
      "dedup_embedding", "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk",
      // local_lisi's neighborhoods come from the documented brute-force
      // scorer (LSH/IVF candidates are the scale path)
      "local_lisi",
      "dedup_ngram_jaccard", "dedup_containment", "dup_pairs_by_source", "threshold_tally", "feature_filter", "enrichment_ora",
      // minhash_bands_sweep embeds the exact-Jaccard truth feed above
      // (offline calibration audit; Bench-skipped)
      "minhash_bands_sweep",
      // join_key_skew attaches the 1-row totals agg to the 1-row
      // top-10 agg per key column — scalar attaches
      "join_key_skew",
      // median_polish crosses the |genes| rows with the broadcast
      // |samples| set to complete the bounded grid (the ma_stats
      // precedent) and attaches 1-row median scalars
      "median_polish",
      // SQ8 family: quantize audit attaches the 1-row per-dim codebook;
      // ann_sq_topk is the documented ADC brute-force baseline;
      // ann_ivf_sq_topk broadcasts the 16-row centroid table
      "embedding_quantize_audit", "ann_sq_topk", "ann_ivf_sq_topk",
      // binary-code family: the popcount hamming scan IS the documented
      // scale plan (32× smaller corpus, SIMD popcount full scan) and
      // the rerank stage touches only |queries|·50 vectors
      "ann_binary_topk", "ann_binary_rerank_topk",
      // rrf fusion composes the two allowed shortlist scans above
      "ann_rrf_fusion_topk",
      "tfidf_top_terms", "knn_components", "pagerank_knn",
      // exact triangle feed rides the documented brute-force kNN oracle
      // path; the _lsh twin is the scale feed and stays BNL-free
      "knn_clustering_coeff",
      // ann_recall_eval / hard_negatives / label_prop_knn ride the
      // documented brute-force scorer (oracle paths; the _lsh twins
      // are the scale feeds and stay BNL-free)
      "ann_recall_eval", "hard_negatives", "label_prop_knn",
      // louvain's exact feed rides the same brute-force scorer; the
      // _lsh twin is the scale feed and stays BNL-free (m is a bounded
      // driver scalar off the checkpointed edge list, not a 1-row BNL)
      "louvain_knn",
      "bm25_top_terms", "pmi_bigrams", "decile_bins", "kl_mktsegment",
      // char_lm_score attaches the 1-row corpus bigram total;
      // perplexity_buckets inherits the same attach through it
      "char_lm_score", "perplexity_buckets",
      // pairwise_ks broadcasts the 10-row group-pair table into an
      // OR-predicate tag join; value_per_bin and start_vs_end attach a
      // 1-row global range
      "pairwise_ks", "pairwise_ks_binned", "value_per_bin", "start_vs_end",
      // ngram_novelty_curve attaches the 1-row doc_id range (the
      // value_per_bin precedent); token_quota_cut attaches the 1-row
      // corpus-total/normalizer agg (the token_budget_alloc precedent)
      "ngram_novelty_curve", "token_quota_cut",
      // ma_stats crosses the two aggregated DIM sets (samples × genes)
      // to build the dense log-CPM scaffold MA analysis requires
      // (missing entry ≡ count 0) — a bounded scaffold materialization,
      // not a fact-fact pair join
      "ma_stats",
      // label_silhouette crosses each point with the LABEL-count-sized
      // centroid broadcast (10 rows) — every point must see every
      // centroid by definition of the metric
      "label_silhouette",
      // annotate_corr crosses each entity with the |labels|-row centroid
      // broadcast (correlation against EVERY reference label is the
      // operator); gsea_es tags every ranked feature into every
      // |sets|-row set; cluster_mst crosses the |labels|² centroid pairs
      "annotate_corr", "gsea_es", "cluster_mst",
      // label_centroid_sims crosses the |labels|-row centroid arrays
      // (the cluster_mst |labels|² precedent)
      "label_centroid_sims",
      // tf_activity_ulm crosses each entity's stats with the
      // |TFs|-row (25 brands) target-count broadcast — the dense
      // activity matrix is the operator (ma_stats scaffold precedent)
      "tf_activity_ulm",
      // ambient_pval / pattern_diff / decayed_sum / psi_drift /
      // survival_km attach 1-row global scalars (threshold, day range,
      // max-ts, ns-range, total-at-risk) or the 10-row bin grid;
      // early_de / condition_test / diff_end are the pattern_diff /
      // start_vs_end machinery with different masks — same 1-row
      // day-range attach
      // category_drift attaches the 1-row ts-range and totals aggs —
      // scalar attaches (the psi_drift precedent)
      "category_drift",
      "ambient_pval", "pattern_diff", "decayed_sum", "psi_drift",
      "survival_km", "hvg_trend",
      "early_de", "condition_test", "diff_end",
      // rfm_segments attaches the 1-row day-max and quintile-bounds aggs
      "rfm_segments",
      // nelson_aalen attaches the 1-row total-at-risk scalar (the
      // survival_km shape it duals)
      "nelson_aalen",
      // markov_attribution's grid/matrix algebra lives entirely on
      // bounded frames: (channels+1)·(channels+3)² cells, 1-row
      // conversion-count / normalizer / full-chain attaches — scalar
      // and bounded-scaffold attaches, never a fact pair join
      "markov_attribution",
      // audience_overlap_kmv probes k·|types| sketch rows against the
      // |types|²-row pair table (OR-key tag join, the pairwise_ks
      // precedent) and attaches bounded per-type estimate scalars
      "audience_overlap_kmv",
      // topic_coherence_npmi attaches the 1-row doc-count scalar (the
      // topic_assign precedent); its pair join is term-equi-keyed
      "topic_coherence_npmi",
      // doremi_weights attaches the 1-row corpus-total / corpus-loss /
      // normalizer scalars (the source_mix_weights precedent)
      "doremi_weights",
      // dsir_weights (+ hashed twin) / source_mix_weights / mix_resample
      // attach 1-row LM-total / normalizer / max-factor scalars —
      // scalar attaches, not pair joins
      "dsir_weights", "dsir_weights_hashed", "source_mix_weights",
      "mix_resample",
      // topic_assign / topic_top_terms / topic_mix attach the 1-row
      // doc-count scalar for the stopword df cut — scalar attach, not
      // a pair join; token_budget_alloc attaches the 1-row capped-
      // totals agg
      "topic_assign", "topic_top_terms", "topic_mix_by_source",
      "token_budget_alloc",
      // word_lang_mi builds the bounded |vocab|x|langs| scaffold (the
      // ma_stats precedent) + 1-row N attach; proportional_allocation
      // attaches the 1-row totals/seats aggregates
      "word_lang_mi", "proportional_allocation",
      // source_overlap probes the tiny distinct-mask histogram against
      // the |sources|²-row pair table — both bounded by source count
      "source_overlap",
      // MNN exact scorer is the documented brute-force oracle path
      // (dedup_embedding precedent); mnn_pairs_lsh is the scale feed
      // and stays BNL-free
      "mnn_pairs", "mnn_shift", "mnn_correct",
      // harmony assignment crosses each cell with the ≤32-row broadcast
      // centroid table — the label_silhouette "every point must see
      // every centroid" shape, bounded by cluster count
      "harmony_correct", "harmony_mixing",
      // matryoshka eval rides the documented brute-force scorer on both
      // rank cuts (the ann_recall_eval precedent)
      "ann_matryoshka_eval",
      // r14 scalar/bounded scaffolds: cuped_adjustment attaches the
      // 1-row time-midpoint agg; isotonic_calibration attaches the
      // 1-row max-score agg and enumerates bin pairs on the <=40-row
      // cum table; good_turing_mass attaches the 1-row total/N1 aggs
      // over the |distinct r|-row table; corpus_bleu_proxy attaches the
      // 1-row corpus-length and min/sum-ln aggs to the 4-row precision
      // frame
      "cuped_adjustment", "isotonic_calibration", "good_turing_mass",
      "corpus_bleu_proxy",
      // JL projection eval rides the same broadcast-queries exact
      // scorer twice (projected + full-precision truth) — the
      // matryoshka precedent
      "ann_jl_projection_eval",
      // RBO + NDCG evals score the LSH feed against the documented
      // brute-force exact truth (the ann_recall_eval precedent) —
      // BOTH were added in round 10's last two commits without
      // allowlist entries, which is what turned the round-10 bar red
      "ann_rbo_eval", "ann_ndcg_eval",
      // bitext mining scores through the exact cross-batch oracle
      // scorer (mnn_pairs precedent)
      "bitext_margin_mining",
      // the SNN / k-core / BFS / weighted-Louvain exact feeds ride the
      // same documented brute-force kNN scorer (louvain_knn precedent);
      // their _lsh twins are the scale feeds and stay BNL-free
      "snn_graph", "kcore_knn", "knn_bfs_dists", "louvain_snn",
      "leiden_refine", "modularity_score", "knn_assortativity",
      "knn_label_noise", "knn_da_screen",
      // active_users joins the deduped (day, user) pairs against the
      // BOUNDED day grid (retention-window rows) on a trailing-range
      // predicate — the ma_stats bounded-scaffold shape, not a
      // fact-fact pair join
      "active_users",
      // distance_histogram broadcasts the sampled anchor set (the
      // documented brute-force sampling bound); ivf_nprobe_sweep rides
      // the brute-force truth scorer (ann_recall_eval precedent)
      "distance_histogram", "ivf_nprobe_sweep",
      // lsh_planes_sweep rides the brute-force truth scorer
      // (ann_recall_eval precedent); its candidate joins are bucketed
      "lsh_planes_sweep",
      // ivf_cell_balance attaches the 1-row totals agg to the 16-row
      // cell counts — scalar attach, not a pair join
      "ivf_cell_balance",
      // ppr_knn's exact feed rides the brute-force scorer (pagerank_knn
      // precedent); the _lsh twin is the scale feed
      "ppr_knn",
      // source_style_kl attaches the 1-row corpus word-total (the
      // char_lm_score scalar-attach precedent)
      "source_style_kl",
      // word_lm_score attaches the 1-row corpus bigram total (the
      // char_lm_score precedent); k_anonymity / hbos_outliers /
      // conversion_ztest attach 1-row totals/min-max/pooled aggs;
      // benford_screen crosses the |priorities|×9 digit scaffold
      // (ma_stats precedent)
      "word_lm_score", "k_anonymity", "hbos_outliers",
      "conversion_ztest", "benford_screen",
      // conformal_intervals attaches the 1-row global residual-range
      // aggregate twice (bin width + q̂ reconstruction — the
      // hbos_outliers min-max precedent)
      "conformal_intervals",
      // trigram_sb_score attaches the 1-row unigram total N (the
      // char_lm_score scalar-attach precedent)
      "trigram_sb_score",
      // kneser_ney_score attaches the 1-row distinct-bigram total NB
      // (the word_lm_score scalar-attach precedent)
      "kneser_ney_score",
      // t_closeness crosses the |classes| table with the ≤|segments|
      // global-mix scaffold so absent segments contribute their full
      // global mass (the ma_stats bounded-scaffold precedent)
      "t_closeness",
      // r15: unigram train/encode attach the 1-row usage total per EM
      // round (cuped scalar-attach precedent, dict-bounded inputs);
      // diff_in_diff attaches the 1-row midpoint (the cuped shape);
      // chrf_proxy attaches the 1-row macro-average to the 6-row order
      // frame (corpus_bleu_proxy precedent); the threshold sweep
      // crosses five 1-row aggregates of the checkpointed pair list
      "unigram_lm_train", "unigram_lm_encode", "diff_in_diff",
      "chrf_proxy", "dedup_threshold_sweep",
      // r15: the perceptron's margin pass attaches the 1-row 65-slot
      // weight ARRAY per round (the cuped scalar-attach shape, bounded
      // by the bucket-count capacity lever) — the per-round doc-keyed
      // feature shuffles it replaced were the scale cost
      "perceptron_quality", "classifier_eval",
      // tokenizer_compare joins the two memoized encode outputs and
      // inherits the unigram scalar-attach scaffolds
      "tokenizer_compare")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!allowedQuadratic.contains(name)) {
        val plan = fn(spark, sf).queryExecution.sparkPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name contains a CartesianProduct:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name contains a BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }

  test("no registry query windows an unbounded input through a single partition") {
    // The guard that would have caught heaps_fit at authoring time
    // (r6 verdict item 2/5): a WindowExec with an EMPTY partitionSpec
    // drags its whole input through ONE task — fine on rows that are
    // bounded by construction (post-aggregation curves, dims, post-limit
    // top-k, |sources|/|labels|/|bins| tables), an OOM + serial
    // bottleneck on anything fact-sized. Every query allowed a global
    // window below must name its bound.
    val allowedGlobalWindow: Map[String, String] = Map(
      // per-feature statistics / BH-adjust ranks: |features| rows
      "hvg_mean_var" -> "|features| aggregate", "hvg_trend" -> "|features| aggregate",
      "de_markers" -> "|features| BH ranks", "de_wilcoxon" -> "|features| BH ranks",
      "kruskal_wallis" -> "|features| BH ranks", "trajectory_ols" -> "|features| BH ranks",
      "pseudotime_de" -> "|features| BH ranks", "enrichment_ora" -> "|terms| BH ranks",
      // binned Welch profile contrasts: |features|x|bins| rows
      "pattern_diff" -> "|features|x|bins| profile", "early_de" -> "|features|x|bins| profile",
      "condition_test" -> "|features|x|bins| profile", "diff_end" -> "|features| endpoint stats",
      "start_vs_end" -> "|features| contrast stats",
      // post-aggregation curves over bounded grids
      "survival_km" -> "day grid (retention-window rows)",
      "nelson_aalen" -> "day grid (retention-window rows — the survival_km dual)",
      "markov_attribution" -> "|channels| state-index rank (bounded chain states)",
      "barcode_ranks" -> "distinct (total,count) curve points",
      "abc_analysis" -> "per-part revenue aggregate (catalog-bounded)",
      "key_sequence_gaps" -> "bucketed gap summary (|buckets| rows)",
      // vocabulary-bounded rank tables (corpus-sublinear; cap at top-N
      // vocab at larger scale — documented in SURVEY §5)
      "zipf_fit" -> "vocab rank (sublinear)", "pmi_bigrams" -> "bigram vocab rank (df-cut)",
      // dedup_jaccard_prefix is not listed: it ranks its dictionary on
      // the driver from the collected (shingle, df) counts, no window
      "top_paths" -> "distinct session-path counts (post-agg top-k)",
      "cms_frequency" -> "post-limit top-100 rank (TakeOrdered feeds it)",
      "factor_by_size" -> "|levels| frequency rank",
      // |sources|-row allocation tables
      "proportional_allocation" -> "|sources| rows",
      "token_budget_alloc" -> "|sources| rows",
      // the PAV cum table is <=40 rows by construction (fixed bin count)
      "isotonic_calibration" -> "<=40-row bin cum table")
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (allowedGlobalWindow.contains(name)) Nil
      else {
        val globals = fn(spark, sf).queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
        }
        if (globals.isEmpty) Nil else Seq(name)
      }
    }
    assert(offenders.isEmpty,
      s"queries with a single-partition window not in the allowlist: ${offenders.mkString(", ")}")
  }

  test("every registry query analyzes against every testdata scale factor") {
    // Schema-drift guard: the r4 gate silently dropped 32 queries when a
    // regenerated events.parquet changed ts's encoding and analysis threw.
    // Analysis (no execution) per query per SF dir keeps this fast while
    // surfacing the real AnalysisException with the query's name attached.
    // sf0.001 is exercised by every other suite (and the quadratic sweep
    // above builds full physical plans there), so the correctness-gate SF
    // is what adds coverage. A handful of builders do bounded eager work
    // (quantile boundaries etc.) at construction, which is why this stays
    // off the larger bench SF.
    // gate SF dir from the env when set (the SparkSpecBase convention),
    // else the driver's default; CANCEL (not fail) on a machine without
    // the testdata so the suite stays portable
    val sfDirs = Seq(sys.env.getOrElse("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"))
      .filter(d => new java.io.File(d).isDirectory)
    assume(sfDirs.nonEmpty, "no testdata dirs found — skipping analysis sweep")
    val failures = for {
      dir <- sfDirs
      (name, fn) <- SparkEntry.queries.toSeq
      err <- (try { fn(spark, dir).queryExecution.analyzed; None }
              catch { case e: Throwable => Some(s"$name @ $dir: ${e.toString.linesIterator.next()}") })
    } yield err
    assert(failures.isEmpty, s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }
}
