package graft.tools

/** Plan QA for EVERY declared query: flags the plan shapes
  * that are scale bugs when unintentional — cartesian products,
  * single-partition exchanges (global sorts/windows), and
  * driver-surprising nested-loop joins — so a regression in any one
  * query's plan shows up as a diff in this report, not as a cluster
  * incident later. Declared exceptions (bounded by construction or
  * documented contracts) are listed per query below; [[Smoke]] runs the
  * audit on each query it executes and FAILS (exit 1) on any UNDECLARED
  * flag.
  *
  * Coverage boundary, stated honestly: the audit sees the RETURNED
  * frame's executed plan. Queries that localCheckpoint an intermediate
  * (the tiny-frame reuse discipline) or build a persisted artifact run
  * those upstream jobs during construction, and their plans start at a
  * LogicalRDD/artifact scan here — the upstream shape is pinned by each
  * operator's docstring + PlanSpec/Explain evidence, not by this audit.
  */
object PlanAudit {

  /** query -> flags that are DECLARED-OK, with the reason in the
    * operator's scaladoc. A flag here is a reviewed contract, not a
    * waiver: tightening one requires re-reviewing its docstring. */
  private val allowed: Map[String, Set[String]] = Map(
    // 1-row scalar frames broadcast/cross-joined into the plan (a
    // global ungrouped aggregate's final stage is single-partition by
    // definition, and its 1-row product joins back as a
    // BroadcastNestedLoopJoin — bounded by construction)
    "q_agg_ab_test" -> Set("SinglePartition"),
    "q_ml_eval_metrics" -> Set("SinglePartition"),
    // 1-row cells/wins/ties scalar frames crossed together; the AUC
    // pair sum is a <=97x97 broadcast theta-join of score-bucket
    // histograms (bounded by construction, see evalMetricsSql scaladoc)
    "q_ml_eval_metrics_sql" -> Set("SinglePartition", "NestedLoop"),
    "q_agg_histogram" -> Set("SinglePartition", "NestedLoop"),
    "q_agg_hll_merge" -> Set("SinglePartition", "NestedLoop"),
    "q_quality_constraint_audit" -> Set("SinglePartition"),
    "q_quality_profile" -> Set("SinglePartition"),
    // 1-row watermark ledger (documented sequential piece)
    "q_stream_late_drop" -> Set("SinglePartition"),
    // cumsum window over the bounded day domain + 1-row K readout
    // crossed back (the mann_kendall/theil_sen calendar discipline)
    "q_window_pettitt" -> Set("SinglePartition"),
    // graft.ops.Prefix offsets over the PRICE-bounded score-bucket
    // frame (theil_sen two-pass selection) + 12-row model / 1-row q̂
    // broadcast joins
    "q_ml_conformal_interval" -> Set("NestedLoop", "SinglePartition"),
    // ≤|months| completeness frame and three ≤k-row/1-row readout
    // frames crossed broadcast; rank windows partition by month
    "q_ml_friedman_test" -> Set("NestedLoop", "SinglePartition"),
    // three 1-row coincidence aggregates (n, D_o, D_e) crossed
    "q_quality_krippendorff_alpha" -> Set("NestedLoop", "SinglePartition"),
    // one global 1-row moment aggregate (the mcnemar shape)
    "q_ml_cochran_q" -> Set("SinglePartition"),
    // ≤100-bin frame crossed with its 1-row total (the brier shape)
    "q_ml_expected_calibration_error" ->
      Set("NestedLoop", "SinglePartition"),
    // two 1-row per-source moment frames crossed (the welch shape)
    "q_quality_tost_equivalence" -> Set("NestedLoop"),
    // calendar band join over the bounded day domain (0..7 lags) —
    // the mannKendall pair-frame discipline
    "q_window_ccf" -> Set("NestedLoop"),
    // bounded-day median rank + sign-change lag windows + 1-row
    // readout frames crossed broadcast
    "q_window_runs_test" -> Set("NestedLoop", "SinglePartition"),
    // 1-row edge total crossed into the bounded community frame; the
    // LPA rounds upstream are localCheckpointed (audit sees LogicalRDD)
    "q_graph_modularity" -> Set("NestedLoop", "SinglePartition"),
    // ≤100-bin ROC frame + 1-row totals (the gains_table shape)
    "q_ml_youden_j" -> Set("NestedLoop", "SinglePartition"),
    // two 1-row per-source moment frames crossed (the welch shape)
    "q_quality_hedges_g" -> Set("NestedLoop"),
    // ≤9-cell confusion margins crossed with three 1-row readouts
    "q_quality_weighted_kappa" -> Set("NestedLoop", "SinglePartition"),
    // source×vocab densify grid (catalog-bounded) + 1-row source count
    "q_text_burrows_delta" -> Set("NestedLoop", "SinglePartition"),
    // bounded-day index window ×4 block sizes + 4-point slope frame
    "q_window_hurst" -> Set("NestedLoop", "SinglePartition"),
    // |sources|-row moment frame crossed with two 1-row aggregates
    "q_quality_anova_oneway" -> Set("NestedLoop", "SinglePartition"),
    "q_quality_levene_bf" -> Set("NestedLoop", "SinglePartition"),
    // two 1-row per-source moment frames crossed (the welch shape)
    "q_quality_mmd_poly" -> Set("NestedLoop"),
    // bounded-day lag windows + 1-row HAC readout crossed broadcast
    "q_window_newey_west" -> Set("NestedLoop", "SinglePartition"),
    // the q_window_seasonal centered-7 windows + 1-row variance frame
    "q_window_stl_strength" -> Set("SinglePartition"),
    // bounded-day overlapping-sum windows ×3 horizons + 1-row base
    // variance crossed broadcast
    "q_window_variance_ratio" -> Set("NestedLoop", "SinglePartition"),
    // four 1-row pair-count aggregates crossed (contingency margins);
    // the LPA rounds upstream are localCheckpointed
    "q_graph_lpa_stability" -> Set("NestedLoop", "SinglePartition"),
    // bounded-day rank windows + three 1-row readout frames crossed
    "q_window_kruskal_dow" -> Set("NestedLoop", "SinglePartition"),
    // the acf lag-window shape + 1-row totals crossed broadcast
    "q_window_ljung_box" -> Set("NestedLoop", "SinglePartition"),
    // bounded length-histogram cumsum + 1-row totals (mann_whitney)
    "q_quality_cliff_delta" -> Set("NestedLoop", "SinglePartition"),
    // candidate-pair frame crossed with the broadcast 8-row threshold
    // dim (the pair frame itself is the checkpointed ngramJaccard)
    "q_dedup_threshold_curve" -> Set("NestedLoop"),
    // broadcast 9-row theta dim range-joined against the checkpointed
    // image pair frame — the same bounded-dim cross as the text curve
    "q_dedup_image_threshold_curve" -> Set("NestedLoop"),
    // cumsum + argmin windows over the ≤100-row price-bin frame with
    // its 1-row totals crossed broadcast (the quantile_portable shape)
    "q_ml_gains_table" -> Set("NestedLoop", "SinglePartition"),
    "q_ml_best_split" -> Set("NestedLoop", "SinglePartition"),
    "q_ml_brier_decomposition" -> Set("NestedLoop", "SinglePartition"),
    // 1-row corpus totals / bounded config dims joined non-equi
    "q_text_bm25_topk" -> Set("SinglePartition", "NestedLoop"),
    // day-spine generation: 1-row (min,max) date frame crossed to the
    // bounded user dim before the dense-calendar explode
    "q_window_moving_avg" -> Set("SinglePartition", "NestedLoop"),
    "q_window_resample_gapfill" -> Set("SinglePartition", "NestedLoop"),
    "q_agg_theta_sets" -> Set("SinglePartition", "NestedLoop"),
    // portable sketch twins: 1-row sketch summaries cross-joined
    // (register table is 256 rows, samples are <= 64 rows)
    "q_agg_hll_portable" -> Set("SinglePartition", "NestedLoop"),
    "q_agg_theta_portable" -> Set("SinglePartition", "NestedLoop"),
    // cumulative window over the <=125-row bin histogram + 3-row
    // target-rank theta-join
    "q_agg_quantile_portable" -> Set("SinglePartition", "NestedLoop"),
    "q_ml_class_weights" -> Set("SinglePartition", "NestedLoop"),
    // 20-row mixture plan crossJoined with its 1-row totals aggregate
    "q_ml_epoch_mix" -> Set("SinglePartition", "NestedLoop"),
    // single 1-row confusion-cell aggregate (kappa readout)
    "q_quality_label_agreement" -> Set("SinglePartition"),
    "q_quality_benford" -> Set("SinglePartition", "NestedLoop"),
    "q_quality_psi_drift" -> Set("SinglePartition", "NestedLoop"),
    "q_text_ppl_bucket" -> Set("SinglePartition", "NestedLoop"),
    "q_text_tfidf" -> Set("SinglePartition", "NestedLoop"),
    "q_text_unigram_logprob" -> Set("SinglePartition", "NestedLoop"),
    "q_text_bigram_pmi" -> Set("SinglePartition", "NestedLoop"),
    // corpus frame crossJoined with broadcast 1-row totals (n_uni /
    // n_pair; vocab-size V) — the unigram_logprob / bigram_pmi shape
    "q_text_skipgram_ppmi" -> Set("SinglePartition", "NestedLoop"),
    "q_text_bigram_lm_nll" -> Set("SinglePartition", "NestedLoop"),
    // candidates crossJoined with the 1-row broadcast PRF vector;
    // SinglePartition = the two bounded rank merges (global top-20
    // two-phase heap + ≤40-row fusion frame)
    "q_search_hybrid_rrf" -> Set("SinglePartition", "NestedLoop"),
    // corpus x BROADCAST 10-query frame with a label-inequality theta
    // predicate — the adjudicated topkBruteForce shape (bounded build side)
    "q_simsearch_hard_negatives" -> Set("NestedLoop"),
    // corpus x BROADCAST 10-query quantized frame, self-pair inequality
    // (the topkBruteForce shape on the int8 index)
    "q_simsearch_sq8" -> Set("NestedLoop"),
    // corpus x BROADCAST 100-row audited slice, self-pair inequality
    "q_simsearch_label_noise" -> Set("NestedLoop"),
    // |labels|-row centroid frame theta-self-joined (label_a < label_b):
    // k² pairs over a bounded k, corpus touched once upstream
    "q_simsearch_centroid_sim" -> Set("NestedLoop"),
    // |sources|-row volume frame: rank window + crossJoin with its
    // 1-row (n, Σx) aggregate — both bounded by domain cardinality
    "q_quality_source_gini" -> Set("SinglePartition", "NestedLoop"),
    // bounded contingency table (|lang|x|source|) crossJoined with its
    // 1-row N frame; final result = three 1-row frames crossJoined
    "q_quality_mutual_info" -> Set("SinglePartition", "NestedLoop"),
    // same bounded contingency table, one 1-row (N, r, k) frame
    "q_quality_cramers_v" -> Set("SinglePartition", "NestedLoop"),
    // cumulative F over the BOUNDED n_chars value domain (doc length
    // cap) + its 1-row (n0, n1) totals frame — the winsorize rationale
    "q_quality_ks_test" -> Set("SinglePartition", "NestedLoop"),
    // running sum/min over the BOUNDED day domain (|days| rows after
    // the partial-agg'd groupBy) + its 1-row (n, S) totals frame
    "q_window_cusum" -> Set("SinglePartition", "NestedLoop"),
    // bounded |days|² pairwise self-join (calendar-sized, not
    // corpus-sized — the cusum rationale squared) + three 1-row
    // (S / ties / n) frames crossJoined
    "q_window_mann_kendall" -> Set("SinglePartition", "NestedLoop"),
    // the same bounded |days|² pair frame, collapsed to a slope-value
    // histogram; the only keyless window is the graft.ops.Prefix
    // offsets window over the ≤2·√max|m| bucket frame (the per-value
    // rank is partitioned by bucket)
    "q_agg_theil_sen" -> Set("SinglePartition", "NestedLoop"),
    // rank window over the 101-row TakeOrderedAndProject cut + its
    // broadcast 1-row x_(k+1) pivot frame (the dsir pattern)
    "q_agg_hill_tail" -> Set("SinglePartition", "NestedLoop"),
    // cumulative-negatives window over the BOUNDED score domain
    // (≤97 cells after the one corpus hash aggregation — the ks_test
    // cumulative-histogram shape)
    "q_ml_auc_rank" -> Set("SinglePartition"),
    // the ndcg shape: cutoff fan-out joins a 3-row k frame to the
    // 20-row ranked cut; cumulative-hit window over those 20 rows;
    // 1-row R and first-hit frames crossJoined broadcast
    "q_search_map_mrr" -> Set("SinglePartition", "NestedLoop"),
    // cumulative-rank window over the BOUNDED length-domain histogram
    // (the ks_test shape), final 1-row aggregate
    "q_quality_mann_whitney" -> Set("SinglePartition"),
    // same bounded histogram crossJoined with its 1-row (n0, n1)
    // totals frame (the mutualInfo shape)
    "q_quality_js_divergence" -> Set("SinglePartition", "NestedLoop"),
    // 1-row pooled-moments scalar frame (θ, x̄, vrr) crossJoined
    // broadcast onto the 2-row per-arm frame
    "q_ml_cuped" -> Set("SinglePartition", "NestedLoop"),
    // 3-row MDE fan-out crossJoined with the 1-row moment frame
    "q_ml_power_analysis" -> Set("SinglePartition", "NestedLoop"),
    // round-14 eval stats (EvalOps): 1-row scalar frames (mean-rating
    // norm, vocab totals, single-cell readouts) cross-joined, plus
    // bounded-domain pieces — a 3-row k-dim theta join (pass@k), the
    // ≤100-bin interval self-join and its domain windows (isotonic),
    // the m≤31-token rank/step-up windows (fdr_bh) — all bounded by
    // construction, see each operator's scaladoc
    "q_ml_bradley_terry" -> Set("SinglePartition", "NestedLoop"),
    "q_ml_pass_at_k" -> Set("NestedLoop"),
    "q_ml_mcnemar" -> Set("SinglePartition"),
    "q_ml_fdr_bh" -> Set("SinglePartition", "NestedLoop"),
    "q_ml_isotonic_calibration" -> Set("SinglePartition", "NestedLoop"),
    // round-14 LM stats (LmOps): 1-row scalar frames (corpus token
    // total, distinct-trigram count) cross-joined; good_turing's ≤11-row
    // r-dim left-joins the bounded freq-of-freqs table — all bounded by
    // construction, see the operator scaladocs
    "q_text_good_turing" -> Set("SinglePartition", "NestedLoop"),
    "q_text_kneser_ney" -> Set("SinglePartition", "NestedLoop"),
    // risk-set cumsum + log-survival cumsum over the BOUNDED duration
    // domain (calendar-sized, the cusum rationale); 1-row horizon and
    // total frames crossJoined broadcast
    "q_ml_kaplan_meier" -> Set("SinglePartition", "NestedLoop"),
    // vocab²-bounded bigram table crossJoined with its broadcast
    // 1-row total; top-20 heap
    "q_text_bigram_llr" -> Set("SinglePartition", "NestedLoop"),
    // 3-row covariate frame from one conditional aggregation
    "q_ml_propensity_balance" -> Set("SinglePartition", "NestedLoop"),
    // the kaplan_meier shape: risk-set + hazard cumsums over the
    // BOUNDED duration domain, 1-row horizon/total frames broadcast
    "q_ml_nelson_aalen" -> Set("SinglePartition", "NestedLoop"),
    // corpus row terms crossJoined with the broadcast 1-row (N, S)
    // frame; three 1-row sums crossJoined at the readout
    "q_quality_theil_index" -> Set("SinglePartition", "NestedLoop"),
    // five OLS moments over the BOUNDED |sources| point frame
    "q_text_heaps_fit" -> Set("SinglePartition"),
    // bounded |lang|×2 contingency cells; 1-row naive frame
    // crossJoined with the 1-row stratified aggregate
    "q_ml_ate_strata" -> Set("SinglePartition", "NestedLoop"),
    // vocabulary-sized token frame crossJoined with its broadcast
    // 1-row (n0, n1) totals; top-20 is a TakeOrdered heap
    "q_text_keyness" -> Set("SinglePartition", "NestedLoop"),
    // vocabulary-sized dispersion frame crossJoined with the 1-row
    // doc-count frame; top-20 heap
    "q_text_burstiness" -> Set("SinglePartition", "NestedLoop"),
    // two rank windows over the BOUNDED day domain (the cusum
    // rationale) + the 1-row eleven-moment aggregate
    "q_window_spearman" -> Set("SinglePartition"),
    // 1-row moment frame crossJoined with the 1-row node count over
    // the vocabulary-sized basket edge list
    "q_graph_assortativity" -> Set("SinglePartition", "NestedLoop"),
    // bounded day domain (the cusum rationale): the keyless centered
    // 7-row window runs over ≤|days| rows after a partial-agg'd groupBy
    "q_window_seasonal" -> Set("SinglePartition", "NestedLoop"),
    // price-ascending sweep over the BOUNDED price domain (1000
    // values) after the dominance-collapsing groupBy
    "q_sort_skyline" -> Set("SinglePartition"),
    // running max over the BOUNDED day domain (the cusum rationale)
    "q_window_drawdown" -> Set("SinglePartition"),
    // 7 lags over the BOUNDED day domain + its 1-row (n, S) frame
    "q_window_acf" -> Set("SinglePartition", "NestedLoop"),
    // two 1-row per-source moment frames crossJoined
    "q_quality_welch_ttest" -> Set("NestedLoop"),
    // rank window over the VOCABULARY (type count, ~dozens of rows
    // after the partial-agg'd unigram groupBy)
    "q_text_zipf_fit" -> Set("SinglePartition"),
    "q_ml_temperature_mix" -> Set("SinglePartition", "NestedLoop"),
    // k-strata moment frame crossJoined with its 1-row Σs aggregate
    "q_ml_neyman_sample" -> Set("SinglePartition", "NestedLoop"),
    // 1-row (max, total) bounds frame broadcast-crossed in; the
    // graft.ops.Prefix offsets window over the 64-row fixed-range frame
    "q_ml_pps_systematic_sample" -> Set("SinglePartition", "NestedLoop"),
    // 100-replicate-mean rank window + two 1-row frames crossJoined —
    // the corpus-sized fan-out collapses map-side via partial agg
    "q_ml_bootstrap_ci" -> Set("SinglePartition", "NestedLoop"),
    // 1-row global-prior frame crossJoined broadcast (the bootstrap_ci
    // shape); the category frame itself is a broadcast hash join
    "q_ml_target_encode" -> Set("SinglePartition", "NestedLoop"),
    // cutoff fan-out joins a 3-row k frame to <=20-row ranked frames
    // (inequality -> broadcast nested loop); the ideal-rank window
    // runs over exactly 20 rows after TakeOrdered (the dsir pattern)
    "q_search_ndcg" -> Set("SinglePartition", "NestedLoop"),
    // 1-row vocab-totals frame crossJoined broadcast; rank window runs
    // over the 100 TakeOrderedAndProject survivors only
    "q_ml_dsir_select" -> Set("SinglePartition", "NestedLoop"),
    "q_ml_domain_mix" -> Set("SinglePartition", "NestedLoop"),
    "q_sql_scalar_subquery" -> Set("SinglePartition"),
    // global one-row aggregates (promo share / bracket revenue): the
    // ungrouped final stage is 1 row by construction
    "q_sql_tpch_q6" -> Set("SinglePartition"),
    "q_sql_tpch_q14" -> Set("SinglePartition"),
    "q_sql_tpch_q19" -> Set("SinglePartition"),
    // 1-row MAX-revenue frame equi-joined back (Q15's scalar subquery)
    "q_sql_tpch_q15" -> Set("SinglePartition"),
    // global 1-row final sum (Q17's yearly-average readout)
    "q_sql_tpch_q17" -> Set("SinglePartition"),
    // 1-row (count, Σbalance) frame cross-joined as broadcast (Q22's
    // above-average-balance scalar, bounded by construction)
    "q_sql_tpch_q22" -> Set("SinglePartition", "NestedLoop"),
    // 1-row (Σvalue, count) frame cross-joined as broadcast (Q11's
    // above-mean-value scalar, bounded by construction)
    "q_sql_tpch_q11" -> Set("SinglePartition", "NestedLoop"),
    // declared tiny cross join / documented global orders
    "q_join_cross" -> Set("Cartesian", "NestedLoop"),
    "q_sort_topk_global_custom" -> Set("SinglePartition"),
    // keyless TopKPerKey: partial per-partition heaps -> one final
    // partition over <= partitions x k partial rows, not the data
    "q_ml_weighted_sample" -> Set("SinglePartition"),
    // graft.ops.Prefix offsets window over the 64-row range-totals
    // frame (the reviewed bounded-frame window) in both
    "q_ml_global_shuffle" -> Set("SinglePartition"),
    "q_ml_pack_sequences" -> Set("SinglePartition"),
    // ANN/HNSW bounded-beam expansions (constant-size frames)
    "q_simsearch_topk" -> Set("Cartesian", "NestedLoop"),
    // k-row centroid table collapsed to a 1-row array frame, broadcast
    // into each Lloyd assign pass (k x dim longs by construction)
    "q_simsearch_kmeans_portable" -> Set("SinglePartition", "NestedLoop"),
    // same Lloyd core (shared portableKmeansCore), same 1-row
    // broadcast centroid frame; the top-CAP itself is TopKPerKeyExec
    "q_ml_cluster_balanced_sample" -> Set("SinglePartition", "NestedLoop"),
    "q_simsearch_topk_pq" -> Set("NestedLoop"),
    "q_simsearch_topk_hnsw" -> Set("SinglePartition", "NestedLoop")
  ).withDefaultValue(Set.empty)

  /** flag -> the plan text that raises it. */
  private val probes: Map[String, String] = Map(
    "Cartesian" -> "CartesianProduct",
    "NestedLoop" -> "BroadcastNestedLoopJoin",
    "SinglePartition" -> "Exchange SinglePartition")

  /** The flags `plan` raises that `name` has not declared. */
  def undeclared(name: String, plan: String): Set[String] =
    probes.filter(p => plan.contains(p._2)).keySet -- allowed(name)
}
