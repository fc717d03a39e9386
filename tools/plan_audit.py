"""Physical-plan audit over the whole workload: for every registered
query, record join strategies, exchange (shuffle) count, Python stages,
and whole-stage-codegen presence, as a markdown table.

Usage: python tools/plan_audit.py [sf_dir] > docs/PLAN_AUDIT.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, "/root/repo")

from dbt_incremental_ci_spark import workload
from dbt_incremental_ci_spark.session import get_spark

JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

# Why each single-partition exchange (the `WindowExec: No Partition
# Defined` warning class) is bounded — the frame that funnels into one
# task is sample-, partition-count-, or output-sized, never data-sized.
# Queries with a 1-part exchange and no entry here print UNEXPLAINED.
ONE_PART_NOTES = {
    # round-9 additions (q382+)
    # round-10 additions
    "q127_setsim_join": "Catalyst-injected runtime Bloom-filter builds (InjectRuntimeFilter, might_contain subqueries) over the candidate id projections feeding the size re-attach joins — fixed-size Bloom register merges (O(1) state per task), not data-sized funnels",
    "q389_snapshot_drift": "count>=5 vocab-bounded top-50 rank window + 1-row vstats/tv scalar reduces",
    "q390_quality_retention": "two-phase rank offsets (O(partitions) rows) + 10-row decile cumulative window + 1-row doc-count/token-total reduces",
    "q382_lm_doc_quality": "1-row LM normalizer (bigram-type count) broadcast into the probability table",
    "q383_split_leakage": "1-row total-pairs scalar reduce broadcast into the 6-cell split matrix",
    "q384_pca2_explained": "power-iteration model algebra: 1-row norm/Rayleigh/trace reduces + 16-row eigenvector frames (all model-sized, 16x16 covariance)",
    "q387_mixture_weights": "1-row normalizer (token total + integer-lifted sqrt total) over the source-bounded frame",
    # round-7 additions (q310+)
    # round-8 additions (q357+, second batch)
    "q357_simplified_silhouette": "centroid-fit model frame (classes x dims rows) + per-class output cells (class-bounded)",
    "q358_rfm_segments": "two-phase rank offsets: O(partitions) rows x3 + 1-row last-ts / user-count scalar reduces; output <= 125 segment cells",
    "q359_session_overlap": "hour-of-day census: 24-cell frame",
    "q360_dp_clipped_mean": "per-source cells: source-bounded frame",
    "q361_image_ahash": "popcount census: <=65-cell frame over the fixed audit slice",
    "q362_video_keyframe": "per-media argmax rows on the fixed audit slice (<=200)",
    "q363_media_shard_plan": "modality rollup: 3-row frame",
    "q364_term_burstiness": "vocab-bounded (df>=20) rank window + 1-row n_docs reduce",
    # round-8 additions (q365+, third batch)
    "q365_cdc_chunk_dedup": "1-row dedup census + 1-row doc count over the chunk-hash frame (map-side partials)",
    "q366_kneser_ney_bigram": "bigram-type (vocab-bounded) rank window + 1-row type-count scalar",
    "q367_fixed_effects": "entity (25) / period (months) mean frames + 1-row moment and count reduces",
    "q368_competing_risks": "life table: duration-bounded frame windows (q228 class)",
    "q369_power_iter_eigen": "covariance matrix and iteration vectors: 256-/16-row model-sized frames + 1-row norms/Rayleigh scalars",
    "q370_audio_autocorr": "per-media argmax rows on the fixed audit slice (<=500)",
    "q371_chunk_contamination": "source-pair census: <=C(|sources|,2) cells",
    "q372_iv_wald": "2-cell instrument reduce + 1-row Wald ratio",
    "q373_diff_in_diff": "1-row ts-bounds scalar + 4-cell DiD reduce",
    "q374_geometric_median": "Weiszfeld estimate frames: k x 16 model-sized, per-iteration broadcast",
    "q375_fd_histogram": "exact-quantile spine probes (O(partitions) offsets) + 1-row width/min scalars; output O(cbrt(n)) bins",
    "q376_bloom_fpr_curve": "per-m 1-row bits-set and probe-rate reduces over the <=m-row filter frames (x3 constant fan-out)",
    "q377_loso_rank_stability": "vocab-bounded full-top rank window + 1-row-per-source overlap census",
    "q378_session_gap_curve": "3-row gap census over the per-(gap,user,session) frame",
    "q379_fightin_words": "vocab-bounded z frame + two top-15 rank windows + 1-row totals scalar",
    "q380_dedup_transitivity": "1-row pair count + 1-row wedge/closure reduce over the degree-bounded wedge frame",
    "q381_qini_uplift": "two-phase rank offsets (O(partitions)) + 10-row decile cumulative window + 1-row user count",
    # round-8 additions (q339+)
    "q339_multimodal_negative_qa": "two 1-row modality rollups (image + audio skip/survivor counts) over the fixed audit slice",
    "q340_temperature_scaling": "8-row T-grid rank window (the corpus reduced to <=200 cells upstream, map-side partials)",
    "q341_confident_learning": "1-row threshold reduce over the <=200 (score x label) cell frame (map-side partials)",
    "q343_fairness_audit": "1-row overall-rates reduce over the segment-sized (5) count frame",
    "q348_skew_census": "freq-of-freq cumsum window + 1-row totals/quantile reduces over the distinct-group-size-bounded frame (|sizes| <= max group size, never key count)",
    "q350_weighted_kappa": "1-row confusion + 1-row marginal-product reduces over the 5x5 ordinal cell frame",
    "q338_jackknife_ratio_se": "1-row totals + jackknife-moment reduce over the nation-sized (25) cell frame",
    "q336_multimodal_qa": "1-row QA rollup over the fixed audit-slice (doc_id<200) modality frames",
    "q337_sprt_crossing": "1-row crossing-count reduce over the per-user first-crossing frame + 1-row distinct-user count (map-side partials)",
    "q314_cochran_armitage": "1-row trend reduce over the score-sized (<=50) count frame (map-side partials)",
    "q315_mantel_haenszel": "1-row MH reduce over the stratum-sized (5) 2x2 cell frame",
    "q316_ipf_raking": "margin masses + 1-row totals over the category-bounded (source x lang) cell frame, repeated per unrolled IPF scaling",
    "q317_chao1_richness": "1-row freq-of-freq reduce over the vocab-sized type-count frame (map-side partials)",
    "q318_quantile_reg_grid": "grouping-free 42-cell loss aggregate (round-11 columnar rewrite): per-task partial rows of 42 decimal sums merge into ONE 1-row final — O(partitions) rows, never data-sized",
    "q319_loso_source_value": "per-source/per-lang/1-row reduces over the (source x lang)-bounded cell frame",
    "q320_cross_source_dups": "1-row pair total over the source^2-bounded duplication-matrix cells",
    "q321_brier_decomposition": "1-row component reduces over the fixed 10-bin forecast grid",
    "q323_ams_f2_joinsize": "1-row register reduce (15 mergeable sign-sums, map-side partials) + 1-row exact-F2 reduce over the per-key count frame",
    "q324_eb_rate_shrinkage": "1-row method-of-moments fit over the brand-sized (25) rate frame",
    "q325_hill_tail_index": "two-phase rank offset frame (O(partitions) rows) + 1-row x_k min + 1-row Hill reduce over the fixed k=500 slice",
    "q326_wasserstein_drift": "cumsum/lead windows + 1-row totals over the 2-dp value grid (<=10^4 cells)",
    "q328_segmented_trend": "month-frame row_number + 1-row month max + best-breakpoint rank over the months^2-bounded candidate frame",
    "q329_overdispersion": "1-row moment reduce over the per-user count frame (map-side partials - O(tasks) rows funnel)",
    "q331_dedup_degree_histogram": "degree histogram + 1-row doc/matched totals over the banded-pair-bounded degree frame",
    "q332_filter_waterfall": "three 1-row stage reduces + 1-row token totals (map-side partials)",
    "q307_dedup_tokens_by_source": "source-sized (20-row) report sort",
    "q308_hellinger_distance": "1-row vocabulary-total + 1-row BC reduce over the vocab-sized count frame",
    "q309_truncation_impact": "3-row limit-spine report (constant fan-out) + sort",
    "q301_watermark_lateness": "ORDER BY over the event-type-sized (5-row) lateness report",
    "q302_design_effect": "1-row DEFF reduce over the nation-sized stratum frame",
    "q303_abc_classification": "two-phase rank / cumsum offset frames (O(partitions) rows) + 1-row revenue total + 3-row class report sort",
    "q304_cohort_ltv": "cohort-month-sized size frame + calendar-bounded report sort",
    "q305_ship_lag_sla": "priority-sized (5-row) quantile/SLA frames + exact_quantiles_by_key spine probes",
    "q306_metric_trends": "event-type-sized (5-row) trend reduce + report sort",
    "q293_cem_att": "1-row ATT reduce over the strata-sized matched frame + 1-row treated total",
    "q294_dow_hour_profile": "1-row grand-total reduce broadcast back over the 7x24 count frame",
    "q295_dedup_pair_report": "top-50 LIMIT over the banded candidate-pair frame (TakeOrdered)",
    "q296_group_conformal_coverage": "group-sized (3 returnflags) threshold frame broadcast + per-group coverage reduce",
    "q297_rich_club": "constant k-spine (4 rows) + per-k scalar density reduces over the degree-filtered frame",
    "q298_interevent_burstiness": "1-row corpus rollup of per-user burstiness (user frame is key-sized)",
    "q299_twap": "ORDER BY over the event-type-sized (5-row) TWAP frame",
    "q300_waterfill_mix": "source-cardinality (metadata-sized) window cumsum + 1-row level/remainder scalars — the waterfilling frame never scales with the corpus",
    "q264_kruskal_wallis": "1-row H reduce + tie-sum reduce + global_cumsum partition-offset frame (stattests.kruskal_wallis)",
    "q265_anova_f": "k-group (5) term frame reduced to 1 row (stattests.anova_oneway)",
    "q266_levene_bf": "k-group term reduce + 5-row group-median frame (stattests.anova_oneway on |x-med|)",
    "q267_effect_sizes": "1-row moments+2U reduce + cumsum offsets (stattests.effect_sizes)",
    "q268_spearman": "two midrank cumsum offset frames (O(partitions) rows each) + 1-row correlation reduce (stattests.spearman_rho)",
    "q273_ind_discovery": "8 schema-sized candidate checks, each a 1-row (n_distinct, n_violations) scalar reduce",
    "q274_key_discovery": "5 candidate checks, each a 1-row (n_rows, n_distinct) scalar reduce",
    "q278_theil_sen": "two-phase row_number offset frames (O(partitions) rows) + middle-order-stat picks + 1-row slope/intercept/count reduces; pair frame is days^2-bounded",
    "q279_kendall_tau": "1-row concordance reduce + two tie-margin reduces + 1-row day count (all scalar)",
    "q280_rec_coverage": "1-row coverage + 1-row novelty reduces over the rec-list frame",
    "q281_popularity_hitrate": "1-row hit-rate reduces + top-20 popularity limit (20 rows)",
    "q284_gini_gain": "three per-feature 1-row (n, npos, term-sum) reduces (feature-value frames are category-sized)",
    "q285_time_to_convert": "exact_quantiles: O(#quantiles) spine probes + cumsum offset frames (ranks.exact_quantiles)",
    "q286_key_skew_audit": "1-row audit reduce + exact_quantiles median spine over the key-count frame",
    "q287_entropy_rate": "two 1-row ln-term reduces over the states^2 transition frame",
    "q289_join_size_estimate": "1-row (n_keys, n_rows, sum c^2, max) scalar reduce",
    "q291_hll_accuracy_curve": "three register reduces (<=256 registers each) + exact-distinct scalar per m (hll.hll_cardinality)",
    "q201_categorical_drift": "category-frame totals: 1-row reduce broadcast back (drift.categorical_drift)",
    "q207_js_divergence": "category-sized divergence terms reduce to 1 row (drift.js_divergence)",
    "q208_mutual_information": "margins/total windows + final reduce run over the |X|x|Y| contingency frame (profiling.mutual_information)",
    "q209_decile_lift": "global ntile = one total-order sort (eval frames; docstring bounds it and points to ranks.py two-phase for corpus scale) + O(n_tiles) cumulative pass",
    "q211_zone_pruning": "single-row conditional-match aggregate (<=64 predicate counters) + zone-sized report join (layout.pruning_report)",
    "q212_ips_eval": "single-row IPS reduce (decimal term sums, evalmetrics.ips_offline_eval)",
    "q216_ngram_novelty": "three 1-row gramset-count reduces (decontam.ngram_novelty)",
    "q219_bootstrap_ci": "per-group B-row resample-mean windows + group-keyed CI reduce (B=40, sampling.poisson_bootstrap_ci)",
    "q221_lsh_banding_eval": "four 1-row QA count reduces over audit-slice-bounded pair frames (mhsketch.lsh_banding_eval)",
    "q222_hits": "per-iteration max-normalizer: 1-row reduce broadcast back (hits.py)",
    "q223_dataset_card": "three 1-row report reduces (corpus core + two category-cardinality top-share frames, datasetcard.py)",
    "q224_krippendorff_alpha": "coincidence-matrix reduces: |categories|^2-sized frames to 1 row (evalmetrics.krippendorff_alpha_nominal)",
    "q225_quantile_normalize": "global reference rank = one total order (docstring points to ranks.py two-phase at corpus scale) + n_ref scalar",
    "q227_cluster_size_profile": "cluster-size histogram: component-cardinality frames + 1-row totals broadcast",
    "q226_split_leakage": "leak totals: 1-row reduce broadcast onto the fold-cardinality report (featurehygiene.split_leakage_audit)",
    "q217_feature_hash_stats": "single-row bucket-load summary over the <=n_buckets frame (featurehygiene.feature_hash_stats)",
    "q202_skyline": "bucket prefix-max window: O(buckets) rows (skyline.py)",
    "q196_moments_profile": "three 1-row decimal power-sum reduces (profiling.moments_profile)",
    "q194_histogram_quantiles": "cumulative bin pass + spine: O(bins)=512 rows, histsketch.py",
    "q128_containment_join": "optimizer-injected runtime bloom_filter_agg merges (bounded sketch state, 1MB/8MB caps) on the set-reduction rep keys — not data-sized",
    "q185_hll_setops": "three 1-row HLL estimate reduces over <=m register rows each, hll.py",
    "q186_benford_audit": "digit-total reduce: 1 row over a 9-row frame, benford.py",
    "q187_woe_iv": "class-total reduce: 1 row over #bins rows, woe.py",
    "q189_hll_cube": "year-level rollup groupBy([]): <=m register rows into one group, hll.py",
    "q191_fd_discovery": "per-candidate single-row verdict reduces (3 candidates), profiling.fd_check",
    "q42_sequence_packing": "global_cumsum offsets: one row per range bucket (O(partitions)), packing.py",
    "q118_dsir_selection": "two-phase rank: per-bucket boundary rows only (O(partitions)), dsir.py:150",
    "q130_weighted_sample": "WOR final rank runs after limit(n) — frame is n rows, sampling.py:327+",
    "q136_ks_drift": "nested cumsum bucket offsets: O(partitions) rows per side, drift.py/packing.py",
    "q103_epoch_shuffle": "epoch rank second phase over per-bucket boundaries (O(partitions))",
    "q120_length_batches": "batch-id prefix over per-bucket totals (O(partitions)), packing pattern",
    "q77_equidepth_bins": "bin edges: O(bins) quantile rows",
    "q63_histogram": "bin spine: O(bins) rows",
    "q145_equi_width_histogram": "bin spine: O(bins) rows, profiling.py",
    "q46_quantiles": "exact percentile agg: single 1-row reduce (scalar result)",
    "q49_approx_quantiles": "sketch merge: one row of digest state",
    "q72_regression": "global corr/slope agg: 1-row reduce",
    "q135_psi_drift": "per-bin PSI terms: O(bins) rows reduced to 1",
    "q121_robust_outliers": "median/MAD scalars: O(1) rows broadcast back",
    "q64_zscore_normalize": "global mean/std scalars: 1-row agg broadcast back",
    "q139_chi_square": "vocabulary-sized contingency totals",
    "q138_pmi_collocations": "vocabulary-sized marginals",
    "q123_bpe_merges": "limit(1) argmax per merge round",
    "q113_column_profile": "one profile row per column (O(columns))",
    "q137_snapshot_diff": "summary counts: O(1) rows",
    "q144_markov_transitions": "state-pair matrix: O(|states|^2) rows",
    "q96_keyset_pagination": "TakeOrderedAndProject merges page_size rows/partition",
    "q94_pagination": "TakeOrderedAndProject merges page-sized rows",
    "q24_recursive_hierarchy": "log-depth ancestor doubling (recursion.hierarchy_walk): 4 broadcast self-joins of hierarchy-sized ancestor arrays",
    "q146_bfs_levels": "frontier-sized level frames; union'd result",
    "q06_global_kpis": "global KPI agg: 1-row reduce",
    "q11_monthly_trend": "lag over per-month aggregates: O(#months) frame",
    "q13_percent_rank": "two-phase rank (ranks.py): O(partitions) offsets + 1-row count; no data-sized window",
    "q15_nation_revenue_share": "grand total: 1-row agg broadcast back (W7 pattern)",
    "q20_region_vs_global": "grand total: 1-row agg broadcast back (W7 pattern)",
    "q23_union_kpis": "three global KPI aggs: 1-row reduces",
    "q59_moving_avg": "moving avg over per-day aggregates: O(#days) frame",
    "q62_tfidf_top_terms": "N-docs scalar for idf: 1-row reduce",
    "q69_heavy_hitters": "final top-k merge: k rows",
    "q79_funnel": "per-stage conversion totals: O(#stages) rows",
    "q87_range_frames": "range frames over per-day aggregates: O(#days) frame",
    "q101_incremental_dedup": "bloom_filter_agg buffer merge: fixed 8MB bitset per agg, data-size-independent",
    "q104_unigram_ppl_filter": "corpus-total scalar for unigram LM: 1-row reduce",
    "q106_curation_v2": "global quantile/scalar reduces: 1-row each",
    "q117_bm25_topk": "corpus stats (N, avgdl): 1-row reduce",
    "q142_fk_audit": "per-relationship audit counts: O(#relationships) rows",
    "q147_winnowing_overlap": "fingerprint df-cap agg: vocabulary-sized reduce",
    "q148_bigram_lm_score": "corpus-total scalar for interpolation: 1-row reduce",
    "q151_pr_curve": "O(bins) spine window + 1-row totals (evalmetrics.py)",
    "q152_cohens_kappa": "single 2x2 contingency reduce: 1 row",
    "q153_token_budget_mix": "two-phase cumsum offsets: O(partitions) + O(#sources) rows",
    "q154_sq8_quantization": "per-dim bounds: DIM-row reduce broadcast back",
    "q155_semantic_decontam": "eval-side broadcast build: bounded eval set",
    "q102_domain_cap": "two-phase rank offsets: O(partitions) + O(#domains) rows (sampling.per_category_cap; rendered count varies with lazy-checkpoint materialization state)",
    "q164_neyman_sample": "1-row allocation total cross-joined back (sampling.neyman_stratified_sample)",
    "q165_roc_auc": "cumsum offsets O(partitions) + 1-row AUC scalar (evalmetrics.roc_auc)",
    "q166_count_anomaly": "per-key stats join: keys-sized frame (timeseries.count_anomaly_zscore)",
    "q167_agg_ivm": "batch-sized delta aggregate: O(touched groups) rows (incremental/ivm.py)",
    "q168_ab_test": "1-row pivot + z statistic: single scalar reduce (evalmetrics.two_proportion_ztest)",
    "q171_hll_vocab": "register reduce: <= m (128) rows + 1-row estimator (hll.py)",
    "q172_calibration": "O(bins) spine + 1-row total (evalmetrics.calibration_bins)",
    "q173_funnel": "len(steps)-row rate frame (patterns.funnel_counts)",
    "q174_hll_merge": "register reduce: <= m (64) rows + 1-row estimator (hll.py)",
    "q176_negative_sampling": "1-row max-partkey scalar broadcast back",
    "q177_srm_check": "|variants|-row frame + 1-row total (evalmetrics.srm_check)",
    "q179_expectation_suite": "five 1-row check aggregates unioned (expectations.py)",
    "q184_association_rules": "1-row basket-count scalar broadcast back (association.py)",
    "q228_kaplan_meier": "KM life table: distinct-duration-sized frame (bounded by the day window), survival.py",
    "q229_bh_fdr_slices": "BH rank/threshold windows over the slice frame (|nations|=25 rows), evalmetrics.slice_ztest_bh",
    "q230_doubly_robust_ope": "1-row DR/IPS/ESS reduce + per-context argmax over the context x action frame (evalmetrics.doubly_robust_eval)",
    "q231_group_kfold": "snake deal: group-frame total order (users, not rows; docstring points to hash_split at corpus scale) + k-row share window (sampling.group_snake_kfold)",
    "q232_simpson_audit": "pooled contrast: 1-row agg broadcast back (W7 pattern)",
    "q233_frequent_triples": "1-row basket-count scalar broadcast back (association.frequent_triples)",
    "q234_skipgram_pmi": "pair/token totals: two 1-row reduces broadcast back; final top-k is TakeOrdered (collocations.skipgram_pmi)",
    "q235_rake_keywords": "final top-20 TakeOrdered merge (keywords.rake_keywords)",
    "q236_jl_projection_recall": "per-query top-5 windows: probe-set-sized frames (similarity.jl_project + brute_force_topk)",
    "q237_dim_variance": "variance rank window over the DIM-row frame (64 rows), embstats.dim_variance_profile",
    "q239_mann_whitney": "cumsum offsets O(partitions) + 1-row U/z scalar (drift.mann_whitney_u)",
    "q240_moments_merge": "shard power-sum merge: O(#shards) rows to 1 (profiling.moments_merge_profile)",
    "q241_zipf_fit": "two-phase rank offsets O(partitions) + 1-row OLS reduce (text.zipf_fit)",
    "q242_decision_stump": "candidate grid: 1-row bounds agg + 9-row gain-rank window (stump.decision_stump)",
    "q243_logrank_test": "two-group life table: distinct-duration-sized frame + 1-row chi2 reduce (survival.logrank_test)",
    "q244_heaps_law": "doc-offset cumsum O(partitions) + 1-row total + 10-row checkpoint OLS window (text.heaps_checkpoints)",
    "q245_gtest_collocations": "bigram-total scalar broadcast back; final top-k TakeOrdered (collocations.gtest_collocations)",
    "q246_covariate_balance": "three 1-row SMD power-sum reduces unioned (causal.covariate_balance)",
    "q247_cuped": "1-row mid-ts scalar broadcast + 1-row CUPED moment reduce (causal.cuped)",
    "q248_tfidf_cosine_pairs": "1-row corpus-count scalar broadcast back (retrieval.tfidf_cosine_pairs)",
    "q249_dedup_threshold_curve": "1-row slice-count scalar + threshold spine (5 rows) broadcast (dedup.jaccard_threshold_curve)",
    "q250_markov_accuracy": "|states|^2 pair-matrix frames; per-state argmax windows (sequences.markov_top1_accuracy)",
    "q251_reshard_audit": "two 1-row ring-array builds (vnode-sized) broadcast; two 1-row movement reduces (sharding.reshard_movement_audit)",
    "q252_cms_topk_accuracy": "top-20 TakeOrdered + d*w-bounded sketch broadcast (countmin.py)",
    "q253_two_hop_neighbors": "part-degree frame join; pair volume bounded by deg-cap (docstring)",
    "q254_hll_overlap_matrix": "groups^2 x <=m register frames; per-pair estimate reduces (hll.hll_overlap_matrix)",
    "q255_dau_wau": "calendar-bounded day frames (dau/wau joins on the day spine)",
    "q256_sorted_neighborhood": "two-phase rank offsets O(partitions) (linkage.sorted_neighborhood_pairs)",
    "q257_degree_assortativity": "1-row integer correlation reduce (triangles.degree_assortativity)",
    "q258_fano_burstiness": "per-key calendar-bounded bucket spines; |keys|-row report",
    "q259_rank_agreement": "k-bounded list join + k-row depth spine per query (retrieval.rank_agreement)",
    "q260_best_threshold": "O(bins) curve frame + 2 argmax windows (evalmetrics.best_threshold)",
    "q261_dedup_impact": "1-row impact reduce over the fingerprint-clustered frame",
}


def audit(sf_dir: str) -> None:
    spark = get_spark()
    print("# Physical-plan audit — every workload query\n")
    print(
        "Generated by `tools/plan_audit.py` (executedPlan at sf0.01; AQE\n"
        "final plans differ only by runtime re-optimization). Columns:\n"
        "join strategies in plan order, exchange count (hash + range +\n"
        "single-partition), Python/Arrow stages (0 everywhere except the\n"
        "deliberate Arrow-batch operators), codegen spans visible in the\n"
        "final rendered plan (AQE's reuse rendering hides spans inside\n"
        "already-materialized shuffle stages, so this column is a lower\n"
        "bound — the joins/exchanges/python columns are the audit).\n"
    )
    print(
        "| query | joins | exchanges | 1-part | python | codegen | "
        "1-part bound |"
    )
    print("|---|---|---|---|---|---|---|")
    one_part_rows = []
    for name in sorted(workload.QUERIES):
        try:
            df = workload.QUERIES[name](spark, sf_dir)
            df.count()  # let AQE finalize so the audited plan is the real one
            plan = df._jdf.queryExecution().executedPlan().toString()
            joins = JOIN_RE.findall(plan)
            jtxt = (
                ", ".join(
                    f"{j.replace('Join', '')}×{joins.count(j)}"
                    if joins.count(j) > 1
                    else j.replace("Join", "")
                    for j in dict.fromkeys(joins)
                )
                or "—"
            )
            one_part = plan.count("Exchange SinglePartition")
            exch = (
                plan.count("Exchange hashpartitioning")
                + plan.count("Exchange rangepartitioning")
                + one_part
            )
            py = plan.count("PythonUDF") + plan.count("MapInPandas") + plan.count(
                "ArrowEval"
            )
            # codegen'd operators print with a "*(n)" stage prefix
            cg = len(set(re.findall(r"\*\((\d+)\)", plan)))
            note = "—"
            if one_part:
                note = ONE_PART_NOTES.get(name, "UNEXPLAINED")
                one_part_rows.append((name, one_part, note))
            print(
                f"| {name} | {jtxt} | {exch} | {one_part} | {py} | {cg} | "
                f"{note} |"
            )
        except Exception as ex:  # pragma: no cover - audit robustness
            print(f"| {name} | ERROR {str(ex)[:40]} | | | | | |")
    print(
        "\n## Single-partition exchanges, accounted for\n\n"
        "Every `Exchange SinglePartition` above funnels a sample-, "
        "partition-count-, bin-, vocabulary-, or page-sized frame into "
        "one task — never a data-sized one. Any UNEXPLAINED entry is a "
        "regression to investigate before shipping.\n"
    )
    for name, cnt, note in one_part_rows:
        print(f"- `{name}` ({cnt}): {note}")
    # round-12 (VERDICT r11 item 9): static global-window bounds sweep
    # appended so one regeneration carries both accountings
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import global_window_audit

    global_window_audit.main()


if __name__ == "__main__":
    audit(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
