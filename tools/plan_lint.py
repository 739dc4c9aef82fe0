"""Plan linter — build every registered query's physical plan and flag
scale anti-patterns.  The per-query plan pins in tests/test_plan_shapes.py
cover the headline plans deeply; this sweep is the broad net that keeps
the OTHER ~190 queries honest as they evolve.

Flags:
  CARTESIAN   CartesianProduct anywhere
  BNLJ        more BroadcastNestedLoopJoins than one-row constants
              relations (``LocalTableScan [__books``, the build side of
              every quantization.codebook_relation crossJoin): a BNLJ
              beyond those is flagged unless whitelisted below
  PYTHON      BatchEvalPython / ArrowEvalPython (row-Python in the plan;
              MapInPandas/FlatMapGroupsInPandas are the sanctioned Arrow
              paths and are not flagged)
  GLOBALWIN   WindowExec with an empty partition spec over a non-tiny
              input (heuristic: flagged, whitelist documents the bounded-
              domain cases)
  DECCAST-INGEST  direct raw-money-double → DECIMAL attribute cast in
              the optimized plan (ADVICE r8: the column-path
              cast-divergence class; new wires must use plans/exact.py,
              legacy sites are whitelisted as 2-dp-grid-safe)

Whitelist entries mean "reviewed: the operator is correct at scale for a
stated reason" — every addition needs a reason string.

Usage: python tools/plan_lint.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name → reason the hit is acceptable at scale
WHITELIST_BNLJ = {
    # 1-row global-scalar combines (broadcast of an aggregate row)
    "funnel_signup_purchase": "1-row combined funnel counts broadcast",
    "funnel_three_step": "1-row combined funnel counts broadcast",
    "scalar_subquery_above_avg": "1-row global average broadcast",
    "q11_important_stock": "1-row global threshold broadcast",
    "q22_global_sales_opportunity": "1-row global scalar broadcast",
    "lm_bigram_perplexity": "1-row vocabulary size broadcast",
    "events_gapfill_hourly": "tiny hour-spine grid fill",
    "text_dispersion_gries_dp": "1-row corpus-total broadcast",
    "text_term_burstiness": "1-row corpus-size broadcast",
    "graph_global_transitivity": "two 1-row summary-stat broadcasts",
    "events_session_gap_curve": "1-row users/events-total broadcast",
    "multimodal_aspect_bucketing": "1-row share-divisor broadcast",
    "events_decayed_leaderboard": "1-row as-of-date broadcast",
    "orders_aging_buckets": "1-row as-of-date + 1-row total broadcasts",
    "sketch_ams_f2_selfjoin": "1-row median-estimate broadcast",
    "dataset_temporal_split_leakage": "1-row tercile-boundary broadcast",
    "events_reliability_report": "two 1-row KPI combines",
    "stats_james_stein_shrinkage": "1-row moment + shrink-factor "
        "combines over the k-row group table",
    "text_keyness_dunning": "1-row corpus-totals broadcast",
    "sampling_monetary_unit": "100-row sampling-point broadcast range "
        "join (the MUS design; points, not orders, broadcast)",
    "embedding_isotropy_score": "1-row n-vecs broadcast",
    "embedding_intrinsic_dim_twonn": "1-row point-count broadcast",
    "text_bigram_entropy_rate": "1-row N + entropy-scalar broadcasts",
    "stats_forecast_accuracy_mase": "1-row mean/base-MAE broadcasts",
    "graph_brand_homophily": "two 1-row census combines",
    "stats_wilcoxon_signed_rank": "1-row tie-term + moment combines",
    "embedding_mmd_linear": "1-row group-count broadcast",
    "stats_hill_tail_index": "1-row population-count broadcast",
    "dedup_lsh_s_curve": "19-row literal similarity grid broadcast "
        "(design-space table, no corpus scan)",
    "embedding_whitening_effect": "1-row mu/sigma-array broadcast "
        "(64 doubles) + 1-row before/after combines",
    "stats_logrank_test": "1-row horizon/cohort-total broadcasts",
    "graph_edge_churn_halves": "1-row cutover-date + census broadcasts",
    "dq_last_digit_uniformity": "1-row digit-census total broadcast",
    "dedup_transitivity_violation_rate": "three 1-row census combines "
        "(wedge join itself is pair-volume-bounded)",
    "text_theil_inequality_decomposition": "1-row corpus-moment "
        "broadcasts",
    "dataset_source_influence_loo": "1-row corpus-totals broadcast "
        "(LOO is totals-minus-group algebra)",
    "dq_id_sequence_gaps": "1-row range-bounds broadcast",
    "events_slo_burn_rate": "1-row frontier-timestamp broadcast",
    "stats_tukey_hsd": "1-row MSE broadcast; the pair join runs on "
        "the k-row group table",
    "dedup_boundary_stitch": "1-row pair-count broadcast",
    "layout_compaction_bins": "1-row compaction-target broadcast",
    "layout_pruning_effectiveness": "1-row corpus-minmax broadcast",
    "search_dirichlet_lm_topk": "1-row collection-constant broadcast",
    "search_rm3_expansion": "1-row feedback-total broadcast",
    "chi2_lang_source": "1-row totals broadcast",
    "drift_psi_time_halves": "1-row totals broadcast",
    "market_basket_rules": "1-row order-count broadcast",
    "stats_winsorized_mean": "1-row clip bounds broadcast",
    "weighted_median_price": "1-row total-weight broadcast",
    "histogram_totalprice": "1-row min/max broadcast",
    "vocab_coverage_95": "1-row corpus totals broadcast",
    "benford_first_digit": "1-row total broadcast",
    "incremental_agg_merge": "1-row merged-vs-direct compare",
    "dataset_shard_stats": "1-row corpus totals broadcast",
    "corpus_global_shuffle": "256-row shard-offset broadcast",
    "pct_of_parent_revenue": "1-row grand-total broadcast",
    "embedding_dim_stats": "1-row corpus stats broadcast",
    "privacy_t_closeness": "1-row corpus-total broadcast",
    "stats_theil_sen_trend": "1-row median-slope broadcast; the pair "
        "join itself runs on the bounded hourly layer",
    "stats_mann_kendall_trend": "1-row moment combines; the sign-pair "
        "join runs on the bounded hourly layer",
    "stats_ewma_forecast_hourly": "1-row series-horizon broadcast; the "
        "lag band join runs on the bounded hourly layer",
    "stats_bootstrap_ci_mean": "1-row CI broadcast (32 replica means)",
    "sampling_horvitz_thompson": "1-row true-total broadcast combine",
    "events_gap_distribution": "1-row gap-total broadcast combine",
    "events_changepoint_hourly": "1-row global-moment broadcast combine",
    "customers_at_risk_churn": "1-row corpus-horizon broadcast",
    "feature_target_encoding_loo": "1-row grand-mean broadcast; the "
        "segment stats join is a broadcast equi-join",
    "er_fellegi_sunter_scores": "1-row m/u weight broadcast; the pair "
        "join itself is blocked on last_name",
    "survival_km_signup_to_purchase": "1-row horizon + subject-total "
        "broadcasts",
    "events_markov_stationary": "1-row state-count broadcast; the "
        "chain lives on the type-domain aggregate",
    "abc_inventory_classes": "1-row revenue-total broadcast",
    "growth_accounting_weekly": "1-row horizon broadcast",
    "stats_diff_in_diff_uplift": "1-row cutover-date broadcast",
    "quality_classifier_train": "d+1-double weight-row combines",
    "quality_quantile_normalize": "1-row corpus-size + shard-range "
        "broadcasts; the order-statistic join itself is integer-keyed",
    "quality_classifier_auc": "1-row shard-range broadcast (two-level "
        "prefix-sum lo/hi bounds)",
    "pack_batches_length_bucketed": "1-row shard-range broadcasts "
        "(two-level rank lo/hi bounds, one per strategy)",
    "quality_classifier_score": "d+1-double weight-row combines",
    # broadcast probe sets: k probe vectors against n candidates IS
    # the intended broadcast theta join — the probe side is bounded by
    # construction
    "ann_cosine_topk": "broadcast probe-vector set vs candidates",
    "ann_lsh_topk": "broadcast probe set; bucket-pruned candidates",
    "ann_ivf_topk": "broadcast probe set; centroid-pruned candidates",
    "ann_pq_adc_topk": "broadcast probe set + per-query lookup tables",
    "ann_incremental_topk": "broadcast probe set; per-batch top-k merge",
    "ann_maxsim_topk": "broadcast query-token matrix vs candidate tokens "
        "(late-interaction rerank; probe side bounded by construction)",
    "ann_ivf_recall_check": "recall gate joins two top-k lists per probe",
    "ann_dim_truncation_recall": "recall gate joins two brute-force "
        "top-k lists; probe set bounded by construction",
    "knn_label_accuracy": "broadcast probe set brute-force leg; voting "
        "is probes x k bounded",
    "ann_pq_adc_recall_check": "recall gate joins two top-k lists per probe",
    "ann_ivf_tuning_curve": "broadcast probe set per nprobe sweep; each "
        "leg is the whitelisted ivf/brute-force probe join",
    "ann_ivf_index_stats": "1-row size-moment broadcast over the "
        "k-bounded cluster-size table",
    # 1-row aggregate combines
    "tfidf_top_terms": "1-row doc-count broadcast",
    "text_bm25_topk": "1-row corpus avgdl broadcast",
    "sampling_temperature_mix": "1-row language-total broadcast",
    "events_max_concurrent": "1-row peak combine",
    "events_interpolate_hourly": "bounded hour-spine grid fill",
    "sketch_merge_shards": "1-row merged-sketch combine",
    "sketch_theta_set_ops": "1-row sketch-algebra combine",
    "dq_referential_integrity": "1-row count combines per FK audit",
    "text_pmi_cooccurrence": "1-row doc-count broadcast",
    "embedding_pq_compression": "1-row broadcast codebook encode + 1-row "
        "MSE combine",
    "graph_triangle_count": "1-row triangle/wedge ratio combine",
    "graph_pagerank_top20": "1-row node-count broadcast per iteration",
    "dsir_importance_weights": "1-row gram-total broadcast",
    "mixture_token_budget": "1-row normalizer broadcast",
    "curriculum_perplexity_buckets":
        "1-row vocabulary-size broadcast (inherited from the LM scorer)",
    "dq_join_fanout_audit":
        "three 1-row aggregate stat combines (the audit's whole output)",
    "retrieval_eval_label_topk": "broadcast probe-vector set vs "
        "candidates (ann_cosine_topk contract) + broadcast label join "
        "against the k-bounded top-k table",
    "search_rrf_hybrid": "1-row corpus avgdl broadcast (bm25 contract) "
        "+ broadcast probe vector vs candidates",
    "streaming_drift_monitor": "1-row baseline-total broadcast "
        "(psi_per_window's smoothing divisor)",
    "er_blocking_recall": "1-row audit-stat combines (the report's "
        "whole output; both blockings are equi-joins)",
    "stats_cuped_adjusted_lift": "1-row cutover-date broadcast (DiD "
        "convention) + 1-row moment combine",
    "dq_freshness_by_type": "1-row corpus-frontier broadcast",
    "ann_filtered_topk": "broadcast probe-vector set vs candidates "
        "(ann_cosine_topk contract), both search legs",
    "stats_anova_oneway_f": "1-row moment combine x k-row ordered fold",
    "stats_kruskal_wallis": "1-row moment/tie combines over the k-row "
        "group table",
    "stats_spearman_rho": "1-row Spearman x Pearson moment combine",
    "stats_permutation_test_mean": "1-row observed-stat broadcast over "
        "the 64-row replica table",
    "source_unigram_kl": "1-row corpus-total broadcast",
    "search_ndcg_at_k": "broadcast probe-vector set vs candidates "
        "(ann_cosine_topk contract) + broadcast label joins against "
        "the k-bounded top-k table",
    "stats_benjamini_hochberg": "1-row corpus-moment broadcast into "
        "the replica explode; observed-stat join is metric-keyed",
    "lm_bigram_kneser_ney": "1-row bigram-type-total broadcast "
        "(lm_bigram_perplexity contract)",
    "graph_hits_bipartite_topk": "1-row max-score broadcasts at "
        "report time",
    "rfm_segment_migration": "1-row date-midpoint broadcast",
    "privacy_dp_median_expmech": "1-row total / 1-row pick broadcasts "
        "over the distinct-value candidate layer",
    "stats_g_test_lang_source": "1-row grand-total broadcast "
        "(chi2_lang_source contract)",
    "stats_levene_brown_forsythe": "1-row moment combine x k-row "
        "ordered fold (ANOVA contract)",
    "graph_lpa_modularity": "1-row 2m edge-total broadcast over the "
        "community-domain table",
    "stats_capture_recapture": "1-row midpoint + four 1-row count "
        "combines (the report's whole output)",
}
WHITELIST_GLOBALWIN = {
    # windows whose input is pre-aggregated to a bounded domain
    "stats_ks_two_sample": "window over distinct metric values",
    "histogram_equidepth_price": "ntile over values (exact oracle twin)",
    "weighted_median_price": "running weight over sorted values",
    "percentile_exact": "exact percentile contract",
    "events_interpolate_hourly": "hour spine is bounded",
    "recursive_month_spine": "month spine is bounded",
    "period_over_period_revenue": "monthly layer is bounded",
    "cusum_user_drift": "per-user prefix scan (partitioned upstream)",
    "zorder_cluster_key": "demo of at-rest layout; write-time sort",
    "pack_sequences_cumsum": "per-shard window (partitioned)",
    "layout_compaction_bins": "prefix sum over the 64-row shard aggregate",
    "sampling_monetary_unit": "ledger prefix sum (two-level "
        "subtotal+boundary handoff at scale, pack_sequences_cumsum "
        "contract)",
    "dq_id_sequence_gaps": "sorted-key lag scan (two-level boundary "
        "handoff on range-partitioned ids at scale); SinglePartition "
        "is the 1-row report combine",
    "bollinger_hourly_value": "hourly layer is bounded",
    "events_hourly_anomaly": "hourly layer is bounded",
    "dedup_clusters_summary": "cluster histogram is bounded",
    "tfidf_top_terms": "rank over the bounded term vocabulary",
    "events_max_concurrent": "sweep-line global scan is the operator; at scale partition by day first",
    "supplier_scorecard": "rank over the supplier aggregate (dim-sized)",
    "window_ntile_quartiles": "global ntile demo over order aggregate",
    "events_type_share": "share-of-total over the bounded type domain",
    "string_similarity_levenshtein": "scalar-function demo, bounded output",
    "part_skyline": "sort-based Pareto scan is the operator",
    "customer_rfm_segments": "ntile quintiles over customer aggregate (dim-sized)",
    "vocab_coverage_95": "running share over the bounded vocabulary",
    "ann_ivf_recall_check": "rank over per-probe top-k lists (k-bounded)",
    "ann_pq_adc_recall_check": "rank over per-probe top-k lists (k-bounded)",
    "ann_ivf_tuning_curve": "rank over per-probe top-k lists (k-bounded), "
        "once per nprobe sweep leg",
    "corpus_global_shuffle": "rank within 256 shard partitions; offsets broadcast",
    "pct_of_parent_revenue": "grand-total share over the bounded hierarchy",
    "quality_quantile_normalize": "pooled ranking IMPLEMENTED as "
        "two-level shard-rank (rank within 256 order-consistent "
        "shards, broadcast offsets); remaining SinglePartition feeds "
        "the <=256-row offset combine",
    "curriculum_perplexity_buckets":
        "windows are lang-partitioned; the SinglePartition exchange is "
        "the LM scorer's 1-row vocab combine (per-lang sort itself is "
        "the documented approx-quantile swap at scale)",
    "stats_mann_whitney_u": "rank window over distinct metric values "
        "(same contract as stats_ks_two_sample)",
    "quality_classifier_auc": "cumulative count IMPLEMENTED as "
        "two-level shard prefix-sum over the distinct 9-dp score "
        "domain; remaining SinglePartition feeds the <=256-row offset "
        "combine",
    "pack_batches_length_bucketed": "batch-id row_number IMPLEMENTED "
        "as two-level shard-rank per strategy; remaining "
        "SinglePartition feeds the <=256-row offset combines",
    "events_acf_hourly": "lead window over the hourly layer (bounded "
        "by the time domain)",
    "stats_ljung_box_hourly": "lead window over the hourly layer "
        "(bounded by the time domain, same contract as events_acf_hourly)",
    "events_ccf_click_purchase": "lead windows over the hourly layer "
        "(ACF contract); SinglePartition is the 1-row moment reduce",
    "privacy_t_closeness": "window is QI-partitioned; the "
        "SinglePartition exchange is the 1-row corpus-total combine",
    "events_gap_distribution": "lag window is user-partitioned; the "
        "SinglePartition exchange is the 1-row total combine",
    "events_changepoint_hourly": "prefix-sum window over the bounded "
        "hourly layer (same contract as SES/Bollinger)",
    "events_poisson_burst_surprise": "trailing-rate window over the "
        "bounded hourly layer",
    "customers_at_risk_churn": "lag window is customer-partitioned; "
        "the SinglePartition exchange is the 1-row horizon combine",
    "survival_km_signup_to_purchase": "KM product window runs over "
        "the bounded duration-days domain",
    "stats_logrank_test": "cumulative at-risk windows over the "
        "bounded duration-days domain (KM contract); SinglePartition "
        "is the 1-row chi-square combine",
    "source_ranking_concordance": "three rank windows over the "
        "20-row source table; SinglePartition is the 1-row W combine",
    "abc_inventory_classes": "Pareto ranking window over the part "
        "aggregate (dim-sized)",
    "abc_xyz_matrix": "Pareto ranking window over the part aggregate "
        "(dim-sized, abc contract)",
    "text_heaps_law_fit": "growth-curve window over the document "
        "layer (one row per doc, not per token)",
    "growth_accounting_weekly": "lag/lead window is user-partitioned; "
        "the SinglePartition exchange is the 1-row horizon combine",
    "events_session_gap_curve": "lag window is user-partitioned; the "
        "SinglePartition exchange is the 1-row totals combine",
    "distinct_users_cumulative_hll": "expanding merge window over the "
        "day domain (per-day sketch partials)",
    "events_max_drawdown": "running-peak windows over the day domain",
    "search_rrf_hybrid": "rank windows over TakeOrdered 50-row lists "
        "(k-bounded by construction; fusion joins two 50-row frames)",
    "streaming_drift_monitor": "share window is window_start-partitioned "
        "over the (window, bin) cell table; the SinglePartition exchange "
        "is the 1-row baseline-total combine",
    "events_seasonal_decompose_daily": "centered-MA window over the "
        "bounded day domain (same contract as SES/Bollinger)",
    "stats_anova_oneway_f": "ordered k-row fold over the event-type "
        "group table (order-fixed double summation)",
    "stats_tukey_hsd": "ANOVA-contract ordered k-row fold for MSE",
    "stats_forecast_accuracy_mase": "lag windows over the hourly "
        "layer (ACF contract); the SinglePartition exchanges are the "
        "1-row leg reduces",
    "events_reliability_report": "sessionize window is "
        "user-partitioned; the SinglePartition exchanges are the two "
        "1-row KPI combines",
    "stats_kruskal_wallis": "midrank window over distinct metric "
        "values (mann-whitney contract) + ordered k-row fold",
    "stats_wilcoxon_signed_rank": "midrank window over the bounded "
        "hourly difference layer (mann-whitney contract)",
    "stats_spearman_rho": "rank windows over the 50-value quantity / "
        "11-value discount domains",
    "source_unigram_kl": "rank window is source-partitioned over the "
        "bounded vocabulary; the SinglePartition exchange is the 1-row "
        "corpus-total combine",
    "stats_benjamini_hochberg": "BH rank / tail-min windows run over "
        "the m-row hypothesis table (metric domain, 5 rows here)",
    "rfm_segment_migration": "per-half quintiles IMPLEMENTED as "
        "two-level shard-rank + arithmetic ntile; remaining "
        "SinglePartition feeds the per-half <=256-row offset combine",
    "privacy_dp_median_expmech": "rank window over distinct metric "
        "values (mann-whitney contract); selection is TakeOrdered(1)",
    "stats_levene_brown_forsythe": "median windows are "
        "type-partitioned over distinct values; the SinglePartition "
        "exchange is the ANOVA-contract k-row ordered fold",
    "sampling_neyman_allocation": "share-of-total window over the "
        "k-row stratum table",
    "sketch_ams_f2_selfjoin": "median rank window over the 16-row "
        "estimator table",
    "embedding_intrinsic_dim_twonn": "kNN-graph top-k window "
        "(src-partitioned, ann_knn_graph_banded contract); the "
        "SinglePartition exchange is the 1-row MLE combine",
    "diag_decimal_echo": "SUM OVER () across the probe's fixed 8-row "
        "literal table (no table scan anywhere)",
}


# DECWIRE rule (VERDICT r7 items 1-3, permanent policy): no
# DECIMAL-typed column may appear in a COMPARED output schema, on
# either side of an oracle pair.  Mechanism: the r7 gate's only two
# DECIMAL-emitting entries were exactly its two value-hash-red cells;
# the engines also materialize DECIMAL differently client-side (Spark
# toPandas → object decimal.Decimal, DuckDB .df() → float64), so the
# type is a comparator hazard even when the values are identical.
# Exact money math stays INTERNAL (DECIMAL accumulators are fine);
# the wire carries BIGINT cents/micros or a rounded DOUBLE.
WHITELIST_DECWIRE = {
    "diag_decimal_echo": "the probe's entire purpose is to put "
        "by-construction-identical DECIMALs on the compared wire",
}


# DECCAST-INGEST rule (ADVICE r8 item 1): flag DIRECT
# raw-money-double-column → DECIMAL casts in the optimized plan
# (`cast(l_extendedprice#12 as decimal(...))`) — the exact column-path
# cast-divergence class the sf0.1 lottery sweep exposed and
# test_cast_decimal_column_path_divergence pins.  New ingestion sites
# must use plans/exact.py (cents()/rev_e4(): floor(x*100 + 0.5) is
# IEEE-identical in both engines for ANY double) or be whitelisted
# here with a reason.  The legacy sites below are distribution-safe,
# not engine-safe: every raw money column is generated on the 2-dp
# grid (pinned by tests/test_corpus_invariants.py), and a double
# within ~1e-13 of a 2-dp grid point casts to the same DECIMAL(12,2)
# in every round-to-nearest engine.  If the corpus invariant ever
# breaks, the invariant test fails loudly and every name below is the
# migration worklist.
_MONEY_DOUBLES = ("l_extendedprice", "l_discount", "l_tax",
                  "o_totalprice", "p_retailprice", "s_acctbal",
                  "c_acctbal")
import re as _re  # noqa: E402

# Compiled once here (ADVICE r9: the old module-level `None`
# placeholder was dead code shadowed by a local in main()).  The TPC-H
# money names are globally unambiguous; the events money column is
# literally named `value`, which any map-explode or unpivot output
# could also be called — so the `value` pattern is split out and only
# applied when the physical plan actually scans events.parquet
# (ADVICE r9: anchor the rule to the events relation).  Residual
# false-positive surface: a query that BOTH reads events AND casts an
# unrelated column named value to DECIMAL — whitelist with a reason if
# one ever appears.
_DECCAST_NAMED_RE = _re.compile(
    r"cast\((?:" + "|".join(_MONEY_DOUBLES) + r")#\d+ as decimal",
    _re.IGNORECASE)
_DECCAST_VALUE_RE = _re.compile(r"cast\(value#\d+ as decimal",
                                _re.IGNORECASE)

# EMPTY as of round 11: the DECCAST migration (VERDICT r10 item 1)
# moved every remaining raw-money/value DECIMAL-cast ingestion site —
# the r9 inventory's events/stats `_VDEC` Σv/Σv² moment wires, the
# relational q1/q3/q5 + dispersion/corr moments, and the
# advanced/joins/functions/pipeline singles — to exact.cents()
# integer moments (BIGINT cents / cents²-e4 with one terminal
# rescale; integer-valued DECIMAL(18,0) carriers where a cents²
# product can exceed 2^63 — lineitem price moments — since
# int→DECIMAL is exact in both engines and the only double→int step
# is the shared IEEE floor-snap).  Any NEW entry must use
# plans/exact.py; this whitelist only shrinks, and adding a name
# back requires a written per-name justification here.
WHITELIST_DECCAST: dict[str, str] = {}


def bnlj_beyond_constants(plan: str) -> bool:
    """True when the physical plan string has a BroadcastNestedLoopJoin
    that is not accounted for by a one-row constants relation: each
    ``codebook_relation`` crossJoin is one BNLJ over one
    ``LocalTableScan [__books``, so only a surplus is a finding."""
    return (plan.count("BroadcastNestedLoopJoin")
            > plan.count("LocalTableScan [__books"))


def _has_decimal(dt) -> bool:
    from pyspark.sql import types as T
    if isinstance(dt, T.DecimalType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_decimal(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_decimal(dt.keyType) or _has_decimal(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_decimal(f.dataType) for f in dt.fields)
    return False


def main() -> int:
    import duckdb

    import __spark_entry__ as e
    from results_ingestor_spark.session import get_spark
    from results_ingestor_spark.sources.tables import TABLE_NAMES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("planlint")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    oracles = e.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    findings: list[tuple[str, str]] = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            opt = qe.optimizedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            findings.append((name, f"BUILDFAIL {type(exc).__name__}"))
            continue
        if name not in WHITELIST_DECCAST and (
                _DECCAST_NAMED_RE.search(opt)
                or (_DECCAST_VALUE_RE.search(opt)
                    and "events.parquet" in plan)):
            findings.append((name, "DECCAST-INGEST"))
        if name not in WHITELIST_DECWIRE:
            if any(_has_decimal(f.dataType) for f in df.schema.fields):
                findings.append((name, "DECWIRE-SPARK"))
            if name in oracles:
                try:
                    otypes = con.sql(oracles[name]).types
                except Exception as exc:  # noqa: BLE001
                    findings.append(
                        (name, f"ORACLEBIND {type(exc).__name__}"))
                    otypes = []
                if any("DECIMAL" in str(ty).upper() for ty in otypes):
                    findings.append((name, "DECWIRE-ORACLE"))
        if "CartesianProduct" in plan:
            findings.append((name, "CARTESIAN"))
        if bnlj_beyond_constants(plan) and name not in WHITELIST_BNLJ:
            findings.append((name, "BNLJ"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            findings.append((name, "PYTHON"))
        if ("Window [" in plan and "Exchange SinglePartition" in plan
                and name not in WHITELIST_GLOBALWIN):
            # a Window co-occurring with a single-partition exchange is
            # the global-order smell; the whitelist holds the reviewed
            # bounded-domain cases
            findings.append((name, "GLOBALWIN?"))
    for name, flag in findings:
        print(f"{flag:12s} {name}")
    print(f"\n{len(findings)} findings over {len(qs)} queries")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
