"""Plan-shape regression tests — the 100 TB design assertions.

Each test pins a property of the physical plan that matters at scale:
pushdown reaching the scan, broadcasts chosen for dims, top-k avoiding
full sorts, whole-stage codegen in the hot paths.  If a refactor
silently degrades one of these, correctness tests won't notice — these
will.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.plan_lint import bnlj_beyond_constants


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entry.queries()

    def plan_of(name: str) -> str:
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q1_filter_pushed_to_scan(plans):
    p = plans("q1_pricing_summary")
    # direct timestamp comparison (no cast) reaches the scan as a data
    # filter → parquet min/max row-group skipping
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p


def test_q1_column_pruning(plans):
    p = plans("q1_pricing_summary")
    scan_schema = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in scan_schema  # unused columns pruned
    assert "l_quantity" in scan_schema


def test_q3_broadcasts_dim_filter(plans):
    assert "BroadcastHashJoin" in plans("q3_shipping_priority")


def test_q5_no_cartesian(plans):
    p = plans("q5_local_supplier_volume")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("topk_expensive_orders")


def test_rollup_single_exchange(plans):
    p = plans("rollup_contest_county")
    # partial + final agg around exactly one ENSURE_REQUIREMENTS hash
    # exchange (plus the two broadcast exchanges for dims).  The
    # small-input widening exchange (ensure_min_parallelism) is ALSO
    # hash-partitioned since r12 — full-row hash instead of round-robin,
    # which pays a local sort of its whole input (guide §2.5 /
    # SPARK-23207); no RoundRobinPartitioning may reappear.
    assert p.count("Exchange hashpartitioning") == 2
    assert "RoundRobinPartitioning" not in p
    agg_exchanges = [ln for ln in p.splitlines()
                     if "Exchange hashpartitioning" in ln
                     and "ENSURE_REQUIREMENTS" in ln]
    assert len(agg_exchanges) == 1
    assert "ObjectHashAggregate" in p or "SortAggregate" in p


def test_rollup_whole_stage_codegen(spark, sf_dir):
    # AQE hides codegen spans in the adaptive wrapper — ask for the
    # codegen explain, which compiles the subtrees
    df = entry.queries()["rollup_contest_county"](spark, sf_dir)
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    txt = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen subtree" in txt


def test_window_topk_pushes_group_limit(plans):
    p = plans("topk_per_group")
    # Spark ≥3.5 plans WindowGroupLimit so only k rows per key survive
    # the sort buffer
    assert "WindowGroupLimit" in p


def test_semi_join_stays_semi(plans):
    assert "LeftSemi" in plans("join_semi")


def test_minhash_no_python_in_hot_path(plans):
    p = plans("dedup_minhash_signatures")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_multimodal_uses_arrow_batches(plans):
    # the one place Python IS expected: mapInPandas → MapInPandas node
    assert "MapInPandas" in plans("multimodal_decode_features")


def test_stratified_split_single_exchange_no_python(plans):
    p = plans("sampling_stratified_split")
    # split membership is a map expression; only the reporting agg shuffles
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_contamination_no_cartesian(plans):
    p = plans("contamination_ngram_overlap")
    # inverted-index equi-join on the shingle — never a pair enumeration
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cumsum_pack_partitions_by_shard(plans):
    p = plans("pack_sequences_cumsum")
    # the window partitions by shard — no single-partition global sort
    assert "hashpartitioning(shard" in p


def test_greedy_pack_python_is_per_shard_arrow(plans):
    p = plans("pack_sequences_greedy")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p


def test_ivf_assignment_no_join_for_candidates(spark, sf_dir):
    """Candidate->centroid assignment is a fold over the one-row
    centroid relation: no Python eval, no shuffle exchange, no
    cartesian, and the only join is the crossJoin onto that relation
    (its BroadcastExchange is the one exchange)."""
    from results_ingestor_spark.operators.similarity import (
        assign_centroids, kmeans_centroids)
    from results_ingestor_spark.sources.tables import load_tables
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = kmeans_centroids(e, n_clusters=4, n_iter=1)
    assigned = assign_centroids(e, cents, "embedding", "cid").select("cid")
    p = assigned._jdf.queryExecution().executedPlan().toString()
    assert p.count("Join") == p.count("BroadcastNestedLoopJoin") == 1
    assert not bnlj_beyond_constants(p)
    assert p.count("Exchange") == p.count("BroadcastExchange") == 1
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_join_strategy_hints(spark, sf_dir):
    """Strategy control: with auto-broadcast disabled, the same join
    plans as SortMergeJoin bare and BroadcastHashJoin under an explicit
    broadcast() — the knob that matters when statistics mislead at
    scale."""
    from pyspark.sql import functions as F
    from results_ingestor_spark.sources.tables import load_tables
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bare = (t["orders"].join(t["customer"],
                                 F.col("o_custkey") == F.col("c_custkey"))
                ._jdf.queryExecution().executedPlan().toString())
        hinted = (t["orders"].join(F.broadcast(t["customer"]),
                                   F.col("o_custkey") == F.col("c_custkey"))
                  ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in bare and "BroadcastHashJoin" not in bare
    assert "BroadcastHashJoin" in hinted


def test_q6_pure_scan_aggregate(plans):
    """Q6 is the scan-throughput query: every predicate must reach the
    parquet scan as a pushed filter, the read schema must prune to the
    3 referenced columns, and there must be no join or hash exchange —
    only the 1-row partial/final agg exchange."""
    p = plans("q6_forecast_revenue")
    pushed = p.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed
    schema = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in schema and "l_orderkey" not in schema
    assert "Join" not in p
    assert "Exchange hashpartitioning" not in p  # SinglePartition only


def test_q18_semi_join_before_wide_join(plans):
    """Q18's HAVING-derived orderkey set must reduce lineitem via a
    (left-)semi join before the orders/customer joins fan columns out."""
    p = plans("q18_large_volume_customer")
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p


def test_q19_no_nested_loop(plans):
    """The OR-of-ANDs predicate must ride the partkey hash join as a
    residual condition, not degrade to a nested-loop join."""
    p = plans("q19_discounted_revenue")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_spatial_join_is_hash_not_cartesian(plans):
    """The grid-blocked radius join must plan as an equi hash join on
    the cell key — the whole point of the 3×3 replication is avoiding
    the cartesian/BNLJ a raw distance θ-join would force."""
    p = plans("spatial_radius_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p \
        or "BroadcastHashJoin" in p


def test_tfidf_broadcasts_vocab(plans):
    """df (vocabulary-sized) and N (1 row) must broadcast back into
    the tf table — no shuffle of the fact side for dimension joins."""
    assert "BroadcastHashJoin" in plans("tfidf_top_terms")


def test_triangle_join_no_python_no_cartesian(plans):
    p = plans("graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_skyline_no_self_join(plans):
    """The sort-based skyline must contain NO join at all (the naive
    dominance formulation is a quadratic self-join — the oracle states
    it; the Spark plan must not)."""
    assert "Join" not in plans("part_skyline")


def test_q4_exists_stays_semi(plans):
    """The correlated EXISTS compiles to LEFT SEMI with the date
    comparison as residual — lineitem must never widen the orders
    side (no inner join + distinct)."""
    p = plans("q4_order_priority")
    assert "LeftSemi" in p


def test_q17_threshold_join_broadcasts_brand_filter(plans):
    """The Brand#12 part filter (~4% of parts) must broadcast; the
    per-part aggregate joins on partkey without a cartesian."""
    p = plans("q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ohlc_single_agg_no_window(plans):
    """OHLC open/close must come from max_by/min_by inside ONE hash
    aggregate — a window + row_number formulation (the oracle's shape)
    would sort every (type, hour) partition; the agg form merges
    map-side and shuffles one row per bucket."""
    p = plans("events_ohlc_hourly")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_twa_single_shuffle(plans):
    """Time-weighted avg: the lead() window and the user_id aggregate
    share a partitioning, so exactly one exchange feeds both."""
    assert plans("events_time_weighted_avg").count(
        "Exchange hashpartitioning") == 1


def test_chi2_marginals_broadcast(plans):
    """The three marginal aggregates must broadcast back onto the cell
    table — no sort-merge join of tiny dimensions."""
    p = plans("chi2_lang_source")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_weighted_median_single_shuffle(plans):
    """Both cumulative windows and the final group-by run on the same
    (returnflag, year) partitioning — one exchange total."""
    assert plans("weighted_median_price").count(
        "Exchange hashpartitioning") == 1


def test_zipf_topk_take_ordered(plans):
    """The global top-100 vocabulary cut must be TakeOrderedAndProject
    over the count table, not a total sort."""
    assert "TakeOrderedAndProject" in plans("text_zipf_rank_frequency")


def test_pmi_vocab_broadcasts(plans):
    """The 50-term vocabulary must broadcast into the doc-token table
    before the pair self-join — the bound that keeps the join
    non-quadratic."""
    p = plans("text_pmi_cooccurrence")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q21_semi_and_anti_no_cartesian(plans):
    """Q21's EXISTS/NOT EXISTS must stay semi/anti hash joins with the
    suppkey inequality as residual — never a cartesian or BNLJ."""
    p = plans("q21_suppliers_kept_waiting")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q2_catalog_min_equality_broadcasts(plans):
    """Q2: part/supplier/region dims and the per-part min all broadcast;
    the only hash exchange pair belongs to the (partkey, suppkey)
    catalog aggregate."""
    p = plans("q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q8_dims_broadcast_one_fact_shuffle(plans):
    """Q8 joins six dims around lineitem⋈orders: every dim side must be
    a broadcast, leaving shuffles only for the fact join + final agg."""
    p = plans("q8_national_market_share")
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_q16_blacklist_is_broadcast_anti(plans):
    """Q16's NOT IN (NULL-free key) must plan as a broadcast anti join,
    not a BNLJ existence check."""
    p = plans("q16_supplier_part_counts")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_curation_pipeline_two_shuffles(plans):
    """pipeline_curate_end_to_end promises raw corpus → budget report in
    TWO shuffles (dedup window on content hash + final agg).  Pin the
    exchange count so a refactor can't silently add a materialization
    barrier."""
    p = plans("pipeline_curate_end_to_end")
    assert p.count("Exchange hashpartitioning") == 2


def test_jl_projection_no_shuffle_no_python(plans):
    """embedding_random_projection is a pure map stage: no exchange, no
    Python evals — the literal-matrix fold must stay in codegen."""
    p = plans("embedding_random_projection")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_embedding_cosine_dedup_no_all_pairs(plans):
    """dedup_embedding_cosine must candidate-generate via the banded
    sign-bit equi-join, never an all-pairs theta join: no cartesian
    operator, no nested-loop join beyond the crossJoins onto the
    one-row hyperplane relation, and the verify stage's
    SortMergeJoin/ShuffledHashJoin keys are ids, not inequalities."""
    p = plans("dedup_embedding_cosine")
    assert "CartesianProduct" not in p
    assert not bnlj_beyond_constants(p)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_chunk_windows_map_only(plans):
    """text_chunk_windows is sequence+explode+slice — a pure narrow
    stage: no exchange, no Python, generator stays in codegen scope."""
    p = plans("text_chunk_windows")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bigram_lm_equi_joins_only(plans):
    """lm_bigram_perplexity joins bigrams to their counts on exact keys;
    the only nested-loop allowed is the 1-row vocabulary-size broadcast
    combine."""
    p = plans("lm_bigram_perplexity")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row V scalar only
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ks_window_over_preaggregated_values(plans):
    """stats_ks_two_sample's global-order window must sit ABOVE the
    value-level pre-aggregation (window input = distinct values, not raw
    rows): exactly one hash aggregate pair below the first Window node."""
    p = plans("stats_ks_two_sample")
    # the value-keyed aggregate must exist, and the single-partition
    # exchange (window input) must sit ABOVE it (plan prints top-down):
    # only distinct-value rows ever cross into the one-partition region.
    sp = p.find("Exchange SinglePartition")
    by_value = p.find("HashAggregate(keys=[value")
    assert sp != -1 and by_value != -1
    assert sp < by_value


def test_runtime_bloom_filter_prunes_selective_fact_join(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective dimension-side
    predicate should inject a bloom_filter_agg on the build side and a
    might_contain probe into the fact scan's filters — rows that cannot
    join are dropped BEFORE the shuffle.  At 100 TB the default
    thresholds (10 GB application side) arm this automatically; locally
    we lower them to demonstrate the mechanism and pin that our plans
    don't defeat it."""
    from pyspark.sql import functions as F

    from results_ingestor_spark.sources.tables import load_tables
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        sel = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        j = (t["lineitem"]
             .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
             .agg(F.sum("l_quantity").alias("q")))
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        physical = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in physical
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_png_header_parse_pure_codegen(plans):
    """Binary header build + parse must be a map-only JVM stage: no
    Python eval, no exchange — substring/hex/conv over bytes stay in
    whole-stage codegen."""
    p = plans("multimodal_png_header_parse")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "Exchange" not in p


def test_explicit_bloom_prefilter_prunes_and_is_exact(spark, sf_dir):
    """The explicit broadcast Bloom prefilter (operators/bloom.py): the
    fact-side membership test must (a) drop the overwhelming majority of
    lineitem rows in a pure map stage — a Filter on the scan with no
    Exchange below it — and (b) admit every key that actually joins (no
    false negatives), so the prefiltered join count equals the plain
    join count exactly."""
    from pyspark.sql import functions as F

    from results_ingestor_spark.operators.bloom import (
        bloom_might_contain, build_bloom_words)
    from results_ingestor_spark.sources.tables import load_tables
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    dim = (t["orders"]
           .where((F.col("o_orderpriority") == "1-URGENT")
                  & (F.year("o_orderdate") == 1995))
           .select("o_orderkey"))
    words = build_bloom_words(dim, "o_orderkey")
    pred = bloom_might_contain(F.col("l_orderkey"), words)
    fact = t["lineitem"].where(pred)

    total = t["lineitem"].count()
    kept = fact.count()
    assert kept < 0.05 * total  # the filter actually prunes

    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan     # map-only prefilter
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plain = t["lineitem"].join(dim, F.col("l_orderkey") == F.col("o_orderkey")).count()
    pre = fact.join(dim, F.col("l_orderkey") == F.col("o_orderkey")).count()
    assert pre == plain  # no false negatives


def test_maxsim_broadcasts_query_tokens_and_pushes_topk(plans):
    p = plans("ann_maxsim_topk")
    # the query-token matrix is the broadcast side of the scoring join;
    # candidate vectors stay put
    assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p
    # rank<=k is pushed into the sort buffer, not a full sort+filter
    assert "WindowGroupLimit" in p
    # token->doc reduction is hash aggregation (map-side partials), and
    # nothing falls back to a cartesian or row-Python path
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_canonical_keep_best_no_cartesian_no_python(plans):
    p = plans("dedup_canonical_keep_best")
    # cluster labeling + argmax + mapping join: every join is keyed
    # (band keys, doc ids, cluster reps) — no all-pairs fallback, and
    # the whole policy stays JVM-side
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hourly_layer_trend_ops_aggregate_before_pairing(plans):
    # Mann-Kendall and the EWMA forecast must pair/band-join the HOURLY
    # aggregate, never raw events: the events scans feed a hash
    # aggregate, and the pair join appears above it
    for name in ("stats_mann_kendall_trend", "stats_ewma_forecast_hourly"):
        p = plans(name)
        assert "HashAggregate" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_ntz_normalization_keeps_pushdown_and_fuses(spark, sf_dir):
    # _normalize_events casts the parquet TIMESTAMP_NTZ ts to session-tz
    # timestamp (r02 fix).  Two properties must survive that cast
    # (round-3 verdict watch item): a predicate on the CAST column is
    # rewritten onto the NTZ column and pushed into the parquet scan
    # (row-group skipping at 100 TB), and the cast itself is a Project
    # directly over the FileScan — same whole-stage span, no extra pass.
    from pyspark.sql import functions as F
    from results_ingestor_spark.sources.tables import load_tables
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    p = (ev.where(F.col("ts") >= "2024-03-01").select("event_id", "ts")
         ._jdf.queryExecution().executedPlan().toString())
    assert "GreaterThanOrEqual(ts," in p.split("PushedFilters: ")[1]
    qs = entry.queries()
    sp = (qs["events_sessionize"](spark, sf_dir)
          ._jdf.queryExecution().executedPlan().toString())
    cast_proj = [l for l in sp.splitlines()
                 if "Project" in l and "cast(ts" in l]
    assert cast_proj, "NTZ cast projection missing from sessionize plan"
    after = sp.splitlines()[sp.splitlines().index(cast_proj[-1]):]
    assert any("FileScan" in l for l in after[:3]), (
        "cast Project must sit directly on the events FileScan")


def test_rrf_hybrid_bounded_lists_and_broadcasts(plans):
    """Hybrid RRF: both input rankings must be k-bounded before the
    fusion — the lexical side via TakeOrderedAndProject (never a
    corpus-wide sort), the semantic side via the broadcast probe join —
    and nothing in the plan may fall back to a cartesian product."""
    p = plans("search_rrf_hybrid")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_cdc_chunks_partitioned_window_no_global_sort(plans):
    """CDC chunking: the prefix-sum window must be doc_id-partitioned
    (running chunk ids never cross documents, so no global window), and
    the only text-carrying shuffle is the (doc_id, chunk) assembly —
    the census groupBy ships hashes."""
    p = plans("dedup_cdc_chunks")
    # the window's partition spec carries doc_id — a global (empty
    # partition) window would print a windowspecdefinition starting at
    # the ORDER column instead
    assert "windowspecdefinition(doc_id" in p
    assert "Exchange rangepartitioning" not in p  # no global sort
    assert "CartesianProduct" not in p
    # tokens cross the wire ONCE: the chunk assembly's groupBy(doc_id,
    # chunk) must reuse the window's doc_id hash partitioning
    # (HashPartitioning(doc_id) satisfies the clustered distribution on
    # the superset key), so exactly one doc_id-ONLY exchange appears.
    # (Keyed precisely: since r12 the ensure_min_parallelism widening
    # exchange hashes the FULL document row, whose key list also begins
    # with doc_id — a bare prefix count would see it too.)
    import re
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)",
                          p)) == 1


def test_retrieval_eval_joins_topk_not_corpus(plans):
    """Label joins must hit the k-bounded top-k table via broadcast,
    never shuffle the embedding corpus for relevance labels."""
    p = plans("retrieval_eval_label_topk")
    assert p.count("BroadcastExchange") >= 2  # probe set + label maps
    assert "CartesianProduct" not in p


def test_dp_noisy_counts_single_exchange_map_noise(plans):
    """The DP release is one domain-bounded hash aggregate; the Laplace
    draw is a map expression over its output — no second shuffle, no
    Python, no sort of the corpus."""
    p = plans("privacy_dp_noisy_counts")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p


def test_target_encoding_broadcasts_stats_back(plans):
    """LOO encoding: exactly the orders x customer shuffle may move the
    fact; the 5-row segment stats and the 1-row grand mean must come
    back as broadcasts so the encode stage is map-only."""
    p = plans("feature_target_encoding_loo")
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p


def test_hotspots_shuffle_cells_not_points(plans):
    """Grid hotspots: both aggregates are grid-bounded; the 9-offset
    smear happens AFTER the first aggregate (explode of cell counts,
    never of points) and the top-20 is TakeOrdered."""
    p = plans("spatial_grid_density_hotspots")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort
    # generators run on the cell-count table: every explode sits above
    # the first aggregate in the plan text (cells, not raw points)
    agg_pos = p.find("HashAggregate")
    gen_pos = p.find("Generate explode")
    assert gen_pos != -1 and agg_pos != -1


def test_gradient_match_scoring_is_map_only(plans):
    """After the (driver-bounded) trainer, the influence sweep must be
    a pure map stage + TakeOrdered: no join, no Python, and exactly
    zero hash exchanges in the scoring plan."""
    p = plans("data_selection_gradient_match")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_haversine_candidates_cell_equijoined(plans):
    """Geo-kNN: candidates must come from the (clat, clon) equi-join
    (BroadcastHashJoin over the exploded probe cells) — a theta join
    against the globe would print BroadcastNestedLoopJoin."""
    p = plans("spatial_haversine_nearest")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_gopher_rules_single_exchange_no_python(plans):
    """The Gopher filter is a narrow map over the scan + ONE hash
    exchange for the 20-group source rollup — no Python, no joins, no
    sort shuffle (the final orderBy is the tiny grouped layer)."""
    p = plans("quality_gopher_rules")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_rater_agreement_one_row_reduce(plans):
    """Kappa/McNemar: both raters evaluate in the SAME map stage over
    one scan (the documents table is read once, not once per rater)
    and reduce to a single row — no join between rater pipelines."""
    p = plans("quality_rater_agreement")
    assert "Join" not in p
    assert p.count("FileScan") == 1  # the table is read once, not per rater
    assert "BatchEvalPython" not in p


def test_burstiness_broadcast_n_and_takeordered(plans):
    """Term burstiness: the corpus-size N is a 1-row broadcast onto the
    term aggregate (never a shuffle of terms against documents) and the
    top-20 is TakeOrdered, not a global sort."""
    p = plans("text_term_burstiness")
    assert "BroadcastNestedLoopJoin" in p  # the whitelisted 1-row N
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_mattr_no_shuffle_before_rollup(plans):
    """MATTR: the sliding windows are per-row array expressions — the
    plan must contain no explode and exactly one hash exchange (the
    source rollup)."""
    p = plans("text_mattr_diversity")
    assert "Generate explode" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p


def test_ljung_box_windows_on_hourly_layer(plans):
    """Ljung-Box runs its lead() windows on the O(hours) aggregate
    layer: the window sort must sit ABOVE the first hash aggregate in
    the plan, and the final reduce is a 1-row SinglePartition."""
    p = plans("stats_ljung_box_hourly")
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1 and win_pos < agg_pos \
        or p.index("Window") > p.index("HashAggregate")
    assert "SinglePartition" in p


def test_pseudonym_collisions_bounded_second_agg(plans):
    """Pseudonym audit: user distinct shuffles ids once; the bucket
    census groups by a 16-bit key (bounded domain), and no Python or
    join appears anywhere."""
    p = plans("privacy_pseudonym_collisions")
    assert "BatchEvalPython" not in p
    assert "Join" not in p


def test_golden_record_windows_cluster_partitioned(plans):
    """Survivorship: the mode windows must be cluster-partitioned (no
    empty partition spec) and no Python appears anywhere — the whole
    resolve→survive pipeline is joins + windows."""
    p = plans("er_golden_record")
    assert "BatchEvalPython" not in p
    assert "windowspecdefinition(cluster_rep" in p


def test_generalization_ladder_single_expand_aggregate(plans):
    """GROUPING SETS must compile to ONE Expand + aggregate over the
    QI columns — four levels from one pass, not four scans."""
    p = plans("privacy_generalization_ladder")
    assert p.count("FileScan") == 1
    assert "Expand" in p


def test_decayed_leaderboard_takeordered_integer_rank(plans):
    """Trending ranks on the exact integer score: TakeOrdered top-20,
    no global sort, no Python."""
    p = plans("events_decayed_leaderboard")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p


def test_table_checksum_map_reduce_only(plans):
    """The checksum is scan → hash → 1-row reduce per table: no joins,
    no windows, no Python — the cheapest possible full-content audit."""
    p = plans("dq_table_checksum")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_skew_census_counters_only(plans):
    """The skew audit aggregates (bucket, count) per key — two scans,
    two small aggregates, no join of row-level data."""
    p = plans("dq_partition_skew_census")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_partial_correlation_single_pass(plans):
    """All nine moments come from ONE lineitem scan; the 3-row report
    is unions of projections over the same 1-row aggregate."""
    p = plans("stats_partial_correlation")
    assert p.count("FileScan") == 1
    assert "BatchEvalPython" not in p


def test_rich_club_broadcasts_degree_table(plans):
    """The degree table joins the edge list via broadcast (node-sized
    side), and the ×4 k-explode runs on counters, not edges."""
    p = plans("graph_rich_club")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_isotropy_no_pair_join(plans):
    """The n²-pair average cosine must come from the sum-vector
    identity: no join between embedding rows anywhere in the plan —
    one explode, a 64-group aggregate, a 1-row reduce."""
    p = plans("embedding_isotropy_score")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "Generate posexplode" in p or "Generate explode" in p


def test_vad_segments_share_doc_shuffle_key(plans):
    """VAD: islands window and both aggregates are doc_id-keyed; the
    Arrow kernel is the sanctioned FlatMapGroups/MapInPandas path,
    never row-Python."""
    p = plans("multimodal_vad_segments")
    assert "BatchEvalPython" not in p
    assert "windowspecdefinition(doc_id" in p


def test_time_decay_attribution_no_cartesian(plans):
    """Journeys pair via the user_id equi-join with a range residual —
    no cartesian/BNLJ; contributions snap before the channel agg."""
    p = plans("attribution_time_decay")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("name", [
    "ann_cosine_topk", "dedup_embedding_cosine", "ann_maxsim_topk"])
def test_pair_cosine_norms_evaluated_below_pair_join(spark, sf_dir, name):
    """Norms are computed once per vector: in the optimized plan every
    node that evaluates a sqrt (the L2 norm) has no join beneath it, so
    no norm is evaluated per pair."""
    plan = entry.queries()[name](spark, sf_dir)._jdf.queryExecution() \
        .optimizedPlan()

    def children(node):
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def has_join(node):
        return node.nodeName() == "Join" or any(map(has_join, children(node)))

    norm_nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        stack.extend(children(node))
        if "sqrt(" in node.expressions().toString().lower():
            norm_nodes.append(node)
    assert norm_nodes
    for node in norm_nodes:
        assert not has_join(node), node.simpleString(200)
