"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with the noop sink (full plan runs
on executors; nothing is collected to the driver), which measures engine
throughput rather than driver serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "rollup_contest_county",
    "district_extraction",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_orders",
    "events_tumbling_hour",
    "dedup_minhash_lsh",
    "text_quality_score",
    "ann_cosine_topk",
    "asof_join_purchase_signup",
    "events_sessionize",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    # round 2: hardest correlated TPC-H shape, bounded basket mining,
    # pure-JVM vector math throughput
    "q21_suppliers_kept_waiting",
    "market_basket_rules",
    "embedding_random_projection",
    # round 3: map-only RAG chunking, bigram-LM scoring (join-heavy),
    # iterative BPE training (driver-coordinated argmax per merge)
    "text_chunk_windows",
    "lm_bigram_perplexity",
    "bpe_train_merges",
    # round 3b: explicit runtime-filtered join (bloom build + map-side
    # prune + exact join), incremental dedup of a new batch vs the
    # historical band index
    "join_bloom_prefilter",
    "dedup_incremental_new_batch",
    # md5 (oracle-checked) vs xxhash64 (production) MinHash tiers,
    # timed head-to-head
    "dedup_minhash_lsh_fast",
    # round 3c: partial-Gram covariance (Arrow-batch BLAS kernel +
    # d(d+1)/2-row shuffle)
    "embedding_covariance",
    # late-interaction rerank (broadcast query-token matrix, token-level
    # max then doc-level sum — the ColBERT scoring shape)
    "ann_maxsim_topk",
    # round 4: heads of the newly driver-gated families — iterative
    # PageRank (edge list checkpointed once, 3 rank rounds), grid-bucket
    # spatial kNN, QI-group privacy audit, and the SemDeDup-shaped
    # semantic dedup (k-means + in-cluster pair join)
    "graph_pagerank_top20",
    "spatial_knn",
    "privacy_k_anonymity",
    "dedup_semantic_clusters",
    # round 4b: LSH composed with the split rule (leakage audit), the
    # global-sort batching accountant, and the trained-classifier exact
    # AUC (GD trainer + distinct-score midrank fold)
    "dedup_split_leakage",
    "pack_batches_length_bucketed",
    "quality_classifier_auc",
    # round 4c: content-defined-chunking dedup census (one chunk row per
    # ~16 tokens vs n-gram explosion) and rank-level lexical+vector
    # fusion (BM25 + cosine lists, RRF)
    "dedup_cdc_chunks",
    "search_rrf_hybrid",
    # round 4d: corpus-wide RAKE phrase mining (per-doc window + two
    # vocab-keyed joins) and the LESS-style gradient-alignment selection
    # sweep (GD train + map-only influence scoring over the corpus)
    "text_rake_keywords",
    "data_selection_gradient_match",
    # round 4e: two-round integer HITS on the bipartite purchase graph
    # (per-round equi-join + opposite-side agg) and interpolated
    # Kneser-Ney scoring (adds continuation-count joins to the add-one
    # LM's budget)
    "graph_hits_bipartite_topk",
    "lm_bigram_kneser_ney",
    # round 4 final: published-rule quality filtering (pure expression
    # throughput over the full text column), the (doc,gram)-distinct
    # novelty census (the duplicate-passages shuffle class), and the
    # one-BIGINT-per-table content checksum (cheapest full scan audit)
    "quality_gopher_rules",
    "text_novelty_unique_ngrams",
    "dq_table_checksum",
]


def _stage_ingest_csv(spark, sf_dir: str) -> str:
    """Materialize an election-results CSV from the synthetic corpus (once
    per sf, cached) so the bench covers the reference's core capability:
    messy-CSV ingest → canonical frame."""
    import hashlib
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = f"/tmp/bench_ingest_{tag}"
    if not os.path.isdir(out) or not os.listdir(out):
        from pyspark.sql import functions as F
        from results_ingestor_spark.operators.election import contest_precinct_frame
        frame = contest_precinct_frame(spark, sf_dir).select(
            F.col("contest_name").alias("Contest Name"),
            F.col("county").alias("County Name"),
            F.col("precinct").alias("Precinct"),
            F.col("candidate").alias("Choice"),
            F.col("party_candidate").alias("Choice Party"),
            F.col("election_day").alias("Election Day"),
            F.col("one_stop").alias("One Stop"),
            F.col("absentee_by_mail").alias("Absentee by Mail"),
            F.col("provisional").alias("Provisional"),
            F.col("total_votes").alias("Total Votes"),
            F.col("winner_flag").alias("Winner"))
        frame.coalesce(4).write.mode("overwrite").option("header", "true").csv(out)
        for f in os.listdir(out):  # spark writes part-*.csv + _SUCCESS
            if not f.endswith(".csv"):
                os.remove(os.path.join(out, f))
    return out


def _run_noop(spark, qs, name: str, sf_dir: str) -> None:
    """Run one registered query to completion through the noop sink,
    then release any checkpoint blocks the plan scoped to its result
    (operators/ckpt.py) — interleaved passes re-invoke every query,
    and unreleased localCheckpoint blocks accumulate across calls (the
    round-5-measured leak class)."""
    from results_ingestor_spark.operators.ckpt import release_result
    df = qs[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    release_result(df)


def _run_ingest(spark, csv_dir: str) -> None:
    from results_ingestor_spark.operators.ingest import ingest_result_files
    ingest_result_files(spark, csv_dir).write.format(
        "noop").mode("overwrite").save()


def _run_rollup_sink(spark, sf_dir: str, qs) -> None:
    """The flagship rollup WITH a real parquet sink — the reference's
    pain point was the write path (row-wise to_sql), so the bench must
    time compute + materialization, not compute alone."""
    qs["rollup_contest_county"](spark, sf_dir).write.mode(
        "overwrite").parquet("/tmp/bench_rollup_sink")


def _bench_rollup_jdbc(spark, sf_dir: str, qs) -> float:
    """The reference's EXACT pain path — county rollup written to a SQL
    database (ingestor_precinct.py drives pandas.to_sql row-wise; here
    it is Spark's batched JDBC writer against embedded Derby, the
    in-JVM database that ships with Spark).  Timed as compute + typed
    batched INSERTs end-to-end."""
    from results_ingestor_spark.sources.jdbc_sink import write_jdbc_append
    url = "jdbc:derby:memory:bench_sink;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    def run(table):
        write_jdbc_append(qs["rollup_contest_county"](spark, sf_dir),
                          url, table, driver=driver, num_partitions=8)

    run("rollup_warm")
    best = float("inf")
    for i in range(3):
        t0 = time.time()
        run(f"rollup_t{i}")
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    import __spark_entry__ as e
    from results_ingestor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    qs = e.queries()

    # Session warmup: run the flagship pipeline once untimed so JIT /
    # classloading / page-cache costs don't land on whichever query is
    # timed first (measured swing without this: ~1 s on the rollup).
    qs["rollup_contest_county"](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()

    # INTERLEAVED measurement (round-4 review item 4): single
    # sequential best-of-3 per query can swing ±40% with host load —
    # commit f6da589 proved an apparent 43% regression was pure load
    # variance.  So instead of timing each query's repeats
    # back-to-back, run ROUNDS full passes over the whole set and time
    # each query once per pass: a load spike then lands on one PASS
    # (visible in the anchor spread below), not on one query's entire
    # sample.  Per-query scalar stays min-across-passes — the same
    # "best observed steady-state" statistic every prior round
    # reported, so round-over-round anchors remain like-for-like.
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    names = [n for n in HEADLINE if n in qs]
    csv_dir = _stage_ingest_csv(spark, sf_dir)
    special = {
        "csv_ingest_pipeline": lambda: _run_ingest(spark, csv_dir),
        "rollup_sink_parquet": lambda: _run_rollup_sink(spark, sf_dir, qs),
    }
    samples: dict[str, list[float]] = {
        n: [] for n in names + list(special)}
    first_pass = 0.0
    for name in names:  # warm pass (JIT, file listing, first plan builds)
        t0 = time.time()
        _run_noop(spark, qs, name, sf_dir)
        first_pass += time.time() - t0
    for fn in special.values():
        fn()
    for _ in range(rounds):
        for name in names:
            t0 = time.time()
            _run_noop(spark, qs, name, sf_dir)
            samples[name].append(time.time() - t0)
        for name, fn in special.items():
            t0 = time.time()
            fn()
            samples[name].append(time.time() - t0)

    timings = {n: round(min(s), 3) for n, s in samples.items()}
    # The reference's to_sql path, timed separately: the 543k-row Derby
    # INSERT stream is a database-side cost (single-JVM embedded DB),
    # not engine throughput, so it reports beside the headline total
    # rather than inside it.
    try:
        jdbc_sec = _bench_rollup_jdbc(spark, sf_dir, qs)
    except Exception:
        jdbc_sec = None  # Derby unavailable: keep the bench completing

    # Like-for-like round-over-round anchor: the sum over the ORIGINAL
    # round-1 headline set (13 entries).  The full headline list has
    # grown every round, so "value" totals across different query sets;
    # this subtotal is the number to compare against BENCH_r01's 12.27 s.
    r01_set = [
        "rollup_contest_county", "district_extraction", "q1_pricing_summary",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "window_rank_orders", "events_tumbling_hour", "dedup_minhash_lsh",
        "text_quality_score", "ann_cosine_topk", "asof_join_purchase_signup",
        "events_sessionize", "csv_ingest_pipeline",
    ]
    # Second frozen anchor: the 27-entry set BENCH_r03 reported (the
    # round-3 HEADLINE list + the ingest and parquet-sink entries).
    # Future rounds may grow HEADLINE; this subtotal stays like-for-like
    # against BENCH_r03's 34.284 s total.
    r03_set = r01_set + [
        "q6_forecast_revenue", "q18_large_volume_customer",
        "q21_suppliers_kept_waiting", "market_basket_rules",
        "embedding_random_projection", "text_chunk_windows",
        "lm_bigram_perplexity", "bpe_train_merges", "join_bloom_prefilter",
        "dedup_incremental_new_batch", "dedup_minhash_lsh_fast",
        "embedding_covariance", "ann_maxsim_topk", "rollup_sink_parquet",
    ]
    r04_set = r03_set + [
        "graph_pagerank_top20", "spatial_knn",
        "privacy_k_anonymity", "dedup_semantic_clusters",
    ]

    def _anchor_spread(subset: list[str]) -> dict[str, float]:
        """Per-PASS subtotal spread for an anchor: pass p's subtotal
        sums every subset query's pass-p time, so a host-load spike
        shows up as max >> median instead of silently inflating (or a
        lucky pass deflating) the anchor.  Round-over-round deltas
        smaller than this spread are noise, not plan changes."""
        per_pass = [
            sum(samples[n][p] for n in subset if n in samples)
            for p in range(rounds)]
        per_pass.sort()
        mid = per_pass[len(per_pass) // 2] if rounds % 2 else (
            per_pass[rounds // 2 - 1] + per_pass[rounds // 2]) / 2
        return {"min": round(per_pass[0], 3), "median": round(mid, 3),
                "max": round(per_pass[-1], 3)}

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "bench_rounds_interleaved": rounds,
        # the untimed first pass over HEADLINE (first plan builds, but
        # the flagship's, which the session warm-up made) vs the same
        # entries' total in each timed pass
        "first_pass_sec": round(first_pass, 3),
        "warm_pass_sec": [round(sum(samples[n][p] for n in names), 3)
                          for p in range(rounds)],
        "r01_subset_sec": round(
            sum(timings[n] for n in r01_set if n in timings), 3),
        "r03_subset_sec": round(
            sum(timings[n] for n in r03_set if n in timings), 3),
        # Third frozen anchor: the 31-entry round-4 headline set (r03
        # set + pagerank/spatial/privacy/semdedup) so round 5 has a
        # like-for-like subtotal after HEADLINE grows again.
        "r04_subset_sec": round(
            sum(timings[n] for n in r04_set if n in timings), 3),
        "anchor_spread": {
            "r01_subset_sec": _anchor_spread(r01_set),
            "r03_subset_sec": _anchor_spread(r03_set),
            "r04_subset_sec": _anchor_spread(r04_set),
        },
    }
    if jdbc_sec is not None:
        out["rollup_sink_jdbc_sec"] = jdbc_sec
    print(json.dumps(out))


if __name__ == "__main__":
    main()
