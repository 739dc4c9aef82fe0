"""Cross-engine determinism tests for expression helpers."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from results_ingestor_spark.functions.agg import pg_string_agg_distinct
from results_ingestor_spark.functions.hashing import md5_long
from results_ingestor_spark.functions.vector import cosine, l2_norm
from results_ingestor_spark.plans.oracles import md5_long_sql, sad


def test_md5_long_matches_duckdb(spark):
    vals = ["hello", "world", "", "DISTRICT 9", "ünïcode"]
    sdf = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in sdf.select("s", md5_long("s", seed="x").alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.sql(f"select {md5_long_sql('?', seed='x')}".replace("?", f"'{v}'")).fetchone()[0]
        assert got[v] == want, v


def test_pg_string_agg_distinct_matches_duckdb(spark):
    rows = [("g1", "b"), ("g1", "a"), ("g1", "a"), ("g1", None),
            ("g2", None), ("g3", "z")]
    sdf = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r["agg"] for r in
           sdf.groupBy("g").agg(pg_string_agg_distinct("v").alias("agg")).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE t (g varchar, v varchar)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.sql(f"select g, {sad('v')} from t group by g").fetchall())
    assert got == want
    assert got["g1"] == "a|b"
    assert got["g2"] is None  # all-NULL group → NULL, not ''


def test_cosine_similarity(spark):
    sdf = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([0.0, 0.0], [1.0, 0.0])],
        ["a", "b"])
    normed = sdf.select("a", l2_norm("a").alias("na"), "b", l2_norm("b").alias("nb"))
    got = [r["c"] for r in normed.select(cosine("a", "na", "b", "nb").alias("c")).collect()]
    assert abs(got[0] - 0.7071067811865475) < 1e-12
    assert abs(got[1] - 1.0) < 1e-12
    assert got[2] is None  # zero-norm → NULL


def test_approx_sketches_error_bounds(spark, sf_dir):
    """The sketch query is self-verifying: it computes HLL++/GK approx
    AND exact in-plan and emits within-bound booleans — assert every
    group is within bound and the exact columns match a direct
    computation."""
    from pyspark.sql import functions as F
    from results_ingestor_spark.plans.functions_q import approx_sketches
    from results_ingestor_spark.sources.tables import load_tables
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    exact = {r["o_orderstatus"]: (r["d"], r["m"]) for r in
             orders.groupBy("o_orderstatus").agg(
                 F.countDistinct("o_custkey").alias("d"),
                 F.round(F.percentile("o_totalprice", F.lit(0.5)), 9)
                 .alias("m")).collect()}
    rows = approx_sketches(spark, sf_dir).collect()
    assert len(rows) == len(exact)
    for r in rows:
        assert r["cd_within_bound"] and r["median_within_bound"]
        d, m = exact[r["o_orderstatus"]]
        assert r["exact_customers"] == d
        assert r["exact_median"] == m


def test_bloom_filter_no_false_negatives_and_low_fp(spark):
    """operators/bloom.py contract: every inserted key tests positive
    (no false negatives — the property the join prefilter's exactness
    rests on), and the false-positive rate on disjoint keys stays near
    the theoretical (1 - e^{-kn/m})^k (< 5% at these parameters)."""
    from pyspark.sql import functions as F

    from results_ingestor_spark.operators.bloom import (
        bloom_might_contain, build_bloom_words)
    members = spark.range(10_000, 14_000).select(F.col("id").alias("k"))
    words = build_bloom_words(members, "k")
    hits = members.where(bloom_might_contain(F.col("k"), words)).count()
    assert hits == 4_000  # zero false negatives

    others = spark.range(50_000, 60_000).select(F.col("id").alias("k"))
    fp = others.where(bloom_might_contain(F.col("k"), words)).count()
    assert fp / 10_000 < 0.05
