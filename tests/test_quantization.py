"""Product quantization (operators/quantization.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from results_ingestor_spark.operators.quantization import (
    codebook_relation, pq_encode, pq_train, subvector)
from results_ingestor_spark.sources.tables import load_tables, local_relation


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


@pytest.fixture(scope="module")
def books(spark, emb):
    return pq_train(emb, dim=64, m=8, k=16, n_iter=2)


def test_codebook_shape(books):
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)


def test_codebook_relation_is_local_and_runs_no_job(spark, books, jobs_run):
    """The constants relation is a driver-local scan: collecting it
    (and so broadcasting it) runs no Spark job, and it carries the
    books exactly, entry ``i`` of each book as ``code = i``."""
    rel = codebook_relation(spark, books)
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [__books" in plan
    assert "ExistingRDD" not in plan
    rows, jobs = jobs_run(rel.collect)
    assert jobs == 0
    assert [[(e["code"], list(e["c"])) for e in b]
            for b in rows[0]["__books"]] \
        == [list(enumerate(map(list, b))) for b in books]


@pytest.mark.parametrize("rows,schema", [
    ([(4, 4), (8, 2)], "b int, r int"),
    ([(0.5,), (0.95,)], "sim double"),
    ([(0, 0.25, 1.5, -2.0)],
     "iteration long, loss double, w0 double, w1 double"),
    ([(0, 3.5, 0.6, 0.6), (1, 1.25, 0.2, 0.8)],
     "component int, eigenvalue double, explained_ratio double, "
     "cumulative_ratio double"),
    ([("ab", -1.5, 0), ("\x00", -9.0, 1)],
     "piece string, logprob double, rank int"),
    ([(1, 7, 1, 0.9, 0.63), (1, 3, 2, None, 0.1)],
     "query_id long, cand_id long, mmr_rank int, "
     "cosine double, mmr_score double"),
])
def test_local_relation_keeps_schema_and_runs_no_job(spark, jobs_run,
                                                     rows, schema):
    """Each driver-built table (the LSH S-curve grids, the classifier
    trajectory, PCA eigenvalues, the unigram vocab, the MMR list) keeps
    the schema ``createDataFrame`` of the Python rows gave it, and is a
    driver-local scan whose collect runs no Spark job."""
    rel = local_relation(spark, rows, schema)
    assert rel.schema == spark.createDataFrame(rows, schema).schema
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got, jobs = jobs_run(rel.collect)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows


def test_train_deterministic(emb, books):
    again = pq_train(emb, dim=64, m=8, k=16, n_iter=2)
    assert books == again


def test_codes_in_range_and_deterministic(emb, books):
    enc = pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
        assert r["pq_sqerr"] >= 0.0
    again = {r["vec_id"]: list(r["codes"]) for r in
             pq_encode(emb, books).collect()}
    assert {r["vec_id"]: list(r["codes"]) for r in rows} == again


def test_code_is_argmin(spark, emb, books):
    """Spot-check: the reported sqerr equals the true min distance over
    the codebook for subspace 0 of a few vectors."""
    sample = emb.where(F.col("vec_id") < 5).select(
        "vec_id", subvector("embedding", 0, 8).alias("sv")).collect()
    enc = {r["vec_id"]: r for r in
           pq_encode(emb.where(F.col("vec_id") < 5), books).collect()}
    for r in sample:
        dists = [sum((a - b) ** 2 for a, b in zip(r["sv"], c))
                 for c in books[0]]
        assert enc[r["vec_id"]]["codes"][0] == dists.index(min(dists))


def test_lloyd_improves_over_seeds(emb):
    """Total reconstruction error must not increase with iterations
    (Lloyd monotonicity — assignment and update both non-increasing)."""
    def total(n_iter):
        b = pq_train(emb, dim=64, m=8, k=16, n_iter=n_iter)
        return pq_encode(emb, b).agg(F.sum("pq_sqerr")).first()[0]
    e0, e1, e2 = total(0), total(1), total(2)
    assert e1 <= e0 + 1e-9
    assert e2 <= e1 + 1e-9


def test_encode_plan_no_python_no_shuffle(emb, books):
    p = (pq_encode(emb, books)
         ._jdf.queryExecution().executedPlan().toString())
    # r12: the codebooks ride a 1-row BroadcastExchange (data, not
    # m*k plan literals) — still NO shuffle exchange and no Python.
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "RoundRobinPartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_adc_topk_beats_random_and_is_deterministic(spark, emb, books):
    """ADC: table-lookup distances must rank near the exact L2 order —
    recall@10 well above random (10/499 ≈ 0.02) — and be reproducible."""
    from pyspark.sql import functions as F
    from results_ingestor_spark.operators.quantization import (
        exact_l2_topk, pq_adc_topk)
    q = emb.where(F.col("vec_id") < 5)
    a = pq_adc_topk(emb, q, books, k=10)
    x = exact_l2_topk(emb, q, k=10)
    hits = (a.select("query_id", "cand_id")
            .join(x.select("query_id", "cand_id"),
                  ["query_id", "cand_id"]).count())
    n_q = q.count()
    assert hits / (10.0 * n_q) >= 0.1  # 8x16 books: measured 0.22
    got = {(r["query_id"], r["rn"]): r["cand_id"] for r in a.collect()}
    again = {(r["query_id"], r["rn"]): r["cand_id"] for r in
             pq_adc_topk(emb, q, books, k=10).collect()}
    assert got == again


def test_adc_exact_when_codebook_holds_every_vector(spark):
    """Degenerate exactness: if every vector IS a centroid, ADC distance
    equals exact distance, so the rankings must coincide."""
    from pyspark.sql import functions as F
    from results_ingestor_spark.operators.quantization import (
        exact_l2_topk, pq_adc_topk)
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = [[[float(x) for x in r[1][j * 2:(j + 1) * 2]] for r in rows]
             for j in range(4)]
    q = df.where(F.col("vec_id") < 2)
    a = {(r["query_id"], r["rn"]): r["cand_id"]
         for r in pq_adc_topk(df, q, books, k=3).collect()}
    x = {(r["query_id"], r["rn"]): r["cand_id"]
         for r in exact_l2_topk(df, q, k=3).collect()}
    assert a == x


@pytest.mark.parametrize("name", [
    "ann_ivf_topk", "ann_ivf_index_stats", "embedding_pq_compression",
    "ann_pq_adc_topk", "dedup_semantic_clusters"])
def test_trainer_entries_match_oracle(assert_matches_oracle, name):
    """Every entry built on the shared Lloyd trainer equals its DuckDB
    oracle cell-for-cell (tools/check_correctness.py's exact, type-tagged
    comparison, order-insensitive) — the k-means and PQ oracles replay
    seeding, folds and updates in SQL, so a drifted centroid shows."""
    assert_matches_oracle(name)
