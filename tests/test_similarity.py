"""Similarity-search tests: brute-force correctness + LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from results_ingestor_spark.operators.similarity import (
    brute_force_topk, bucketed, hyperplanes, lsh_bucketed_topk)
from results_ingestor_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


def test_brute_force_matches_numpy(spark, emb):
    sample = emb.where(F.col("vec_id") < 50).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in sample}
    df = spark.createDataFrame([(k, v) for k, v in vecs.items()],
                               ["vec_id", "embedding"])
    got = brute_force_topk(df, df.where(F.col("vec_id") == 0), k=5).collect()

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return dot / (na * nb)

    expected = sorted(((round(cos(vecs[0], v), 9), k)
                       for k, v in vecs.items() if k != 0),
                      key=lambda t: (-t[0], t[1]))[:5]
    assert [(r["cosine"], r["cand_id"]) for r in got] == expected


def test_lsh_recall_vs_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_bucketed_topk(emb, queries, dim=64, k=10, max_hamming=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
               for q in exact_sets]
    # hamming<=8 of 16 bits keeps ~mid recall at far lower compare count;
    # random-projection LSH on near-orthogonal vectors: assert it beats
    # random chance by a wide margin and never returns a non-candidate
    assert sum(recalls) / len(recalls) >= 0.5


def test_bucketed_deterministic(spark, emb):
    b1 = bucketed(emb, "embedding", 64, "b").select("b").collect()
    b2 = bucketed(emb, "embedding", 64, "b").select("b").collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]
    assert all(0 <= r["b"] < (1 << 16) for r in b1)


def _seq_dot(a, b):
    """Left-to-right double sum, the order of functions/vector.py::dot
    (np.sum would sum pairwise and could differ in the last bit)."""
    import numpy as np
    return np.cumsum(np.asarray(a, np.float64) * np.asarray(b, np.float64))[-1]


def test_bucketed_matches_numpy(spark, emb):
    """Every bucket equals an independent NumPy replay of the sign
    bits: bit j set iff the sequential dot with plane j is > 0."""
    e = emb.select("vec_id", "embedding").where(F.col("vec_id") < 400)
    got = {r["vec_id"]: r["b"]
           for r in bucketed(e, "embedding", 64, "b").collect()}
    planes = hyperplanes(64)
    want = {r["vec_id"]: sum(1 << j for j, p in enumerate(planes)
                             if _seq_dot(r["embedding"], p) > 0)
            for r in e.collect()}
    assert got == want
    assert len(want) > 1 and len(set(want.values())) > 1


def test_ivf_recall_scales_with_nprobe(spark, emb):
    from results_ingestor_spark.operators.similarity import (
        brute_force_topk, ivf_topk)
    queries = emb.where(F.col("vec_id") < 20)
    exact = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["cand_id"])

    def recall(nprobe):
        got = {}
        for r in ivf_topk(emb, queries, k=10, nprobe=nprobe).collect():
            got.setdefault(r["query_id"], set()).add(r["cand_id"])
        return sum(len(exact[q] & got.get(q, set())) / len(exact[q])
                   for q in exact) / len(exact)

    r5 = recall(5)
    # probing half the lists must recover well above half-at-random
    # (random 10-of-499 would give recall ~0.02)
    assert r5 >= 0.4
    assert recall(10) >= 0.99  # probing every list == brute force


def test_ivf_kmeans_label_free_recall(spark, emb):
    """The k-means coarse quantizer must reach the recall bound WITHOUT
    reading the label column, and probing every list must equal brute
    force exactly (candidate partitioning is lossless)."""
    from results_ingestor_spark.operators.similarity import (
        brute_force_topk, ivf_topk_kmeans)
    queries = emb.where(F.col("vec_id") < 20)
    unlabeled = emb.select("vec_id", "embedding")  # label never visible
    exact = {}
    for r in brute_force_topk(unlabeled, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["cand_id"])

    def recall(nprobe):
        got = {}
        for r in ivf_topk_kmeans(unlabeled, queries, k=10,
                                 nprobe=nprobe).collect():
            got.setdefault(r["query_id"], set()).add(r["cand_id"])
        return sum(len(exact[q] & got.get(q, set())) / len(exact[q])
                   for q in exact) / len(exact)

    assert recall(3) >= 0.3   # measured ~0.58 at sf0.01; margin below
    assert recall(10) >= 0.99  # all lists probed == brute force


def test_mmr_rerank_matches_numpy_and_diversifies(spark, sf_dir):
    """MMR selection must (1) equal an independent greedy recompute and
    (2) be no MORE redundant than plain top-k at the same depth."""
    import numpy as np
    import pandas as pd

    from results_ingestor_spark.operators.similarity import (
        brute_force_topk, mmr_rerank)
    from results_ingestor_spark.plans import QUERIES

    df = QUERIES["ann_mmr_diverse_topk"](spark, sf_dir)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = df.collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    top = {(r["query_id"], r["cand_id"]): r["cosine"]
           for r in brute_force_topk(
               e, e.where("vec_id < 5"), k=50).collect()}

    lam = 0.7
    by_q = {}
    for (q, c), cos in top.items():
        by_q.setdefault(q, []).append((c, cos))
    for q, cands in by_q.items():
        cands.sort(key=lambda t: (-t[1], t[0]))
        chosen = []
        remaining = list(cands)
        want = []
        while remaining and len(chosen) < 10:
            def red(c):
                if not chosen:
                    return 0.0
                return max(
                    float(vecs[c] @ vecs[s]
                          / (np.linalg.norm(vecs[c])
                             * np.linalg.norm(vecs[s])))
                    for s in chosen)
            scored = [(lam * cos - (1 - lam) * red(c), c)
                      for c, cos in remaining]
            best = max(scored, key=lambda t: (t[0], -t[1]))
            chosen.append(best[1])
            want.append(best[1])
            remaining = [(c, cos) for c, cos in remaining if c != best[1]]
        got_q = [r["cand_id"] for r in sorted(
            (r for r in got if r["query_id"] == q),
            key=lambda r: r["mmr_rank"])]
        assert got_q == want, f"query {q}"

    # diversity: mean pairwise similarity of the MMR set must not
    # exceed that of the plain top-10
    def mean_pairsim(idset):
        ids = list(idset)
        sims = [vecs[a] @ vecs[b]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
                for i, a in enumerate(ids) for b in ids[i + 1:]]
        return float(np.mean(sims))
    for q, cands in by_q.items():
        plain10 = [c for c, _ in sorted(cands, key=lambda t: (-t[1], t[0]))[:10]]
        mmr10 = [r["cand_id"] for r in got if r["query_id"] == q]
        assert mean_pairsim(mmr10) <= mean_pairsim(plain10) + 1e-9


def test_ivf_tuning_curve_monotone(spark, sf_dir):
    """Recall@10 must be nondecreasing in nprobe (more lists scanned
    can only add candidates), reach the brute-force set at full probe
    depth's neighborhood, and report the right scan fractions."""
    from results_ingestor_spark.plans import QUERIES
    rows = sorted(QUERIES["ann_ivf_tuning_curve"](spark, sf_dir).collect(),
                  key=lambda r: r.nprobe)
    recalls = [r.recall_at_10 for r in rows]
    assert recalls == sorted(recalls)
    assert all(r.n_queries == rows[0].n_queries for r in rows)
    assert rows[0].corpus_scan_fraction < rows[-1].corpus_scan_fraction
    assert recalls[-1] >= 0.4   # 4 of 8 lists probed recovers much
    assert recalls[-1] > recalls[0]  # the curve actually climbs


def test_maxsim_numpy_model_and_bounds(spark):
    """MaxSim vs a tiny hand-computed model: a candidate doc that shares
    a token vector with the query dominates one that is orthogonal, and
    every score is bounded by the query's token count."""
    from results_ingestor_spark.operators.similarity import maxsim_topk

    def basis(i, d=8):
        v = [0.0] * d
        v[i] = 1.0
        return v

    # query doc 0: tokens e0, e1.  cand doc 2: {e0, e1} (perfect match),
    # cand doc 3: {e2, e3} (orthogonal), cand doc 4: {e0, e4} (half match).
    rows = []
    for doc, dims in ((0, (0, 1)), (2, (0, 1)), (3, (2, 3)), (4, (0, 4))):
        for j, dim in enumerate(dims):
            rows.append((doc, doc * 10 + j, basis(dim)))
    df = spark.createDataFrame(rows, ["doc_id", "tok_id", "embedding"])
    got = maxsim_topk(df.where(F.col("doc_id") >= 2),
                      df.where(F.col("doc_id") < 2), k=10).collect()
    by_cand = {r["cand_doc"]: r for r in got if r["query_doc"] == 0}
    assert by_cand[2]["maxsim"] == pytest.approx(2.0)
    assert by_cand[4]["maxsim"] == pytest.approx(1.0)
    assert by_cand[3]["maxsim"] == pytest.approx(0.0)
    assert [r["cand_doc"] for r in sorted(got, key=lambda r: r["rn"])
            if r["query_doc"] == 0] == [2, 4, 3]
    # upper bound: sum of per-token maxima <= n_query_tokens (unit vectors)
    assert all(r["maxsim"] <= 2.0 + 1e-9 for r in got)


def test_assign_centroids_matches_numpy_argmax(spark, emb):
    """The broadcast-data argmax (assign_centroids) against an
    independent NumPy reference: centroids normalised by their
    sequential norm, argmax of the sequential dot, ties to the lowest
    centroid id (np.argmax keeps the first maximum)."""
    import numpy as np

    from results_ingestor_spark.operators.similarity import (
        assign_centroids, kmeans_centroids)

    e = emb.select("vec_id", "embedding").where(F.col("vec_id") < 400)
    cents = kmeans_centroids(e, n_clusters=8, n_iter=2)
    unit = [np.asarray(c) / np.sqrt(_seq_dot(c, c)) for c in cents]
    got = {r["vec_id"]: r["cid"]
           for r in assign_centroids(e, cents, "embedding", "cid").collect()}
    want = {r["vec_id"]: int(np.argmax([_seq_dot(r["embedding"], u)
                                        for u in unit]))
            for r in e.collect()}
    assert got == want
    assert len(got) == e.count() and len(set(got.values())) > 1


def test_assign_centroids_plan_size_constant_in_k(spark, emb):
    """Plan-size pin for the broadcast path: doubling k must NOT grow
    the expression tree (the centroid matrix rides the broadcast wire
    as data); k x dim plan literals would grow it linearly."""
    from results_ingestor_spark.operators.similarity import (
        assign_centroids)

    e = emb.select("vec_id", "embedding").limit(50)
    dim = len(e.first()["embedding"])
    mk = lambda k: [[float(i + j) for j in range(dim)] for i in range(k)]

    def plan_len(k):
        df = assign_centroids(e, mk(k), "embedding", "cid")
        return len(df._jdf.queryExecution().executedPlan().toString()), df

    n80, df80 = plan_len(80)
    n160, df160 = plan_len(160)
    # data path: same operators, same expression tree — k-invariant
    assert abs(n160 - n80) < 200, (n80, n160)
    plan = df160._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # 1-row build side
    # and the build side is data (the local constants scan), not
    # folded literals
    assert "LocalTableScan [__books" in plan


@pytest.mark.parametrize("name", [
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "ann_ivf_tuning_curve", "ann_maxsim_topk", "dedup_embedding_cosine",
    "ann_knn_graph_banded", "embedding_hubness_census",
    "embedding_isotropy_score", "embedding_whitening_effect",
    "dedup_semantic_clusters", "search_rrf_hybrid"])
def test_vector_entries_match_oracle(assert_matches_oracle, name):
    """The entries on the one cosine path (norm-carrying relations,
    the shared top-k tail, IVF probe and banded candidate generator)
    equal their DuckDB oracles cell-for-cell."""
    assert_matches_oracle(name)
