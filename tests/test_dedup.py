"""Dedup operator tests: sketch quality + the xxhash64 scale path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from results_ingestor_spark.operators.dedup import (
    hamming64, jaccard, lsh_candidate_pairs, simhash32, with_minhash)
from results_ingestor_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _mutated_corpus(docs):
    """documents ∪ near-identical copies (last token dropped, id+10000) —
    known-answer near-dups for recall assertions."""
    mutated = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')")
        .alias("text"))
    return docs.select("doc_id", "text").unionByName(mutated)


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    corpus = _mutated_corpus(docs)
    sig = with_minhash(corpus)
    pairs = lsh_candidate_pairs(sig)
    planted = {r["doc_id"] for r in
               docs.where(F.col("doc_id") % 25 == 0).select("doc_id").collect()}
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # a doc that differs by one trailing token shares almost all shingles;
    # 4x4 LSH bands must catch (nearly) every planted pair
    hits = sum(1 for d in planted if (d, d + 10000) in found)
    assert hits / len(planted) >= 0.9


def test_minhash_fast_path_same_planted_recall(spark, docs):
    corpus = _mutated_corpus(docs)
    sig = with_minhash(corpus, fast=True)  # xxhash64 — Spark-only, ~5x cheaper
    pairs = lsh_candidate_pairs(sig)
    planted = {r["doc_id"] for r in
               docs.where(F.col("doc_id") % 25 == 0).select("doc_id").collect()}
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    hits = sum(1 for d in planted if (d, d + 10000) in found)
    assert hits / len(planted) >= 0.9


def test_minhash_fast_tier_precision_vs_python_model(spark, sf_dir):
    """The fast (xxhash64) tier is rows-only at the driver gate — LSH
    banding recall is probabilistic (measured at sf0.1: 254 of 256
    exact >=0.5 pairs; see the census comment in plans/dedup_q.py), so
    no SQL oracle can value-check it.  This pin covers the half that
    IS deterministic: PRECISION.  Every emitted pair must be a true
    >=0.5 near-duplicate with its jaccard matching an independent
    plain-Python shingle-set recompute from the raw text, to the same
    9-dp rounding.
    """
    from results_ingestor_spark.plans.dedup_q import dedup_minhash_lsh_fast
    out = dedup_minhash_lsh_fast(spark, sf_dir).collect()
    assert out, "planted corpus must yield at least one near-dup pair"
    texts = {r["doc_id"]: r["text"]
             for r in load_tables(spark, sf_dir, ("documents",))
             ["documents"].select("doc_id", "text").collect()}

    def sh3(text):
        t = text.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    for r in out:
        a, b = sh3(texts[r["id_a"]]), sh3(texts[r["id_b"]])
        j = len(a & b) / len(a | b)
        assert j >= 0.5
        assert round(j, 9) == r["jaccard"], (r["id_a"], r["id_b"])


def test_simhash_near_dups_have_small_hamming(spark, docs):
    corpus = _mutated_corpus(docs)
    sig = simhash32(corpus)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    joined = (a.join(b, F.col("id_b") == F.col("id_a") + 10000)
              .select(hamming64(F.col("ha"), F.col("hb")).alias("d")))
    dists = [r["d"] for r in joined.collect()]
    assert dists, "no planted pairs joined"
    # one-token mutation flips at most a few of 32 bits
    assert sum(1 for d in dists if d <= 6) / len(dists) >= 0.9


def test_simhash_fast_path_runs(spark, docs):
    out = simhash32(docs.limit(50), fast=True).collect()
    assert len(out) == 50
    assert all(r["simhash"] is not None for r in out)


def test_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["a", "b"]), (["a", "b"], ["c", "d"])], ["x", "y"])
    vals = [r["j"] for r in df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()]
    assert vals == [1.0, 0.0]


def test_connected_components_chain_and_singleton(spark):
    from results_ingestor_spark.operators.dedup import connected_components
    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])  # chain 2-3-4, pair 10-11
    verts = spark.createDataFrame([(i,) for i in (2, 3, 4, 7, 10, 11)],
                                  ["doc_id"])
    got = {r["doc_id"]: r["cluster_rep"] for r in
           connected_components(edges, verts).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 7: 7, 10: 10, 11: 10}


def test_semantic_dedup_invariants(spark, sf_dir):
    """Every count in dedup_semantic_clusters must be consistent with a
    direct recomputation: n_vecs sums to the corpus size, and every
    dropped vector has a lower-id >=tau neighbor in its own cluster
    (the keep-first rule, recomputed independently here)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from results_ingestor_spark.functions.vector import cosine
    from results_ingestor_spark.operators.similarity import (
        assign_centroids, kmeans_centroids, normed)
    from results_ingestor_spark.sources.tables import load_tables

    res = entry.queries()["dedup_semantic_clusters"](spark, sf_dir)
    rows = res.collect()
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"] \
        .select("vec_id", "embedding")
    n = e.count()
    assert sum(r["n_vecs"] for r in rows) == n
    assert all(0 <= r["n_dropped"] <= r["n_vecs"] for r in rows)

    import math
    cents = kmeans_centroids(e, n_clusters=max(2, math.isqrt(n)), n_iter=2)
    assigned = normed(assign_centroids(e, cents, "embedding", "cid"),
                      "embedding", "embedding", "nrm", "vec_id", "cid")
    a = assigned.select("cid", F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = assigned.select("cid", F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    dropped = (a.join(b, "cid")
               .where(F.col("id_a") < F.col("id_b"))
               .where(F.round(cosine("va", "na", "vb", "nb"), 9) >= 0.35)
               .groupBy("cid").agg(F.count_distinct("id_b").alias("nd")))
    recomputed = {r["cid"]: r["nd"] for r in dropped.collect()}
    assert {r["cid"]: r["n_dropped"] for r in rows if r["n_dropped"]} \
        == recomputed

    # ADVICE r9 margin tripwire: the entry's size-gated coalesce
    # changes partial-mean summation order during training, so the
    # centroids the two engines (and any two partitionings) compute
    # differ by ~1e-16.  Assignment parity is safe only while no
    # vector sits NEAR-TIED between its best and second-best centroid
    # — assert the corpus-wide minimum argmax gap dwarfs that drift
    # envelope, so a near-tie corpus fails HERE before the driver's
    # gate sees a flipped cluster.  (Exact ties from duplicate
    # centroids would also be caught: gap 0 < the bar.)
    import numpy as np
    c = np.asarray(cents, dtype=np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    v = np.asarray(
        [r["embedding"] for r in e.select("embedding").collect()],
        dtype=np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ c.T
    top2 = np.sort(sims, axis=1)[:, -2:]
    min_gap = float(np.min(top2[:, 1] - top2[:, 0]))
    assert min_gap > 1e-9, (
        f"near-tied centroid assignment (min argmax gap {min_gap:.3e}"
        f" <= 1e-9): summation-order drift could flip a cluster"
        f" cross-engine — re-examine dedup_semantic_clusters")


def test_canonical_keep_best_policy(spark, sf_dir):
    """Keep-best invariants on the real corpus: exactly one kept doc per
    cluster, the kept doc has the cluster's max n_chars (ties to lowest
    doc_id), singletons map to themselves, and the mapping covers every
    document exactly once."""
    from results_ingestor_spark.plans import QUERIES
    rows = QUERIES["dedup_canonical_keep_best"](spark, sf_dir).collect()
    docs = {r["doc_id"]: r["n_chars"]
            for r in load_tables(spark, sf_dir, ("documents",))["documents"]
            .select("doc_id", "n_chars").collect()}
    assert len(rows) == len(docs)
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_canon: dict[int, list] = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r)
    for canonical_id, members in by_canon.items():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1 and kept[0]["doc_id"] == canonical_id
        best = max(docs[r["doc_id"]] for r in members)
        assert docs[canonical_id] == best
        ties = [r["doc_id"] for r in members if docs[r["doc_id"]] == best]
        assert canonical_id == min(ties)
    n_singleton = sum(1 for m in by_canon.values() if len(m) == 1)
    assert n_singleton > 0  # the corpus is mostly unique docs


def test_cluster_aware_split_has_zero_leakage(spark, sf_dir):
    """The cluster-aware split's defining invariant: NO verified
    near-dup pair crosses a split boundary (every cluster lands whole),
    while the id-hash split demonstrably leaks on the same corpus —
    and proportions stay near 80/10/10."""
    from pyspark.sql import functions as F
    from results_ingestor_spark.operators.dedup import (
        connected_components, jaccard, lsh_candidate_pairs, with_minhash)
    from results_ingestor_spark.plans.pipeline_q import _DOC_HASH
    from results_ingestor_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sig = with_minhash(docs).select(
        "doc_id", "__sh", "band0", "band1", "band2", "band3")
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    verified = (pairs.join(a, "id_a").join(b, "id_b")
                .where(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
                .select("id_a", "id_b")).cache()
    labeled = connected_components(verified, docs.select("doc_id"))
    labeled = labeled.withColumnRenamed("cluster_rep", "rep")

    def split_of(expr):
        h = F.expr(expr) % 100
        return F.when(h < 80, "train").when(h < 90, "val").otherwise("test")

    cluster_split = labeled.select(
        "doc_id", split_of(_DOC_HASH.replace("doc_id", "rep")).alias("s"))
    id_split = labeled.select("doc_id", split_of(_DOC_HASH).alias("s"))

    def crossings(assign):
        sa = assign.select(F.col("doc_id").alias("id_a"),
                           F.col("s").alias("s_a"))
        sb = assign.select(F.col("doc_id").alias("id_b"),
                           F.col("s").alias("s_b"))
        return (verified.join(sa, "id_a").join(sb, "id_b")
                .where(F.col("s_a") != F.col("s_b")).count())

    assert crossings(cluster_split) == 0      # the invariant
    assert crossings(id_split) > 0            # the leak it repairs
    frac = (cluster_split.groupBy("s").count().collect())
    total = sum(r["count"] for r in frac)
    by = {r["s"]: r["count"] / total for r in frac}
    assert abs(by["train"] - 0.8) < 0.05      # proportions preserved


def test_cdc_chunk_locality_under_insertion(spark):
    """The CDC property that justifies content-defined over fixed-offset
    chunking: inserting a span mid-document changes ONLY the chunk the
    edit lands in — every other chunk hash survives.  With fixed-offset
    chunking every post-edit chunk would shift and re-hash."""
    from results_ingestor_spark.operators.dedup import cdc_chunk_table

    base = " ".join(f"tok{i}" for i in range(400))
    # splice an insertion into the middle of the original token stream
    toks = base.split(" ")
    edited = " ".join(toks[:200] + ["INSERTED", "SPAN", "HERE"] + toks[200:])
    docs = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id long, text string")
    chunks = cdc_chunk_table(docs).collect()
    a = {r["chunk_hash"] for r in chunks if r["doc_id"] == 0}
    b = {r["chunk_hash"] for r in chunks if r["doc_id"] == 1}
    # the edit can touch at most one chunk of A (the one it split);
    # every other chunk of A must reappear verbatim in B
    assert len(a - b) <= 1
    # and the corpus actually chunked (not one giant chunk each)
    assert len(a) > 5

    # determinism: rebuilding the table yields identical rows
    again = cdc_chunk_table(docs).collect()
    key = lambda r: (r["doc_id"], r["chunk"])  # noqa: E731
    assert sorted(map(tuple, chunks), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, again), key=lambda t: (t[0], t[1]))
