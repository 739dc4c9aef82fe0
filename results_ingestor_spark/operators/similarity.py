"""Similarity search over embedding columns (north-star M3).

Two tiers:
* ``brute_force_topk`` — exact cosine top-k, a JVM-side fold (no UDF)
  per query × candidate; oracle-checkable, and the right baseline at
  any scale where the query set fits a broadcast.
* ``lsh_bucketed_topk`` — the scale path: 16 md5-derived
  random-hyperplane sign bits bucket the space; candidates share the
  query's bucket up to ``max_hamming`` bit flips (recall vs brute force
  in tests/test_similarity.py).

One cosine path: every relation feeding a pair join is ``normed`` (its
L2 norms computed once per vector, carried as a column) and every pair
is scored by ``functions/vector.py::cosine`` over two of them — no pair
expression evaluates a norm, and the output is bit-identical to
folding both norms per pair (argument in functions/vector.py).  Around
the score there is one top-k tail (``_top_k``), one IVF probe body
(``_ivf_search``) and one banded candidate generator (``banded_pairs``).
Every vector constant (LSH hyperplanes, k-means and IVF centroids)
rides the one-row constants relation ``quantization.codebook_relation``
cross-joined onto the vectors; none is folded into the plan as literals.

At 100 TB: both paths broadcast the (small) query set; the LSH path
additionally prunes candidates by bucket before any dot product, cutting
the scan's compute by ~2^bits/Σ C(bits, ≤h).  For a billion-vector
corpus the bucket table would be written bucketed-by-key so probes are
partition-pruned scans.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from results_ingestor_spark.functions.vector import cosine, dot, l2_norm
from results_ingestor_spark.operators.quantization import (
    codebook_relation, lloyd_train)
from results_ingestor_spark.sources.tables import (
    ensure_min_parallelism, local_relation)

N_PLANES = 16
_PLANE_MOD = 2001  # component ∈ [-1, 1] in steps of 1e-3


def _plane_component(j: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component derived from
    md5(j|d) — reproducible in SQL for parity tests."""
    import hashlib
    h = int(hashlib.md5(f"{j}|{d}".encode()).hexdigest()[:15], 16)
    return ((h % _PLANE_MOD) - (_PLANE_MOD - 1) // 2) / 1000.0


def hyperplanes(dim: int) -> list[list[float]]:
    return [[_plane_component(j, d) for d in range(dim)] for j in range(N_PLANES)]


def _with_book(df: DataFrame, book: list[list[float]], out_col: str,
               fold) -> DataFrame:
    """Add ``out_col`` = ``fold(book)`` per row, the book (entry ``i``
    as ``code = i``) on the one-row ``codebook_relation`` crossJoined
    onto ``df``."""
    return (df.crossJoin(codebook_relation(df.sparkSession, [book]))
            .withColumn(out_col, fold(F.element_at(F.col("__books"), 1)))
            .drop("__books"))


def bucketed(df: DataFrame, vec_col: str, dim: int, out_col: str) -> DataFrame:
    """Add ``out_col``, the sign-bit bucket id: bit j set iff
    dot(vec, plane_j) > 0, one fold over the planes book.  ``dot`` is
    the sequential fold the oracle twin
    (plans/similarity_q.py::_lsh_bucket_sql) replays, and the weights
    2^j < 2^16 are exact ints, so every bucket is bit-exact."""
    def bit(acc, p):
        side = dot(F.col(vec_col), p["c"])
        return acc + F.when(side > 0, F.pow(F.lit(2), p["code"]).cast("int")
                            ).otherwise(F.lit(0))

    return _with_book(df, hyperplanes(dim), out_col,
                      lambda book: F.aggregate(book, F.lit(0), bit))


def normed(df: DataFrame, vec_col: str, vec_as: str, nrm_as: str,
           *keys) -> DataFrame:
    """The norm-carrying vector relation: ``keys``, then ``vec_col`` as
    ``vec_as`` and its L2 norm as ``nrm_as``, evaluated once per row."""
    return df.select(*keys, F.col(vec_col).alias(vec_as),
                     l2_norm(vec_col).alias(nrm_as))


def _pair_cosine(a: str = "qvec", na: str = "qn", b: str = "cvec",
                 nb: str = "cn") -> F.Column:
    """The pair score: ``cosine`` over two norm-carrying relations,
    snapped to 9 dp for an engine-portable ordering."""
    from results_ingestor_spark.plans import exact
    return exact.snap_double_col(cosine(a, na, b, nb), 9)


def _top_k(df: DataFrame, part: str, score: str, tie: str,
           k: int) -> DataFrame:
    """Rows ranked 1..k within ``part`` by ``score`` descending, ties to
    the lowest ``tie``, with their rank ``rn`` (the rank-limit is pushed
    into the sort buffer as a WindowGroupLimit)."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return (df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     ) -> DataFrame:
    """Exact top-k: broadcast the query set against every candidate,
    cosine in-JVM, per-query window top-k (rank-limit pushed into the
    sort buffer).  Rounded to 9 decimals for a stable, engine-portable
    ordering."""
    q = normed(queries, vec_col, "qvec", "qn", F.col(id_col).alias("query_id"))
    c = normed(ensure_min_parallelism(vectors), vec_col, "cvec", "cn",
               F.col(id_col).alias("cand_id"))
    sims = (c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id",
                    _pair_cosine().alias("cosine")))
    return _top_k(sims, "query_id", "cosine", "cand_id", k)


def lsh_bucketed_topk(vectors: DataFrame, queries: DataFrame, dim: int,
                      k: int = 10, max_hamming: int = 6,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      ) -> DataFrame:
    """Approximate top-k: prefilter candidates to buckets within
    ``max_hamming`` sign-bit flips of the query's bucket, then exact
    cosine + window top-k on the survivors."""
    bq = normed(bucketed(queries, vec_col, dim, "qbucket"), vec_col, "qvec",
                "qn", F.col(id_col).alias("query_id"), "qbucket")
    bc = normed(bucketed(ensure_min_parallelism(vectors), vec_col, dim,
                         "cbucket"), vec_col, "cvec", "cn",
                F.col(id_col).alias("cand_id"), "cbucket")
    cand = (bc.join(F.broadcast(bq),
                    (F.col("query_id") != F.col("cand_id"))
                    & (F.bit_count(F.col("qbucket").bitwiseXOR(F.col("cbucket")))
                       <= max_hamming)))
    sims = cand.select("query_id", "cand_id", _pair_cosine().alias("cosine"))
    return _top_k(sims, "query_id", "cosine", "cand_id", k)


def banded_pairs(vectors: DataFrame, dim: int, a: str, b: str,
                 ordered: bool) -> DataFrame:
    """Banded sign-bit LSH candidate pairs ``(a, b, cosine)`` of the
    ``vec_id``/``embedding`` rows: the 16 ``bucketed`` bits split
    into 4 bands of 4; a pair is a candidate iff it collides on ANY band
    (OR across bands lifts recall the way single-bucket equality
    cannot), and exact cosine (9 dp) scores each candidate once.
    ``ordered`` keeps each unordered pair once (a < b); otherwise both
    directions (a != b).  Every stage is an equi-join: the shuffle
    carries (band key, id), vector bodies move only for candidate ids,
    and no all-pairs join exists."""
    e = ensure_min_parallelism(vectors).select("vec_id", "embedding")
    keyed = bucketed(e, "embedding", dim, "bkt").select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("bidx"),
                     F.shiftright(F.col("bkt"), 4 * j).bitwiseAND(F.lit(15))
                     .alias("bkey"))
            for j in range(4)])).alias("band"),
    ).select("vec_id", "band.bidx", "band.bkey")
    left, right = F.col("l.vec_id"), F.col("r.vec_id")
    cand = (keyed.alias("l").join(keyed.alias("r"), ["bidx", "bkey"])
            .where(left < right if ordered else left != right)
            .select(left.alias(a), right.alias(b))
            .distinct())
    va = normed(e, "embedding", "va", "na", F.col("vec_id").alias(a))
    vb = normed(e, "embedding", "vb", "nb", F.col("vec_id").alias(b))
    return (cand.join(va, a).join(vb, b)
            .select(a, b, _pair_cosine("va", "na", "vb", "nb").alias("cosine")))


def knn_graph_banded(vectors: DataFrame, dim: int, k: int) -> DataFrame:
    """Approximate kNN graph ``(src, nbr, cosine, rn)``: each node's
    top-k ``banded_pairs`` candidates by cosine, ties to the lowest
    neighbor id.  Nodes whose bands collide with nothing emit no rows."""
    return _top_k(banded_pairs(vectors, dim, "src", "nbr", ordered=False),
                  "src", "cosine", "nbr", k)


def maxsim_topk(tokens: DataFrame, query_tokens: DataFrame, k: int = 10,
                doc_col: str = "doc_id", tok_col: str = "tok_id",
                vec_col: str = "embedding") -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: documents are
    BAGS of token vectors; score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u).

    Both inputs carry one row per token vector with (doc id, token id,
    vector).  The query token matrix is broadcast (queries × tokens ×
    dim — reranker-sized); every candidate token is scored against it
    in-JVM, then two hash aggregations reduce token-level cosines to
    doc-level MaxSim: max over candidate tokens keyed
    (q_doc, c_doc, q_tok), then sum over query tokens keyed
    (q_doc, c_doc).  Shuffle payload after the first partial agg is one
    double per (q_doc, c_doc, q_tok) — candidate vectors never move.

    At 100 TB this is the RERANK stage: run it on the candidate set an
    ANN first pass (lsh/ivf) returns, not the whole corpus.  Token
    cosines rounded to 9 dp, doc scores to 6 dp, for an engine-portable
    ordering (fold order differs across engines at ~1e-16).
    """
    from results_ingestor_spark.plans import exact
    q = normed(query_tokens, vec_col, "qvec", "qn",
               F.col(doc_col).alias("query_doc"), F.col(tok_col).alias("qtok"))
    c = normed(ensure_min_parallelism(tokens), vec_col, "cvec", "cn",
               F.col(doc_col).alias("cand_doc"))
    tok_sims = (c.join(F.broadcast(q),
                       F.col("query_doc") != F.col("cand_doc"))
                .select("query_doc", "cand_doc", "qtok",
                        _pair_cosine().alias("cos")))
    best = (tok_sims.groupBy("query_doc", "cand_doc", "qtok")
            .agg(F.max("cos").alias("best")))
    scores = (best.groupBy("query_doc", "cand_doc")
              .agg(exact.snap_double_col(F.sum("best"), 6).alias("maxsim")))
    return _top_k(scores, "query_doc", "maxsim", "cand_doc", k)


def _l2_normalized(centroids: list[list[float]]) -> list[list[float]]:
    import math
    normed = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        normed.append([float(x) / n for x in c])
    return normed


def _argmax_fold(book: F.Column, vec: F.Column) -> F.Column:
    """Argmax-dot fold over an ``array<struct<code,c>>`` codebook of
    L2-normalized centroids, keeping the best dot product.  dot(v,
    c/|c|) ranks identically to cosine for a fixed v, so no per-row
    norm is needed; strict ``>`` with ascending-code array order keeps
    the lowest centroid id on ties (deterministic).  named_struct, as
    in ``quantization.argmin_code_expr``: .alias() on struct fields is
    dropped inside higher-order-function lambdas."""

    def merge(acc, cs):
        d = dot(vec, cs["c"])
        return (F.when(d > acc["s"],
                       F.named_struct(F.lit("code"), cs["code"], F.lit("s"), d))
                .otherwise(acc))

    init = F.named_struct(F.lit("code"), F.lit(-1),
                          F.lit("s"), F.lit(float("-inf")))
    return F.aggregate(book, init, merge)["code"]


def assign_centroids(df: DataFrame, centroids: list[list[float]],
                     vec_col: str, out_col: str = "cid") -> DataFrame:
    """Add ``out_col`` = argmax-cosine centroid id, with the normalized
    centroid matrix on the one-row broadcast codebook relation
    (``quantization.codebook_relation``: data on the broadcast wire,
    exactly how MLlib broadcasts its centroid matrix — NOT
    expression-tree literals) cross-joined onto the input.  Plan size
    is O(1) in k; no row explosion, no aggregation, no shuffle — a
    BroadcastNestedLoopJoin against one row is a per-partition map
    (recognised by shape in tools/plan_lint.py: the constants relation
    is its build side).  Checked against a NumPy argmax reference in
    tests/test_similarity.py."""
    return _with_book(df, _l2_normalized(centroids), out_col,
                      lambda book: _argmax_fold(book, F.col(vec_col)))


def kmeans_centroids(vectors: DataFrame, n_clusters: int = 10,
                     n_iter: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[float]]:
    """Lloyd's k-means over DataFrame ops — the label-free IVF coarse
    quantizer: ``quantization.lloyd_train`` with one group, the
    argmax-dot fold, and centroids L2-normalized before each broadcast.
    Deterministic end-to-end: seeds are the ``n_clusters`` vectors with
    the smallest md5(id) (a pseudo-random spread with no RNG state),
    assignment ties break on the lowest centroid id, and mean
    recomputation is exact groupBy-avg.

    Scale shape: each iteration is one narrow map stage (assignment is a
    single fold over the broadcast centroid row — no shuffle of the
    vectors) plus one (code, pos) aggregation whose output is k x dim
    doubles.  Only the centroids (k x dim) ever reach the driver, same
    as Spark MLlib's own KMeans; an empty cluster keeps its previous
    centroid."""
    view = vectors.select(F.lit(0).alias("grp"), F.col(id_col).alias("vid"),
                          F.col(vec_col).cast("array<double>").alias("v"))
    return lloyd_train(view, 1, n_clusters, n_iter, _argmax_fold,
                       _l2_normalized)[0]


def ivf_topk_kmeans(vectors: DataFrame, queries: DataFrame, k: int = 10,
                    nprobe: int = 3, n_clusters: int = 10, n_iter: int = 3,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> DataFrame:
    """IVF approximate top-k with a LABEL-FREE coarse quantizer: k-means
    centroids (kmeans_centroids), candidates assigned by
    ``assign_centroids`` (the trainer's argmax fold), queries probe
    their ``nprobe`` nearest centroid lists.
    At scale the assigned table is written partitioned by centroid_id so
    probes are partition-pruned scans."""
    cents_list = kmeans_centroids(vectors, n_clusters, n_iter, id_col, vec_col)
    cents = (codebook_relation(vectors.sparkSession, [cents_list])
             .select(F.inline(F.element_at(F.col("__books"), 1)))
             .select(F.col("code").alias("centroid_id"),
                     F.col("c").alias("centroid")))
    cands = assign_centroids(ensure_min_parallelism(vectors), cents_list,
                             vec_col, "centroid_id")
    return _ivf_search(cands, queries, cents, k, nprobe, id_col, vec_col)


def _ivf_search(cands: DataFrame, queries: DataFrame, cents: DataFrame,
                k: int, nprobe: int, id_col: str, vec_col: str) -> DataFrame:
    """The IVF probe body both variants share: rank the
    ``(centroid_id, centroid)`` lists per query by cosine (ties to the
    lowest id), keep ``nprobe``, then exact cosine top-k over the
    candidates (``cands``, carrying their list id as ``centroid_id``)
    in a probed list."""
    q = normed(queries, vec_col, "qvec", "qn", F.col(id_col).alias("query_id"))
    qc = (q.join(F.broadcast(normed(cents, "centroid", "centroid", "cnrm",
                                    "centroid_id")))
          .select("query_id", "qvec", "qn", "centroid_id",
                  cosine("qvec", "qn", "centroid", "cnrm").alias("csim")))
    probes = (_top_k(qc, "query_id", "csim", "centroid_id", nprobe)
              .select("query_id", "qvec", "qn", "centroid_id"))
    cand = normed(cands, vec_col, "cvec", "cn",
                  F.col(id_col).alias("cand_id"), "centroid_id")
    sims = (cand.join(F.broadcast(probes), "centroid_id")
            .where(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id",
                    _pair_cosine().alias("cosine")))
    return _top_k(sims, "query_id", "cosine", "cand_id", k)


def label_centroids(vectors: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Elementwise-mean centroid per label — the IVF coarse quantizer.
    (In a labelless corpus these come from k-means; the corpus ships
    cluster labels, so the assignment step is the demonstrated part.)"""
    exploded = vectors.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    means = (exploded.groupBy(label_col, "pos")
             .agg(F.avg(F.col("x").cast("double")).alias("m")))
    return (means.groupBy(label_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(F.col(label_col).alias("centroid_id"),
                    F.transform("pm", lambda s: s["m"]).alias("centroid")))


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             nprobe: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding", label_col: str = "label",
             ) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid
    lists, exact cosine only within them.  At scale the vectors table is
    written partitioned by centroid_id, so a probe reads nprobe/N of the
    corpus — candidate pruning happens at the storage layer, not the
    scan."""
    cands = ensure_min_parallelism(vectors).withColumn(
        "centroid_id", F.col(label_col))
    return _ivf_search(cands, queries,
                       label_centroids(vectors, id_col, vec_col, label_col),
                       k, nprobe, id_col, vec_col)


def mmr_rerank(vectors: DataFrame, queries: DataFrame, k: int = 10,
               pool: int = 50, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding",
               ) -> DataFrame:
    """Maximal-Marginal-Relevance diversity rerank: retrieve a ``pool``
    of candidates per query DISTRIBUTED (the brute-force/LSH/IVF stage
    above), then greedily pick k that trade relevance against
    redundancy: argmax over remaining of
        lam·sim(q, d) − (1−lam)·max_{s∈selected} sim(d, s).
    The rerank is the retrieval stack's second stage — it runs on the
    POOL (k-bounded per query, collected like centroids/codebooks),
    because the greedy argmax is inherently sequential in k; the
    corpus-sized work all happened in stage 1.

    Deterministic: cosine ties break on cand_id ascending everywhere.
    """
    import numpy as np

    top = brute_force_topk(vectors, queries, k=pool,
                           id_col=id_col, vec_col=vec_col)
    vecs = vectors.select(F.col(id_col).alias("cand_id"),
                          F.col(vec_col).alias("v"))
    pool_rows = (top.join(vecs, "cand_id")
                 .select("query_id", "cand_id", "cosine", "v")
                 .collect())  # pool × queries rows — k-bounded contract
    by_q: dict[int, list] = {}
    for r in pool_rows:
        by_q.setdefault(r["query_id"], []).append(r)
    out = []
    for qid, rows in sorted(by_q.items()):
        rows.sort(key=lambda r: (-r["cosine"], r["cand_id"]))
        ids = [r["cand_id"] for r in rows]
        rel = np.array([r["cosine"] for r in rows])
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        sim = (mat @ mat.T) / np.outer(nrm, nrm)
        chosen: list[int] = []
        remaining = list(range(len(ids)))
        while remaining and len(chosen) < k:
            best_i, best_score = None, None
            for i in remaining:
                red = max((sim[i, j] for j in chosen), default=0.0)
                score = lam * rel[i] - (1 - lam) * red
                if (best_score is None or score > best_score
                        or (score == best_score and ids[i] < ids[best_i])):
                    best_i, best_score = i, score
            chosen.append(best_i)
            remaining.remove(best_i)
            out.append((qid, ids[best_i], len(chosen),
                        _math.floor(float(rel[best_i]) * 1e9 + 0.5)
                        / 1e9,
                        _math.floor(float(best_score) * 1e9 + 0.5)
                        / 1e9))
    return local_relation(
        vectors.sparkSession, out,
        "query_id long, cand_id long, mmr_rank int, "
        "cosine double, mmr_score double")
