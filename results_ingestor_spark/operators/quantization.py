"""Product quantization (PQ) — the vector-compression layer an ANN
index at 100 TB sits on (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011) — and the one Lloyd trainer
shared with the cosine k-means of ``operators/similarity.py``.

Split each d-dim vector into ``m`` subvectors; per subspace, learn a
``k``-centroid codebook with L2 Lloyd's k-means; encode every subvector
as its nearest-centroid index.  Storage drops from ``4·d`` bytes
(float32) to ``m`` bytes per vector (k ≤ 256), and asymmetric distance
computation scans codes instead of floats.

Scale shape: all ``m`` subspace k-means run JOINTLY — each Lloyd
iteration is ONE job over the (grp, vid, v) exploded view (one scan of
the corpus, assignment as a codebook fold, update as a (grp, code, pos)
hash-agg whose full output is m·k·(d/m) doubles).  Driver traffic per
iteration is those few KB of centroids.  Codebooks ride a one-row
broadcast relation (``codebook_relation``): training, encoding and ADC
cross-join it as a broadcast nested-loop join against one row — a
per-partition map, still no shuffle of vectors and no Python.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from results_ingestor_spark.sources.tables import local_relation

Books = list[list[list[float]]]


def subvector(vec_col: str, j: int, sub_dim: int) -> F.Column:
    """1-based slice of subspace ``j`` (0-indexed) as array<double>."""
    return F.transform(
        F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim),
        lambda x: x.cast("double"))


def codebook_relation(spark, books: Books) -> DataFrame:
    """ALL codebooks as ONE broadcast row —
    ``__books array<array<struct<code:int,c:array<double>>>>``, book
    ``g`` at ``element_at(__books, g + 1)``, entry ``i`` as ``code = i``
    — the one way a vector constant (codebooks, centroids, LSH planes)
    enters a plan.  Callers ``crossJoin`` it.

    Constants travel as data on the broadcast wire (as MLlib ships its
    centroid matrix), not as plan literals: the plan stays O(1) in
    m·k·d and every Lloyd iteration reuses the same generated class.
    The literal form (m=16, k=32: ~2,500 literal leaves per plan) cost
    thousands of py4j round-trips and a fresh Janino compile per
    iteration; measured same-session alternating at sf0.1, 16x32:
    trainer 4.52 -> 1.66 s, encode 4.25 -> 2.07 s, with books and
    encode rows identical (bench_runs/r12_probes.md).  The row is a
    ``sources.tables.local_relation``: driver-local, so its broadcast
    runs no Spark job."""
    rows = [([[(i, [float(x) for x in c]) for i, c in enumerate(cb)]
              for cb in books],)]
    return F.broadcast(local_relation(
        spark, rows, "__books array<array<struct<code:int,c:array<double>>>>"))


def _dist2(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda s, x: s + x)


def argmin_code_expr(book: F.Column, sub_col: F.Column) -> F.Column:
    """struct(code, sqerr): index of the L2-nearest centroid of
    ``book`` (an ``array<struct<code,c>>`` column) and the squared
    distance to it — one fold, strict ``<`` keeps the lowest code on
    ties (deterministic).  named_struct throughout: .alias() on struct
    fields is dropped inside higher-order-function lambdas, which
    would type-mismatch the CASE branches."""

    def merge(acc, entry):
        d2 = _dist2(sub_col, entry["c"])
        return (F.when(d2 < acc["sqerr"],
                       F.named_struct(F.lit("code"), entry["code"],
                                      F.lit("sqerr"), d2))
                .otherwise(acc))

    init = F.named_struct(F.lit("code"), F.lit(-1),
                          F.lit("sqerr"), F.lit(float("inf")))
    return F.aggregate(book, init, merge)


def lloyd_train(view: DataFrame, n_groups: int, k: int, n_iter: int,
                fold: Callable[[F.Column, F.Column], F.Column],
                ship: Callable[[list[list[float]]], list[list[float]]]
                = lambda book: book) -> Books:
    """Centroids-as-data Lloyd's k-means, ``n_groups`` independent
    codebooks trained jointly — one job per iteration.

    ``view`` holds ``(grp, vid, v array<double>)`` rows with every
    ``vid`` present once in each group ``0..n_groups-1`` (one group for
    k-means, the m-subspace explode for PQ).  ``fold(book, v)`` maps a
    point to its centroid code given its group's shipped codebook
    (argmax-dot or argmin-L2); ``ship`` transforms each codebook in
    the driver before it is broadcast (L2-normalise, or identity).

    Deterministic: seeds are the ``k`` vids with the smallest md5(vid)
    (their rows seed every group), the fold breaks ties on the lowest
    code, and the update is an exact (grp, code, pos) avg collected
    straight to the driver, where the centroid arrays are assembled —
    a second groupBy to build the arrays was a whole extra exchange
    per iteration (per-iteration 1.00 -> 0.82 s at sf0.1,
    bench_runs/r12_probes.md).  An empty cluster keeps its centroid.
    Returns ``n_groups`` codebooks of ``k`` unshipped centroids."""
    # Persist the view: seeding and every iteration re-read it, and
    # recomputing means re-scanning (and re-exploding) the corpus per
    # job.  At 100 TB persist to MEMORY_AND_DISK — still one corpus
    # scan total instead of n_iter + 1.
    view = view.persist()
    try:
        seeds = (view.orderBy(F.md5(F.col("vid").cast("string")), "vid",
                              "grp")
                 .limit(k * n_groups).collect())
        books = [[list(r["v"]) for r in seeds if r["grp"] == g]
                 for g in range(n_groups)]
        book = F.element_at(F.col("__books"), F.col("grp") + 1)
        for _ in range(n_iter):
            rel = codebook_relation(view.sparkSession,
                                    [ship(b) for b in books])
            # Fold in its own Project: beside posexplode it would sit
            # above the Generate and run once per vector ELEMENT.
            rows = (view.crossJoin(rel)
                    .select("grp", fold(book, F.col("v")).alias("code"), "v")
                    .select("grp", "code", F.posexplode("v").alias("pos", "x"))
                    .groupBy("grp", "code", "pos")
                    .agg(F.avg("x").alias("mu")).collect())
            acc: dict[tuple[int, int], dict[int, float]] = {}
            for r in rows:
                acc.setdefault((r["grp"], r["code"]), {})[r["pos"]] = r["mu"]
            books = [[
                [pm[p] for p in sorted(pm)]
                if (pm := acc.get((g, i))) is not None else c
                for i, c in enumerate(b)] for g, b in enumerate(books)]
    finally:
        view.unpersist()
    return books


def _subspace_view(vectors: DataFrame, m: int, sub_dim: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """(grp, vid, v): every vector exploded into its m subvectors, grp
    = subspace — one scan produces all subspaces' training rows."""
    arr = F.array(*[
        F.named_struct(F.lit("grp"), F.lit(j),
                       F.lit("v"), subvector(vec_col, j, sub_dim))
        for j in range(m)])
    return (vectors.select(F.col(id_col).alias("vid"),
                           F.explode(arr).alias("e"))
            .select(F.col("e.grp").alias("grp"), "vid",
                    F.col("e.v").alias("v")))


def pq_train(vectors: DataFrame, dim: int, m: int = 8, k: int = 16,
             n_iter: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding") -> Books:
    """Joint per-subspace codebooks: ``m`` L2 k-means runs fused into
    one job per Lloyd iteration (``lloyd_train`` over the subspace
    view, argmin-L2 fold, codebooks shipped as trained).  Seeds are the
    ``k`` vectors with smallest md5(id), their m slices seeding the m
    subspaces.  Returns ``m`` codebooks of ``k`` centroids."""
    assert dim % m == 0, "dim must divide into m equal subspaces"
    return lloyd_train(_subspace_view(vectors, m, dim // m, id_col, vec_col),
                       m, k, n_iter,
                       lambda book, v: argmin_code_expr(book, v)["code"])


def _encode(vectors: DataFrame, books: DataFrame, m: int, sub_dim: int,
            id_col: str, vec_col: str) -> DataFrame:
    assigned = [argmin_code_expr(F.element_at(F.col("__books"), j + 1),
                                 subvector(vec_col, j, sub_dim))
                for j in range(m)]
    codes = F.array(*[a["code"] for a in assigned])
    sqerr = sum((a["sqerr"] for a in assigned), F.lit(0.0))
    return vectors.crossJoin(books).select(
        F.col(id_col), codes.alias("codes"), sqerr.alias("pq_sqerr"))


def pq_encode(vectors: DataFrame, codebooks: Books,
              id_col: str = "vec_id", vec_col: str = "embedding",
              ) -> DataFrame:
    """Encode: per vector, ``codes`` (array<int>, one per subspace) and
    ``pq_sqerr`` (total squared reconstruction error = Σ_j min-dist²).
    One argmin fold per subspace over the broadcast codebook row — a
    narrow map stage, no shuffle, no Python."""
    return _encode(vectors,
                   codebook_relation(vectors.sparkSession, codebooks),
                   len(codebooks), len(codebooks[0][0]), id_col, vec_col)


def pq_adc_topk(vectors: DataFrame, queries: DataFrame,
                codebooks: Books, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k: the query stays
    exact, candidates are their PQ codes.  Per query row, a distance
    TABLE per subspace (k2 entries: query-subvector → each centroid) is
    computed once against the broadcast codebook row; per candidate the
    approximate L2² is then just m table lookups and adds — no float
    vectors are read on the candidate side at all.

    At 100 TB this is THE reason PQ exists: the scan touches m bytes
    per vector (codes) instead of 4·d, and the per-candidate cost is m
    array-index adds inside codegen.  Queries (with their tables,
    m·k2 doubles each) broadcast.  One codebook relation serves both
    the query tables and the candidate encode."""
    from pyspark.sql import Window
    sub_dim = len(codebooks[0][0])
    m = len(codebooks)
    books = codebook_relation(vectors.sparkSession, codebooks)

    def table(j: int) -> F.Column:
        # closure, NOT a default-arg lambda: transform() treats a
        # two-parameter lambda as (element, index) and would rebind j
        # to the array index.
        sv = subvector(vec_col, j, sub_dim)
        return F.transform(F.element_at(F.col("__books"), j + 1),
                           lambda e: _dist2(sv, e["c"]))

    tables = F.array(*[table(j) for j in range(m)])
    q = queries.crossJoin(books).select(
        F.col(id_col).alias("query_id"), tables.alias("tabs"))
    c = _encode(vectors, books, m, sub_dim, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "codes")
    adc = F.aggregate(
        F.zip_with("tabs", "codes",
                   lambda t, cd: F.element_at(t, cd + 1)),
        F.lit(0.0), lambda s, x: s + x)
    sims = (c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id", adc.alias("adc_dist2")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist2"),
                                               F.asc("cand_id"))
    from results_ingestor_spark.plans import exact
    return (sims.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "cand_id",
                    exact.snap_double_col("adc_dist2", 9)
                    .alias("adc_dist2"), "rn"))


def exact_l2_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  ) -> DataFrame:
    """Exact L2 top-k baseline (the ADC gate's ground truth)."""
    from pyspark.sql import Window
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.transform(vec_col, lambda x: x.cast("double"))
                       .alias("qv"))
    c = vectors.select(F.col(id_col).alias("cand_id"),
                       F.transform(vec_col, lambda x: x.cast("double"))
                       .alias("cv"))
    sims = (c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id", _dist2(F.col("qv"), F.col("cv"))
                    .alias("d2")))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    return (sims.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "cand_id", "d2", "rn"))
