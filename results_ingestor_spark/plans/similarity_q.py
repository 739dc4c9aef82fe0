"""Similarity-search queries over ``embeddings`` (north-star M3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from results_ingestor_spark.operators.similarity import (
    brute_force_topk, lsh_bucketed_topk, normed)
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables

_NORM_SQL = """
SELECT vec_id, sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                     FROM (SELECT unnest(embedding) AS x))) AS nrm
FROM embeddings"""


@query("ann_cosine_topk", oracle=f"""
WITH n AS ({_NORM_SQL}),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 5)
SELECT query_id, cand_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM s) WHERE rn <= 10""")
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (the ANN baseline): broadcast the
    query set, JVM-side zip_with/aggregate dot products, per-query
    window top-k.  Cosines rounded to 9 dp for an engine-portable
    ordering (summation order differs across engines at ~1e-16)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    return brute_force_topk(e, e.where(F.col("vec_id") < 5), k=10)


def _lsh_bucket_sql(dim: int = 64) -> str:
    """DuckDB twin of operators/similarity.py::bucketed — the
    hyperplane components are md5-derived constants, so the oracle embeds
    the SAME literals and replays the sign-bit bucketing bit-for-bit.
    Term order matches Spark's left fold exactly (same double sums)."""
    from results_ingestor_spark.operators.similarity import hyperplanes
    planes = hyperplanes(dim)
    return " + ".join(
        "(CASE WHEN ("
        + " + ".join(f"e[{i + 1}]*({w!r})" for i, w in enumerate(p))
        + f") > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))


@query("ann_lsh_topk", oracle=f"""
WITH v AS (
  SELECT vec_id, embedding,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
b AS (SELECT vec_id, embedding, ({{BUCKET}}) AS bkt FROM v),
n AS ({_NORM_SQL}),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM b q
  JOIN b c ON q.vec_id <> c.vec_id AND bit_count(xor(q.bkt, c.bkt)) <= 6
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 5)
SELECT query_id, cand_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM s) WHERE rn <= 10""".replace("{BUCKET}", _lsh_bucket_sql()))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: 16 random-hyperplane sign bits bucket the
    vectors; candidates within Hamming≤6 of the query bucket get exact
    cosine + top-k.  The hyperplanes are md5-derived constants, so the
    oracle replays the ENTIRE pipeline — bucketing, Hamming prefilter,
    cosine, top-k — making even this approximate path value-checked.
    Recall vs brute force additionally asserted in
    tests/test_similarity.py."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    return lsh_bucketed_topk(e, e.where(F.col("vec_id") < 5), dim=64, k=10)


@query("embedding_label_stats", oracle=f"""
WITH n AS ({_NORM_SQL})
SELECT label, COUNT(*) AS n_vecs,
  CAST(floor((avg(nrm)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_norm,
  CAST(floor((min(nrm)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS min_norm,
  CAST(floor((max(nrm)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS max_norm
FROM embeddings JOIN n USING (vec_id)
GROUP BY label""")
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics (norm distribution) — the sanity
    profile a pipeline runs before indexing an embedding corpus."""
    from results_ingestor_spark.functions.vector import l2_norm
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"].select("label", l2_norm("embedding").alias("nrm"))
    return (e.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 exact.snap_double_col(F.avg("nrm"), 6).alias("avg_norm"),
                 exact.snap_double_col(F.min("nrm"), 6).alias("min_norm"),
                 exact.snap_double_col(F.max("nrm"), 6).alias("max_norm")))


def _ivf_oracle(k: int = 10, nprobe: int = 3, n_clusters: int = 10,
                n_iter: int = 3) -> str:
    """DuckDB twin of the FULL IVF search, k-means training included —
    the shared kmeans_sql replay (seeding, 3 Lloyd iterations, final
    assignment) plus the probe/search stages: per query the ``nprobe``
    nearest centroids by raw cosine (ties to the lowest centroid id),
    exact CAST(floor((cosine) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) over the probed lists, per-query top-k."""
    from results_ingestor_spark.plans.kmeans_sql import assign_cte, kmeans_ctes
    return f"""
WITH {kmeans_ctes(n_clusters, n_iter)},{assign_cte("asgf", with_norm=True)},
q AS (
  SELECT vec_id AS query_id, v AS qv,
    sqrt(list_sum(list_transform(v, y -> y * y))) AS qn
  FROM v WHERE vec_id < 5),
cnorm AS (
  SELECT cid, c, sqrt(list_sum(list_transform(c, y -> y * y))) AS cn
  FROM cent{n_iter}),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, s.cid, row_number() OVER (
      PARTITION BY q.query_id ORDER BY
        ((SELECT SUM(xa * xb) FROM
          (SELECT unnest(q.qv) AS xa, unnest(s.c) AS xb))
         / nullif(q.qn * s.cn, 0)) DESC, s.cid) AS rn
    FROM q, cnorm s) WHERE rn <= {nprobe}),
sims AS (
  SELECT p.query_id, a.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(xa * xb) FROM (SELECT unnest(q.qv) AS xa, unnest(a.v) AS xb)) / nullif(q.qn * a.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM asgf a
  JOIN probes p ON p.cid = a.cid
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, cand_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM sims) WHERE rn <= {k}"""


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, LABEL-FREE: Lloyd's k-means (3 iterations, deterministic
    md5-ordered seeding, all DataFrame ops) builds the coarse quantizer;
    queries probe the 3 nearest centroid lists, exact cosine within them.
    The k-means quantizer measures BETTER than the former label-mean one
    (avg recall@10 0.58 vs 0.40 at nprobe=3, sf0.01).  Round 4: the
    centroid TRAINING is now replayed in the oracle via the shared
    kmeans_sql CTEs, so the approximate search path itself is
    value-checked cell-for-cell (formerly rows-only);
    ann_ivf_recall_check stays as the semantic recall gate, and
    tests/test_similarity.py asserts recall bounds."""
    from results_ingestor_spark.operators.similarity import ivf_topk_kmeans
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    return ivf_topk_kmeans(e, e.where(F.col("vec_id") < 5), k=10, nprobe=3)


@query("ann_ivf_recall_check", oracle="""
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5""")
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying gate for the approximate IVF path: computes BOTH
    the k-means IVF top-k and the exact brute-force top-k in-plan, joins
    them, and emits (n_queries, avg-recall@10 >= 0.3).  The whole
    pipeline is deterministic (md5 seeding, tie-broken assignment), so
    the boolean is stable; measured avg recall is 0.58 at sf0.01 —
    the 0.3 bound leaves margin without being vacuous."""
    from results_ingestor_spark.operators.similarity import (
        brute_force_topk, ivf_topk_kmeans)
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    approx = ivf_topk_kmeans(e, q, k=10, nprobe=3)
    truth = brute_force_topk(e, q, k=10)
    hits = (approx.select("query_id", "cand_id")
            .join(truth.select("query_id", "cand_id"),
                  ["query_id", "cand_id"])
            .groupBy("query_id").agg(F.count("*").alias("h")))
    per_q = (truth.select("query_id").distinct()
             .join(hits, "query_id", "left")
             .select("query_id", F.coalesce("h", F.lit(0)).alias("h")))
    return per_q.agg(
        F.count("*").alias("n_queries"),
        (F.avg(F.col("h") / F.lit(10.0)) >= 0.3).alias("recall_ok"))


@query("embedding_scalar_quantization", oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
s AS (
  SELECT vec_id, e, list_min(e) AS mn,
    greatest((list_max(e) - list_min(e)) / 255.0, 1e-12) AS sc
  FROM v),
d AS (
  SELECT vec_id, mn, sc, len(e) AS dim,
    list_transform(e, x ->
      abs(x - (mn + floor((x - mn) / sc + 0.5) * sc))) AS errs
  FROM s)
SELECT vec_id,
  CAST(floor((mn) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS vmin, CAST(floor((sc) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS scale,
  CAST(floor((list_max(errs)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS max_abs_err,
  CAST(floor((list_sum(list_transform(errs, x -> x * x)) / dim) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mse,
  list_max(errs) <= sc / 2 * 1.000001 AS within_half_step
FROM d""")
def embedding_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization (the ANN index-compression step): per
    vector, min/max-scale to 0..255, dequantize, and report
    reconstruction error — max |err| must sit within half a quantization
    step.  All arithmetic is JVM higher-order expressions over doubles
    with identical operation order in the oracle, so even the error
    stats compare exactly.  At 100 TB this is what shrinks a float32
    corpus 4x before the IVF/LSH index is built."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    ed = F.transform("embedding", lambda x: x.cast("double"))
    base = t["embeddings"].select("vec_id", ed.alias("e"))
    mn = F.array_min("e")
    sc = F.greatest((F.array_max("e") - mn) / F.lit(255.0), F.lit(1e-12))
    s = base.select("vec_id", "e", mn.alias("mn"), sc.alias("sc"))
    errs = F.transform(
        "e", lambda x: F.abs(x - (F.col("mn")
                                  + F.floor((x - F.col("mn")) / F.col("sc")
                                            + F.lit(0.5)) * F.col("sc"))))
    d = s.select("vec_id", "mn", "sc", F.size("e").alias("dim"),
                 errs.alias("errs"))
    sq_sum = F.aggregate(F.transform("errs", lambda x: x * x),
                         F.lit(0.0), lambda acc, x: acc + x)
    return d.select(
        "vec_id",
        exact.snap_double_col("mn", 6).alias("vmin"),
        exact.snap_double_col("sc", 9).alias("scale"),
        exact.snap_double_col(F.array_max("errs"), 6).alias("max_abs_err"),
        exact.snap_double_col(sq_sum / F.col("dim"), 6).alias("mse"),
        (F.array_max("errs") <= F.col("sc") / 2 * 1.000001)
        .alias("within_half_step"))


_PQ_M, _PQ_K, _PQ_DIM = 8, 16, 64


@query("embedding_pq_compression", oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT COUNT(*) AS cnt FROM v),
d AS (SELECT generate_subscripts(e, 1) AS pos, unnest(e) AS x FROM v),
mu AS (
  SELECT pos, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
              / (SELECT cnt FROM n) AS m
  FROM d GROUP BY pos),
muarr AS (SELECT list(m ORDER BY pos) AS ma FROM mu),
per AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(e) + 1),
      i -> (e[i] - ma[i]) * (e[i] - ma[i]))) AS se
  FROM v, muarr)
SELECT (SELECT cnt FROM n) AS n_vectors,
  {_PQ_DIM} AS dim, {_PQ_M} AS m, {_PQ_K} AS k,
  CAST(floor((CAST(SUM(CAST(se AS DECIMAL(28,10))) AS DOUBLE) / ((SELECT cnt FROM n) * {_PQ_DIM})) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_baseline_mse,
  CAST({float(4 * _PQ_DIM) / _PQ_M} AS DOUBLE) AS compression_ratio,
  TRUE AS pq_beats_mean
FROM per""")
def embedding_pq_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization self-check (approx_sketches pattern: the
    learned-codebook internals are engine-specific, so the comparable
    surface is exact + bound).  The oracle computes the global-mean
    reconstruction MSE exactly (decimal-exact per-dimension means and
    totals — the 1-centroid codebook baseline); Spark computes the same
    baseline THE SAME WAY plus the real PQ reconstruction error
    (8 subspaces × 16 L2-k-means centroids), and asserts PQ beats the
    baseline.  float32→codes compression is 32x.

    Scale: training traffic is m·k·(dim/m) doubles to the driver;
    encoding is a map stage over the broadcast codebook row
    (operators/quantization.py) —
    the 100 TB corpus is touched in full exactly once per Lloyd
    iteration and once to encode."""
    from results_ingestor_spark.operators.quantization import (
        pq_encode, pq_train)
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    # 2 Lloyd iterations: reconstruction error is already far below the
    # 1-centroid baseline after one update; each extra iteration costs a
    # full corpus pass (the dominant term at 100 TB)
    books = pq_train(emb, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K, n_iter=2)
    enc = pq_encode(emb, books)
    pq_total = (enc.agg(
        F.sum(F.col("pq_sqerr").cast("decimal(28,10)")).alias("pq_se"))
        .select(F.col("pq_se").cast("double").alias("pq_se")))

    v = emb.select("vec_id",
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("e"))
    cnt = v.agg(F.count("*").alias("cnt"))
    mu = (v.select(F.posexplode("e").alias("pos", "x"))
          .groupBy("pos")
          .agg(F.sum(F.col("x").cast("decimal(28,12)")).alias("s"))
          .crossJoin(F.broadcast(cnt))
          .select("pos", (F.col("s").cast("double") / F.col("cnt"))
                  .alias("m")))
    muarr = (mu.groupBy()
             .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                  .alias("pm"))
             .select(F.transform("pm", lambda s: s["m"]).alias("ma")))
    per = (v.crossJoin(F.broadcast(muarr))
           .select("vec_id",
                   F.aggregate(
                       F.zip_with("e", "ma",
                                  lambda a, b: (a - b) * (a - b)),
                       F.lit(0.0), lambda acc, x: acc + x).alias("se")))
    base_total = per.agg(
        F.sum(F.col("se").cast("decimal(28,10)")).alias("base_se"))
    return (base_total.crossJoin(F.broadcast(cnt))
            .crossJoin(F.broadcast(pq_total))
            .select(
                F.col("cnt").alias("n_vectors"),
                F.lit(_PQ_DIM).alias("dim"),
                F.lit(_PQ_M).alias("m"),
                F.lit(_PQ_K).alias("k"),
                exact.snap_double_col(F.col("base_se").cast("double") / (F.col("cnt") * _PQ_DIM), 6)
                .alias("mean_baseline_mse"),
                F.lit(float(4 * _PQ_DIM) / _PQ_M).alias("compression_ratio"),
                (F.col("pq_se")
                 < F.col("base_se").cast("double")).alias("pq_beats_mean")))


# ADC uses a finer grid than the compression demo: 16 subspaces x 32
# centroids (16 bytes/vector, 16x compression) — measured recall@10 0.50
# at sf0.01 vs 0.22 for the 8x16 grid (0.48 after a single Lloyd
# iteration, which halves gate wall time); the 0.3 gate keeps margin.
_ADC_M, _ADC_K = 16, 32


def _pq_adc_oracle(dim: int, m: int, k2: int, n_iter: int = 1,
                   k: int = 10) -> str:
    """DuckDB twin of the FULL PQ-ADC pipeline, codebook training
    included: per-subspace L2 k-means replayed relationally (codebooks
    as (sub, cid, c) rows — md5-ordered seed slices, argmin assignment
    with ties to the lowest code, exact per-position mean update, empty
    codes keeping their centroid), then encode, per-query distance
    tables, and the ADC sum ranked per query.  Ranking is on the
    unrounded sum like the Spark plan; output rounds to 9 dp.  Same
    cross-engine float caveat as plans/kmeans_sql.py — verified
    flip-free on the shipped corpora."""
    sd = dim // m
    d2 = ("(SELECT SUM((xa - xb) * (xa - xb)) FROM "
          "(SELECT unnest(t.sv) AS xa, unnest(b.c) AS xb))")
    parts = [f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
subs AS (SELECT unnest(range({m})) AS sub),
sv AS (
  SELECT vec_id, sub,
    list_slice(v, sub * {sd} + 1, sub * {sd} + {sd}) AS sv
  FROM v, subs),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, v
  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k2}),
book0 AS (
  SELECT s.sub, d.cid,
    list_slice(d.v, s.sub * {sd} + 1, s.sub * {sd} + {sd}) AS c
  FROM subs s, seeds d)"""]
    for j in range(n_iter):
        parts.append(f""",
asg{j} AS (
  SELECT t.vec_id, t.sub, t.sv,
    (SELECT b.cid FROM book{j} b WHERE b.sub = t.sub
     ORDER BY {d2} ASC, b.cid LIMIT 1) AS cid
  FROM sv t),
upd{j} AS (
  SELECT sub, cid, list(xm ORDER BY pos) AS c FROM (
    SELECT sub, cid, pos, AVG(x) AS xm FROM (
      SELECT sub, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
      FROM asg{j})
    GROUP BY sub, cid, pos)
  GROUP BY sub, cid),
book{j + 1} AS (
  SELECT p.sub, p.cid, COALESCE(u.c, p.c) AS c
  FROM book{j} p LEFT JOIN upd{j} u
    ON u.sub = p.sub AND u.cid = p.cid)""")
    parts.append(f""",
enc AS (
  SELECT t.vec_id, t.sub,
    (SELECT b.cid FROM book{n_iter} b WHERE b.sub = t.sub
     ORDER BY {d2} ASC, b.cid LIMIT 1) AS code
  FROM sv t),
dt AS (
  SELECT t.vec_id AS query_id, b.sub, b.cid, {d2} AS d2
  FROM sv t JOIN book{n_iter} b ON b.sub = t.sub
  WHERE t.vec_id < 5),
adc AS (
  SELECT d.query_id, e.vec_id AS cand_id, SUM(d.d2) AS adc_dist2
  FROM enc e JOIN dt d ON d.sub = e.sub AND d.cid = e.code
  WHERE e.vec_id <> d.query_id
  GROUP BY d.query_id, e.vec_id)
SELECT query_id, cand_id, CAST(floor((adc_dist2) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS adc_dist2, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist2 ASC, cand_id) AS rn
  FROM adc) WHERE rn <= {k}""")
    return "".join(parts)


@query("ann_pq_adc_topk", oracle=_pq_adc_oracle(_PQ_DIM, _ADC_M, _ADC_K))
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric distance top-10 for 5 queries: candidates are
    scanned as m-byte code vectors, distances come from per-query
    lookup tables (operators/quantization.pq_adc_topk).  Round 4:
    value-checked — the oracle replays codebook training, encoding, and
    the ADC ranking relationally (formerly rows-only);
    ann_pq_adc_recall_check stays as the semantic recall gate."""
    from results_ingestor_spark.operators.quantization import (
        pq_adc_topk, pq_train)
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    books = pq_train(e, dim=_PQ_DIM, m=_ADC_M, k=_ADC_K, n_iter=1)
    return pq_adc_topk(e, e.where(F.col("vec_id") < 5), books, k=10)


@query("ann_pq_adc_recall_check", oracle="""
SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5""")
def ann_pq_adc_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying gate for ADC: PQ-approximated L2 top-10 vs exact
    L2 top-10, recall@10 averaged over the 5 queries must clear 0.3.
    Deterministic end-to-end (md5-seeded k-means, tie-broken codes and
    rankings), so the boolean is stable across engines and runs."""
    from results_ingestor_spark.operators.quantization import (
        exact_l2_topk, pq_adc_topk, pq_train)
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    books = pq_train(e, dim=_PQ_DIM, m=_ADC_M, k=_ADC_K, n_iter=1)
    approx = pq_adc_topk(e, q, books, k=10)
    truth = exact_l2_topk(e, q, k=10)
    hits = (approx.select("query_id", "cand_id")
            .join(truth.select("query_id", "cand_id"),
                  ["query_id", "cand_id"])
            .groupBy("query_id").agg(F.count("*").alias("h")))
    per_q = (truth.select("query_id").distinct()
             .join(hits, "query_id", "left")
             .select("query_id", F.coalesce("h", F.lit(0)).alias("h")))
    return per_q.agg(
        F.count("*").alias("n_queries"),
        (F.avg(F.col("h") / F.lit(10.0)) >= 0.3).alias("recall_ok"))


@query("ann_incremental_topk", oracle=f"""
WITH n AS ({_NORM_SQL}),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 5)
SELECT query_id, cand_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM s) WHERE rn <= 10""")
def ann_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the interactive-session pattern
    from the EDBT'20 incremental-top-k line of work): the corpus
    arrives in two batches (vec_id < 400 = the already-indexed set,
    >= 400 = the new arrivals); each batch keeps only its LOCAL top-k
    per query, and the merge re-ranks 2k rows instead of rescanning
    the union.  Top-k is a semilattice merge — (A ∪ B)ᵗᵒᵖᵏ =
    (Aᵗᵒᵖᵏ ∪ Bᵗᵒᵖᵏ)ᵗᵒᵖᵏ — so the oracle verifies the merged result
    EXACTLY equals the full-corpus brute force.  At scale this is why
    a streaming ANN index only ever scores the delta."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    old_topk = brute_force_topk(e.where(F.col("vec_id") < 400), q, k=10)
    new_topk = brute_force_topk(e.where(F.col("vec_id") >= 400), q, k=10)
    merged = old_topk.drop("rn").unionByName(new_topk.drop("rn"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("cand_id"))
    return (merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("query_id", "cand_id", "cosine", "rn"))


@query("embedding_dim_stats", oracle="""
SELECT CAST(dim AS INT) AS dim,
  COUNT(*) AS n,
  CAST(floor((AVG(CAST(v AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_v,
  CAST(floor((MIN(CAST(v AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS min_v,
  CAST(floor((MAX(CAST(v AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS max_v
FROM (
  SELECT unnest(embedding) AS v,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings)
GROUP BY dim""")
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics of the embedding column —
    the drift/normalization check a vector pipeline runs before
    indexing.  posexplode flattens (vector, position) pairs; one hash
    aggregate on the dimension index.  Mean rounds at 6 dp: the only
    cross-engine wiggle is double-sum ordering, ~1e-13 relative.
    At 100 TB this is the map-side-combine-friendly shape — partials
    are (dim, sum, count, min, max), never vectors."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    return (t["embeddings"]
            .select(F.posexplode("embedding").alias("dim", "v"))
            .groupBy("dim")
            .agg(F.count("*").alias("n"),
                 exact.snap_double_col(F.avg(F.col("v").cast("double")), 6).alias("mean_v"),
                 exact.snap_double_col(F.min(F.col("v").cast("double")), 6).alias("min_v"),
                 exact.snap_double_col(F.max(F.col("v").cast("double")), 6).alias("max_v")))


def _jl_signs(d: int = 64, k: int = 8) -> list[list[int]]:
    """±1 Achlioptas/JL projection matrix, hash-derived so any engine
    (or a re-run on another cluster) regenerates it bit-identically:
    sign(i, j) = parity of md5("i_j").  Materialized as literals into
    both the Spark expression and the oracle SQL — the matrix is a
    constant of the pipeline, not data."""
    import hashlib
    return [[1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:15],
                      16) % 2 == 0 else -1
             for j in range(k)] for i in range(d)]


def _jl_oracle(d: int = 64, k: int = 8) -> str:
    signs = _jl_signs(d, k)
    rows = ", ".join(f"({i}, {j}, {signs[i][j]})"
                     for i in range(d) for j in range(k))
    cols = ",\n  ".join(
        f"CAST(floor((SUM(CASE WHEN j = {j} THEN v * s END)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS p{j}"
        for j in range(k))
    return f"""
WITH signs(i, j, s) AS (VALUES {rows}),
flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings)
SELECT vec_id,
  {cols}
FROM flat JOIN signs USING (i)
GROUP BY vec_id"""


@query("embedding_random_projection", oracle=_jl_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64-d → 8-d with a ±1 sign
    matrix (Achlioptas): the cheap dimensionality reduction used before
    coarse clustering / visualization / LSH at corpus scale.  Each
    output dim is one ``zip_with`` multiply + sequential ``aggregate``
    fold — pure JVM codegen, no shuffle, no Python, no explode (the
    oracle explodes; the engine keeps vectors packed).  Projections are
    emitted as k scalar columns (not an array) so any comparator hashes
    them; rounded at 6 dp per the embedding_dim_stats double-sum rule.
    At 100 TB this is a narrow map stage appended to any scan, and the
    same literal-matrix technique carries any fixed linear op
    (whitening, PCA rotation) into whole-stage codegen."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    signs = _jl_signs()
    k = len(signs[0])
    projs = []
    for j in range(k):
        lit = ",".join(f"{signs[i][j]}D" for i in range(len(signs)))
        projs.append(F.expr(
            f"round(aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
            f"array({lit}), (x, s) -> x * s), 0D, (acc, y) -> acc + y), 6)"
        ).alias(f"p{j}"))
    return t["embeddings"].select("vec_id", *projs)


_HBOW_DIM = 16


@query("embed_hashed_bow", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({{TOKS}}) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
h AS (
  SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
  FROM tok),
comp AS (
  SELECT doc_id,
    CAST(hv % {_HBOW_DIM} AS INT) AS dim,
    SUM(CASE WHEN (hv >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h GROUP BY doc_id, hv % {_HBOW_DIM}),
nrm AS (
  SELECT doc_id, sqrt(SUM(CAST(s AS DOUBLE) * s)) AS n
  FROM comp GROUP BY doc_id)
SELECT c.doc_id, c.dim,
  CAST(floor((CAST(c.s AS DOUBLE) / nullif(nrm.n, 0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS value
FROM comp c JOIN nrm ON nrm.doc_id = c.doc_id""".replace("{TOKS}", "t"))
def embed_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding GENERATION by feature hashing — the deterministic
    classical stand-in for the model-encoder step of an embedding
    pipeline (hashing trick / signed random projection of the
    bag-of-words): every token hashes to one of 16 dimensions with a
    hash-derived ±1 sign, per-doc sums are L2-normalized, and the
    result feeds the same ANN / near-dup operators the corpus
    embeddings table does.  Long-format output (doc_id, dim, value) so
    every component is value-checked.

    Scale: explode + one (doc, dim) hash-agg with map-side combine +
    one per-doc norm agg — two shuffles keyed on doc_id; a model
    encoder would replace the hash with a mapInPandas batch kernel,
    leaving the plan shape unchanged."""
    from results_ingestor_spark.functions.hashing import md5_long
    t = load_tables(spark, sf_dir, ("documents",))
    tok = (t["documents"]
           .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
           .withColumn("hv", md5_long("tok")))
    comp = (tok.groupBy("doc_id", (F.col("hv") % _HBOW_DIM).cast("int")
                        .alias("dim"))
            .agg(F.sum(F.when(F.shiftright("hv", 4).bitwiseAND(F.lit(1))
                              == 1, 1).otherwise(-1)).alias("s")))
    nrm = (comp.groupBy("doc_id")
           .agg(F.sqrt(F.sum(F.col("s").cast("double") * F.col("s")))
                .alias("n")))
    return (comp.join(nrm, "doc_id")
            .select("doc_id", "dim",
                    exact.snap_double_col(F.col("s").cast("double") / F.nullif("n", F.lit(0)), 9).alias("value")))


@query("embedding_covariance", oracle="""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
m AS (
  SELECT i, SUM(v) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM flat GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sij
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2)
SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
  CAST(floor(((sij - ma.s * mb.s / ma.n) / (ma.n - 1)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) + 0.0 AS cov
FROM p
JOIN m ma ON ma.i = p.i
JOIN m mb ON mb.i = p.j""")
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact d×d sample covariance of the embedding column, upper
    triangle as (i, j, cov) rows — the input to PCA whitening, drift
    detection on the representation space, and Mahalanobis scoring.

    This is the Gramian pattern (operators/pca.py): each Arrow batch
    computes X^T·X with one BLAS call inside mapInPandas, and only
    d(d+1)/2 partial doubles per partition cross the shuffle — the
    relational self-join alternative would move n·d² rows.  The oracle
    IS that self-join (DuckDB, small data), so the fast path is
    value-checked against the naive form cell-for-cell."""
    from results_ingestor_spark.operators.pca import covariance_upper
    t = load_tables(spark, sf_dir, ("embeddings",))
    return covariance_upper(t["embeddings"], "embedding", 64)


# ROWS-ONLY (census 4/6): the terminal numpy eigensolve has no SQL
# form; the covariance INPUT is value-checked (embedding_covariance)
# and the eigen step is numpy-pinned in tests.
@query("embedding_pca_variance")
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA eigenvalues with explained/cumulative variance ratios
    (operators/pca.py::pca_explained_variance) — the intrinsic-
    dimensionality report an embedding pipeline checks before choosing
    an index (a sharp spectrum cliff says IVF/PQ will work; a flat one
    says the vectors are near-isotropic).  The covariance feeding the
    eigensolve is the value-checked embedding_covariance plan; only the
    d×d matrix reaches the driver (codebook contract), and the numpy
    eigendecomposition is pinned against a direct full-matrix PCA in
    tests/test_stats_round3.py."""
    from results_ingestor_spark.operators.pca import pca_explained_variance
    t = load_tables(spark, sf_dir, ("embeddings",))
    return pca_explained_variance(t["embeddings"], "embedding", 64, 8)


# ROWS-ONLY (census 5/6): the d×d matrix inverse has no SQL form;
# same value-checked covariance input + numpy pin as the PCA entry.
@query("embedding_mahalanobis_outliers")
def embedding_mahalanobis_outliers(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by squared Mahalanobis distance
    (operators/pca.py::mahalanobis_scores) — the covariance-aware OOD
    filter a curation pipeline runs on representation space (mislabeled
    / corrupted / off-distribution samples land in the tail even when
    their L2 norm looks ordinary).  The inverse-covariance step has no
    SQL twin (rows-only driver check); the score itself is pinned
    against a direct numpy computation in tests/test_stats_round3.py,
    and its covariance input is the value-checked embedding_covariance
    plan."""
    from results_ingestor_spark.operators.pca import mahalanobis_scores
    t = load_tables(spark, sf_dir, ("embeddings",))
    return (mahalanobis_scores(t["embeddings"])
            .orderBy(F.desc("m2"), F.asc("vec_id"))
            .limit(20))


def _mmr_oracle(k: int = 10, pool: int = 50, lam: float = 0.7) -> str:
    """DuckDB twin of the greedy MMR rerank: the top-``pool`` stage is
    the brute-force oracle pattern, then the k greedy picks unroll as
    chained CTEs — each step scores the remaining pool members
    lam*rel − (1−lam)*max-sim-to-selected and takes the argmax (ties →
    lowest cand_id, like the numpy loop).  ``rel`` is the 9-dp-rounded
    pool cosine (cross-engine identical); the redundancy term compares
    raw sims (numpy BLAS vs SQL sequential sums differ ~1e-16 — far
    from any observed selection margin; flip-free on the shipped
    corpora).  (1−lam) is emitted with Python double repr so both
    engines multiply by the identical constant.  The base CTE is
    MATERIALIZED: the unrolled chain references it ~3k times and DuckDB
    would otherwise re-open the parquet per reference (EMFILE)."""
    parts = [f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
vn AS (
  SELECT vec_id, v,
    sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM v),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
      FROM vn WHERE vec_id < 5),
pool AS (
  SELECT query_id, cand_id, cosine FROM (
    SELECT q.query_id, c.vec_id AS cand_id,
      CAST(floor(((SELECT SUM(xa * xb) FROM
             (SELECT unnest(q.qv) AS xa, unnest(c.v) AS xb))
            / nullif(q.qn * c.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT)
        / CAST(1000000000.0 AS DOUBLE) AS cosine,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        CAST(floor(((SELECT SUM(xa * xb) FROM
               (SELECT unnest(q.qv) AS xa, unnest(c.v) AS xb))
              / nullif(q.qn * c.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT)
          / CAST(1000000000.0 AS DOUBLE) DESC, c.vec_id) AS rn
    FROM q JOIN vn c ON c.vec_id <> q.query_id) WHERE rn <= {pool}),
pv AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, p.cosine, c.v, c.nrm
  FROM pool p JOIN vn c ON c.vec_id = p.cand_id),
ps AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS ida, b.cand_id AS idb,
    (SELECT SUM(xa * xb) FROM
     (SELECT unnest(a.v) AS xa, unnest(b.v) AS xb))
      / nullif(a.nrm * b.nrm, 0) AS sim
  FROM pv a JOIN pv b ON a.query_id = b.query_id),
sel1 AS (
  SELECT query_id, cand_id, cosine, {lam!r} * cosine AS score FROM (
    SELECT query_id, cand_id, cosine, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
    FROM pv) WHERE rn = 1),
acc1 AS MATERIALIZED (SELECT query_id, cand_id, 1 AS mmr_rank, cosine, score
         FROM sel1)"""]
    for i in range(2, k + 1):
        parts.append(f""",
cand{i} AS (
  SELECT p.query_id, p.cand_id, p.cosine,
    {lam!r} * p.cosine - {1 - lam!r} * (
      SELECT MAX(ps.sim) FROM ps
      JOIN acc{i - 1} s ON s.query_id = ps.query_id
                        AND s.cand_id = ps.idb
      WHERE ps.query_id = p.query_id AND ps.ida = p.cand_id) AS score
  FROM pv p LEFT JOIN acc{i - 1} a
    ON a.query_id = p.query_id AND a.cand_id = p.cand_id
  WHERE a.cand_id IS NULL),
sel{i} AS (
  SELECT query_id, cand_id, cosine, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id) AS rn
    FROM cand{i}) WHERE rn = 1),
acc{i} AS MATERIALIZED (
  SELECT * FROM acc{i - 1}
  UNION ALL
  SELECT query_id, cand_id, {i} AS mmr_rank, cosine, score
  FROM sel{i})""")
    parts.append(f"""
SELECT query_id, cand_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
  cosine, CAST(floor((score) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mmr_score
FROM acc{k}""")
    return "".join(parts)


@query("ann_mmr_diverse_topk", oracle=_mmr_oracle())
def ann_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: exact top-50 pool per query
    (distributed stage), then Maximal-Marginal-Relevance greedy rerank
    to 10 (operators/similarity.py::mmr_rerank) — the standard second
    stage of a RAG retrieval stack (pure top-k returns near-duplicate
    neighbors; MMR trades relevance against redundancy, λ=0.7).
    Round 4: value-checked — the oracle unrolls the greedy selection as
    chained argmax CTEs over the same 9-dp pool (formerly rows-only);
    tests/test_similarity.py additionally pins the rerank against an
    independent numpy implementation and the
    diversity>relevance-only property."""
    from results_ingestor_spark.operators.similarity import mmr_rerank
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    return mmr_rerank(e, e.where(F.col("vec_id") < 5), k=10, pool=50)


def _ivf_tuning_oracle(k: int = 10) -> str:
    """DuckDB twin of the nprobe sweep: label-mean centroids (exact
    per-position AVG), per-query probe ranking by raw cosine, exact
    CAST(floor((cosine) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) top-k within the probed lists for nprobe 1..4, and
    recall against the brute-force top-k — the whole measured curve
    value-checked (round-4 conversion from rows-only)."""
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE))
    AS v FROM embeddings),
vn AS (
  SELECT vec_id, label, v,
    sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM v),
cents AS (
  SELECT label AS cid, list(xm ORDER BY pos) AS c FROM (
    SELECT label, pos, AVG(x) AS xm FROM (
      SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x
      FROM v)
    GROUP BY label, pos)
  GROUP BY label),
cn AS (
  SELECT cid, c, sqrt(list_sum(list_transform(c, y -> y * y))) AS cnrm
  FROM cents),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
      FROM vn WHERE vec_id < 5),
probe_rank AS (
  SELECT q.query_id, s.cid, row_number() OVER (
    PARTITION BY q.query_id ORDER BY
      ((SELECT SUM(xa * xb) FROM
        (SELECT unnest(q.qv) AS xa, unnest(s.c) AS xb))
       / nullif(q.qn * s.cnrm, 0)) DESC, s.cid) AS prn
  FROM q, cn s),
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT q.query_id, c.vec_id AS cand_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY
        CAST(floor(((SELECT SUM(xa * xb) FROM (SELECT unnest(q.qv) AS xa, unnest(c.v) AS xb)) / nullif(q.qn * c.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) DESC, c.vec_id) AS rn
    FROM q JOIN vn c ON c.vec_id <> q.query_id) WHERE rn <= {k}),
np AS (SELECT unnest([1, 2, 3, 4]) AS nprobe),
approx_topk AS (
  SELECT nprobe, query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                                 ORDER BY cosine DESC, cand_id) AS rn
    FROM (
      SELECT np.nprobe, pr.query_id, c.vec_id AS cand_id,
        CAST(floor(((SELECT SUM(xa * xb) FROM (SELECT unnest(q.qv) AS xa, unnest(c.v) AS xb)) / nullif(q.qn * c.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
      FROM np
      JOIN probe_rank pr ON pr.prn <= np.nprobe
      JOIN vn c ON c.label = pr.cid AND c.vec_id <> pr.query_id
      JOIN q ON q.query_id = pr.query_id))
  WHERE rn <= {k}),
hits AS (
  SELECT a.nprobe, a.query_id, COUNT(*) AS h
  FROM approx_topk a
  JOIN exact e ON e.query_id = a.query_id AND e.cand_id = a.cand_id
  GROUP BY a.nprobe, a.query_id),
perq AS (
  SELECT np.nprobe, qq.query_id, COALESCE(h.h, 0) AS h
  FROM np CROSS JOIN (SELECT DISTINCT query_id FROM exact) qq
  LEFT JOIN hits h ON h.nprobe = np.nprobe AND h.query_id = qq.query_id),
nl AS (SELECT COUNT(DISTINCT label) AS n_lists FROM embeddings)
SELECT CAST(p.nprobe AS INTEGER) AS nprobe,
  COUNT(*) AS n_queries,
  CAST(floor((AVG(p.h / {k}.0)) * 1000.0 + 0.5) AS BIGINT) / CAST(1000.0 AS DOUBLE) AS recall_at_10,
  CAST(floor((ANY_VALUE(p.nprobe) / ANY_VALUE(nl.n_lists)) * 1000.0 + 0.5) AS BIGINT) / CAST(1000.0 AS DOUBLE)
    AS corpus_scan_fraction
FROM perq p CROSS JOIN nl
GROUP BY p.nprobe"""


@query("ann_ivf_tuning_curve", oracle=_ivf_tuning_oracle())
def ann_ivf_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-cost tuning curve an IVF deployment is sized
    from: recall@10 against exact brute force for nprobe = 1..4 over
    the label-partitioned index (8 lists), plus the fraction of the
    corpus each setting scans.  The whole point of IVF is choosing
    this trade-off with data; this entry IS that choice, measured.
    Deterministic end-to-end (label centroids, tie-broken probes), so
    recall must be nondecreasing in nprobe — pinned in
    tests/test_similarity.py."""
    from results_ingestor_spark.operators.similarity import (
        brute_force_topk, ivf_topk)
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    # NB: named `truth`, not `exact` — the module-level plans.exact
    # helper would otherwise be shadowed by this DataFrame (r10).
    truth = brute_force_topk(e, q, k=10).select("query_id", "cand_id")
    n_lists = e.select("label").distinct().count()  # index constant
    curves = []
    for nprobe in (1, 2, 3, 4):
        approx = ivf_topk(e, q, k=10, nprobe=nprobe) \
            .select("query_id", "cand_id")
        hits = (approx.join(truth, ["query_id", "cand_id"])
                .groupBy("query_id").agg(F.count("*").alias("h")))
        per_q = (truth.select("query_id").distinct()
                 .join(hits, "query_id", "left")
                 .select(F.coalesce("h", F.lit(0)).alias("h")))
        curves.append(per_q.agg(
            F.lit(nprobe).alias("nprobe"),
            F.count("*").alias("n_queries"),
            exact.snap_double_col(F.avg(F.col("h") / F.lit(10.0)), 3)
            .alias("recall_at_10"),
            exact.snap_double_col(F.lit(nprobe / n_lists), 3)
            .alias("corpus_scan_fraction")))
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out.orderBy("nprobe")


@query("ann_maxsim_topk", oracle=f"""
WITH t AS (
  SELECT vec_id, vec_id // 8 AS mdoc, embedding FROM embeddings),
n AS ({_NORM_SQL}),
s AS (
  SELECT q.mdoc AS query_doc, c.mdoc AS cand_doc, q.vec_id AS qtok,
    max(CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)) AS best
  FROM t q
  JOIN t c ON q.mdoc < 2 AND c.mdoc >= 2
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  GROUP BY 1, 2, 3),
sc AS (
  SELECT query_doc, cand_doc, CAST(floor((SUM(best)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS maxsim
  FROM s GROUP BY 1, 2)
SELECT query_doc, cand_doc, maxsim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_doc
                               ORDER BY maxsim DESC, cand_doc) AS rn
  FROM sc) WHERE rn <= 10""")
def ann_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) reranking: treat each run
    of 8 consecutive vec_ids as one multi-vector document (vec_id div 8),
    docs 0-1 as the queries, and score candidates by
    Σ_{query token} max_{cand token} cosine.  This is the retrieval
    shape single-vector ANN cannot express — per-token interaction
    without materializing a query×doc×token³ intermediate: the query
    token matrix broadcasts, candidate vectors never shuffle, and two
    hash aggs (max per query-token, then sum per doc pair) reduce
    token cosines to doc scores.  Fully value-checked: the oracle
    replays the same grouping, rounding, and tie-break."""
    from results_ingestor_spark.operators.similarity import maxsim_topk
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"].select(
        F.expr("vec_id div 8").alias("doc_id"),
        F.col("vec_id").alias("tok_id"), "embedding")
    return maxsim_topk(e.where(F.col("doc_id") >= 2),
                       e.where(F.col("doc_id") < 2), k=10)


@query("ann_dim_truncation_recall", oracle=f"""
WITH nf AS ({_NORM_SQL}),
tr AS (
  SELECT vec_id, embedding[1:16] AS emb16 FROM embeddings),
nt AS (
  SELECT vec_id, sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                       FROM (SELECT unnest(emb16) AS x))) AS nrm
  FROM tr),
full_s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  JOIN nf nq ON nq.vec_id = q.vec_id
  JOIN nf nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 5),
full_k AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rn
    FROM full_s) WHERE rn <= 10),
tr_s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.emb16) AS xa, unnest(c.emb16) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM tr q
  JOIN tr c ON q.vec_id <> c.vec_id
  JOIN nt nq ON nq.vec_id = q.vec_id
  JOIN nt nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 5),
tr_k AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rn
    FROM tr_s) WHERE rn <= 10)
SELECT f.query_id,
  CAST(COUNT(t.cand_id) AS BIGINT) AS n_hits,
  CAST(floor((COUNT(t.cand_id) / 10.0) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS recall_at_10
FROM full_k f LEFT JOIN tr_k t
  ON f.query_id = t.query_id AND f.cand_id = t.cand_id
GROUP BY f.query_id ORDER BY f.query_id""")
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: how much of the
    exact full-dimension (64-d) top-10 neighborhood survives when the
    index stores only the FIRST 16 dimensions — the storage/recall
    trade every embedding pipeline prices before shipping a truncated
    index (4x smaller vectors, quarter the dot-product FLOPs).
    Computes both exact rankings in-plan and reports per-probe
    recall@10 of the truncated ranking against the full one.

    Scale: both legs are the whitelisted broadcast-probe brute-force
    shape (probe set bounded by construction); the truncated leg's
    slice happens map-side before the join, so it moves 16 floats, not
    64.  The recall join is per-probe k-bounded (10 rows a side)."""
    from results_ingestor_spark.operators.similarity import brute_force_topk
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = e16.where(F.col("vec_id") < 5)
    full_k = brute_force_topk(e, q, k=10)
    tr_k = brute_force_topk(e16, q16, k=10)
    matched = (full_k.select("query_id", "cand_id")
               .join(tr_k.select("query_id", "cand_id",
                                 F.lit(1).alias("hit")),
                     ["query_id", "cand_id"], "left"))
    return (matched.groupBy("query_id")
            .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                 .alias("n_hits"),
                 exact.snap_double_col(F.sum(F.coalesce("hit", F.lit(0))) / F.lit(10.0), 6)
                 .alias("recall_at_10"))
            .orderBy("query_id"))


@query("knn_label_accuracy", oracle=f"""
WITH n AS ({_NORM_SQL}),
s AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
    c.vec_id AS cand_id, c.label AS cand_label,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS xa, unnest(c.embedding) AS xb)) / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 20),
topk AS (
  SELECT query_id, true_label, cand_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rn
    FROM s) WHERE rn <= 10),
votes AS (
  SELECT query_id, true_label, cand_label,
    CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, true_label, cand_label),
pred AS (
  SELECT query_id, true_label, cand_label AS pred_label, n_votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, cand_label) AS rn
    FROM votes) WHERE rn = 1)
SELECT query_id, true_label, pred_label, n_votes,
  pred_label = true_label AS correct
FROM pred ORDER BY query_id""")
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label agreement in embedding space: for each probe vector,
    the majority label among its 10 exact nearest neighbors vs its own
    label — the standard embedding-quality / label-noise diagnostic (a
    probe whose neighborhood votes against it is either mislabeled or
    sits on a class boundary).  Majority ties break toward the
    smallest label id, mirrored exactly in the oracle.

    Scale: the probe set is bounded by construction (broadcast
    brute-force leg, the whitelisted ANN shape); voting is a k-bounded
    per-probe aggregate, so everything after the similarity join
    touches at most probes x k rows."""
    from results_ingestor_spark.operators.similarity import brute_force_topk
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 20)
    topk = brute_force_topk(e, q, k=10)
    lab = (topk.join(e.select(F.col("vec_id").alias("query_id"),
                              F.col("label").alias("true_label")),
                     "query_id")
           .join(e.select(F.col("vec_id").alias("cand_id"),
                          F.col("label").alias("cand_label")), "cand_id"))
    votes = (lab.groupBy("query_id", "true_label", "cand_label")
             .agg(F.count("*").alias("n_votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("cand_label"))
    return (votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("query_id", "true_label",
                    F.col("cand_label").alias("pred_label"), "n_votes",
                    (F.col("cand_label") == F.col("true_label"))
                    .alias("correct"))
            .orderBy("query_id"))


def _ivf_stats_oracle(n_clusters: int = 10, n_iter: int = 3) -> str:
    from results_ingestor_spark.plans.kmeans_sql import assign_cte, kmeans_ctes
    return f"""
WITH {kmeans_ctes(n_clusters, n_iter)},{assign_cte("asgf")},
sizes AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM asgf GROUP BY cid),
allc AS (
  SELECT c.cid, COALESCE(s.n_vecs, 0) AS n_vecs
  FROM cent{n_iter} c LEFT JOIN sizes s ON c.cid = s.cid),
g AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
    CAST(SUM(n_vecs * n_vecs) AS BIGINT) AS ssq,
    CAST(COUNT(*) AS BIGINT) AS k
  FROM allc)
SELECT a.cid, a.n_vecs,
  CAST(floor((CAST(a.n_vecs AS DOUBLE) / g.total) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS share,
  CAST(floor((g.k * CAST(g.ssq AS DOUBLE) / (g.total * g.total)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS imbalance_factor
FROM allc a CROSS JOIN g ORDER BY a.cid"""


@query("ann_ivf_index_stats", oracle=_ivf_stats_oracle())
def ann_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: per-centroid posting-list sizes and the
    imbalance factor lambda = k * sum(s_i^2) / (sum s_i)^2 (Jegou et
    al.'s measure; 1.0 = perfectly balanced) — THE number that predicts
    real nprobe latency, because probe cost follows list sizes, not
    k.  A quantizer whose lambda drifts up as the corpus grows is due
    for retraining; empty cells (dead centroids) report explicitly.
    Training replays the shared deterministic k-means; sizes are exact
    integers and both ratios divide once.

    Scale: assignment is the map-only broadcast-centroid fold; sizes
    are a k-bounded hash agg; the 1-row moment broadcast is the
    whitelisted scalar-combine shape."""
    from results_ingestor_spark.operators.similarity import (
        assign_centroids, kmeans_centroids)
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    cents = kmeans_centroids(e, n_clusters=10, n_iter=3)
    asg = assign_centroids(e, cents, "embedding", "cid").select("cid")
    sizes = asg.groupBy("cid").agg(F.count("*").alias("nv"))
    allc = (spark.range(len(cents))
            .select(F.col("id").cast("int").alias("cid"))
            .join(sizes, "cid", "left")
            .select("cid", F.coalesce("nv", F.lit(0)).cast("long")
                    .alias("n_vecs")))
    g = allc.agg(F.sum("n_vecs").cast("long").alias("total"),
                 F.sum(F.col("n_vecs") * F.col("n_vecs")).cast("long")
                 .alias("ssq"),
                 F.count("*").alias("k"))
    return (allc.crossJoin(F.broadcast(g))
            .select("cid", "n_vecs",
                    exact.snap_double_col(F.col("n_vecs").cast("double") / F.col("total"), 6).alias("share"),
                    exact.snap_double_col(F.col("k") * F.col("ssq").cast("double") / (F.col("total") * F.col("total")), 6)
                    .alias("imbalance_factor"))
            .orderBy("cid"))


def _knn_graph_oracle(k: int = 3) -> str:
    """DuckDB twin of ann_knn_graph_banded: same md5-derived planes,
    same 4x4-bit band keys, same per-node rounded-cosine top-k."""
    return f"""
WITH v AS (
  SELECT vec_id, embedding,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
b AS (SELECT vec_id, ({_lsh_bucket_sql()}) AS bkt FROM v),
keyed AS (
  SELECT vec_id, bidx, (bkt >> (4 * bidx)) & 15 AS bkey
  FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bidx)),
cand AS (
  SELECT DISTINCT l.vec_id AS src, r.vec_id AS nbr
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.vec_id <> r.vec_id),
n AS ({_NORM_SQL}),
scored AS (
  SELECT src, nbr,
    CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS xa, unnest(c.embedding) AS xb)) / (na.nrm * nb.nrm)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS cosine
  FROM cand
  JOIN embeddings a ON a.vec_id = src
  JOIN embeddings c ON c.vec_id = nbr
  JOIN n na ON na.vec_id = src
  JOIN n nb ON nb.vec_id = nbr)
SELECT src, nbr, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY src
                               ORDER BY cosine DESC, nbr) AS rn
  FROM scored) WHERE rn <= {k}"""


@query("ann_knn_graph_banded", oracle=_knn_graph_oracle())
def ann_knn_graph_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN GRAPH over the whole embedding corpus (top-3
    neighbors per node) — the building block under semantic dedup,
    graph-based ANN indexes, and label propagation over embeddings.
    Candidate pairs come from the banded sign-bit LSH equi-join
    (operators/similarity.py::knn_graph_banded over the same
    banded_pairs as dedup_embedding_cosine: the shuffle carries
    (band_key, vec_id), vector bodies move only for candidates, and no
    all-pairs join exists); exact rounded cosine ranks candidates
    per node.  Nodes whose bands collide with nothing emit no rows —
    the standard LSH-graph recall trade, measured by the recall-check
    siblings.

    Scale: identical budget to the dedup path plus one
    node-partitioned top-k window over the candidate lists."""
    from results_ingestor_spark.operators.similarity import knn_graph_banded
    t = load_tables(spark, sf_dir, ("embeddings",))
    return knn_graph_banded(t["embeddings"], 64, k=3)


@query("embedding_hubness_census", oracle=f"""
WITH g AS ({_knn_graph_oracle()}),
alln AS (SELECT vec_id FROM embeddings),
indeg AS (
  SELECT alln.vec_id,
    CAST(coalesce(cnt.c, 0) AS BIGINT) AS in_degree
  FROM alln LEFT JOIN (
    SELECT nbr, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY nbr) cnt
    ON cnt.nbr = alln.vec_id)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM indeg GROUP BY in_degree ORDER BY in_degree""")
def embedding_hubness_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Hubness census of the kNN graph (k-occurrence distribution):
    how many nodes appear in 0, 1, 2… other nodes' top-3 neighbor
    lists.  Hubness is the high-dimensional pathology that silently
    degrades ANN retrieval — a few "hub" vectors show up in everyone's
    neighbor list (inflating their influence in semantic dedup and
    kNN voting) while "anti-hubs" (in-degree 0) are never retrieved at
    all.  A heavy right tail here is the measured trigger for
    hubness-correction (mutual-kNN or cosine re-centering) before
    trusting the kNN-graph consumers this family ships.

    Builds on ann_knn_graph_banded's exact pipeline (same LSH bands,
    same rounded-cosine top-3) and adds ONE neighbor-keyed count plus
    a left join against all nodes (so anti-hubs are counted, not
    dropped) and a bounded histogram aggregate — in-degree is at most
    n, in practice tiny.  The oracle replays the identical graph."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    g = ann_knn_graph_banded(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("embeddings",))
    alln = ensure_min_parallelism(t["embeddings"]).select("vec_id")
    cnt = g.groupBy(F.col("nbr").alias("vec_id")) \
        .agg(F.count("*").cast("long").alias("c"))
    indeg = (alln.join(cnt, "vec_id", "left")
             .select(F.coalesce("c", F.lit(0)).cast("long")
                     .alias("in_degree")))
    return (indeg.groupBy("in_degree")
            .agg(F.count("*").cast("long").alias("n_nodes"))
            .orderBy("in_degree"))


def _normalized_components(e: DataFrame) -> DataFrame:
    """``(i, v)``: every component of every unit-normalized embedding,
    each vector's norm computed once per row, not per component."""
    return (normed(e, "embedding", "embedding", "nrm")
            .select(F.posexplode(F.transform(
                "embedding", lambda x: x.cast("double") / F.col("nrm")))
                .alias("i", "v")))


@query("embedding_isotropy_score", oracle=f"""
WITH n AS ({_NORM_SQL}),
flat AS (
  SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS i,
    CAST(unnest(e.embedding) AS DOUBLE) / n.nrm AS v
  FROM embeddings e JOIN n ON n.vec_id = e.vec_id),
s AS (SELECT i, SUM(v) AS sd FROM flat GROUP BY i),
g AS (
  SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
    SUM(sd * sd) AS sum_sq
  FROM s)
SELECT n_vecs,
  CAST(floor((sqrt(sum_sq) / n_vecs) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_vector_norm,
  CAST(floor(((sum_sq - n_vecs) / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS avg_pairwise_cosine
FROM g""")
def embedding_isotropy_score(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Isotropy of the embedding space (Ethayarajh 2019's anisotropy
    diagnostic): the average pairwise cosine between ALL normalized
    vectors, computed WITHOUT any pair enumeration via the identity
    Σ_{{i≠j}} v̂_i·v̂_j = ‖Σv̂‖² − n.  Contextual-embedding spaces are
    notoriously anisotropic (everything points the same way), which
    silently breaks cosine-threshold dedup and ANN recall; an average
    cosine well above 0 is the measured trigger for mean-centering
    before the embedding consumers this family ships.  Also emits the
    mean-vector norm (0 for perfectly isotropic, 1 for collinear).

    The n²-pair quantity from an O(n·d) pass: per-dimension sums of
    normalized components (64 groups, map-side combine — partials,
    not vectors, cross the shuffle), one 64-row reduce.  Double
    summation order differs at ~1e-16 relative between engines; both
    outputs are O(1)-magnitude and snapped at 6 dp (the covariance
    entry's contract)."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = ensure_min_parallelism(t["embeddings"])
    flat = _normalized_components(e)
    s = flat.groupBy("i").agg(F.sum("v").alias("sd"))
    cnt = e.agg(F.count("*").cast("long").alias("n_vecs"))
    g = (s.agg(F.sum(F.col("sd") * F.col("sd")).alias("sum_sq"))
         .crossJoin(F.broadcast(cnt)))
    n = F.col("n_vecs")
    return g.select(
        "n_vecs",
        exact.snap_double_col(F.sqrt("sum_sq") / n, 6).alias("mean_vector_norm"),
        exact.snap_double_col((F.col("sum_sq") - n) / (n.cast("double") * (n - 1)), 6)
         .alias("avg_pairwise_cosine"))


@query("embedding_intrinsic_dim_twonn", oracle=f"""
WITH g AS ({_knn_graph_oracle(2)}),
rr AS (
  SELECT src,
    MAX(CASE WHEN rn = 1 THEN 1.0 - cosine END) AS r1,
    MAX(CASE WHEN rn = 2 THEN 1.0 - cosine END) AS r2
  FROM g GROUP BY src HAVING COUNT(*) = 2),
mu AS (
  SELECT src, CAST(floor((ln(r2 / r1)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mu
  FROM rr WHERE r1 > 0 AND r2 >= r1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_valid, SUM(mu) AS smu FROM mu),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points FROM embeddings)
SELECT n_points, n_valid,
  CAST(floor((CAST(n_valid AS DOUBLE) / smu) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS intrinsic_dim,
  CAST(floor((smu / n_valid) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mean_mu
FROM agg CROSS JOIN np""")
def embedding_intrinsic_dim_twonn(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): from
    each point's two nearest neighbors alone, μ = ln(r₂/r₁) is
    Pareto(id)-distributed, so the MLE is id = n/Σμ.  The intrinsic
    dimension — how many degrees of freedom the embeddings actually
    use, regardless of their ambient 64 — is the number that predicts
    ANN difficulty (LSH/IVF recall decays with id, not with ambient
    dim) and detects representation collapse (id ≪ ambient after bad
    fine-tuning).  Distances are cosine distances from the BANDED kNN
    graph (ann_knn_graph_banded's exact pipeline, r₁ > 0 duplicates
    dropped, stated), so the whole estimator replays in SQL and the
    oracle checks it end-to-end.

    Each μ snaps to 9 dp; the Σμ float sum is order-noisy at ~1e-16
    relative and the output snaps at 6 (the covariance contract).
    Shape: the kNN-graph budget + a per-src 2-row pivot + a 1-row
    MLE."""
    g = ann_knn_graph_banded(spark, sf_dir)
    rr = (g.where(F.col("rn") <= 2)
          .groupBy("src")
          .agg(F.max(F.when(F.col("rn") == 1, 1.0 - F.col("cosine")))
               .alias("r1"),
               F.max(F.when(F.col("rn") == 2, 1.0 - F.col("cosine")))
               .alias("r2"),
               F.count("*").alias("m"))
          .where(F.col("m") == 2))
    mu = (rr.where((F.col("r1") > 0) & (F.col("r2") >= F.col("r1")))
          .select(exact.snap_double_col(F.log(F.col("r2") / F.col("r1")), 9)
                  .alias("mu")))
    agg = mu.agg(F.count("*").cast("long").alias("n_valid"),
                 F.sum("mu").alias("smu"))
    t = load_tables(spark, sf_dir, ("embeddings",))
    np_ = t["embeddings"].agg(F.count("*").cast("long")
                              .alias("n_points"))
    return (agg.crossJoin(F.broadcast(np_))
            .select("n_points", "n_valid",
                    exact.snap_double_col(F.col("n_valid").cast("double") / F.col("smu"), 6).alias("intrinsic_dim"),
                    exact.snap_double_col(F.col("smu") / F.col("n_valid"), 9)
                    .alias("mean_mu")))


@query("embedding_mmd_linear", oracle="""
WITH flat AS (
  SELECT label % 2 = 0 AS grp,
    generate_subscripts(embedding, 1) - 1 AS i,
    CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
s AS (
  SELECT i,
    SUM(CASE WHEN grp THEN v END) AS sa,
    SUM(CASE WHEN NOT grp THEN v END) AS sb
  FROM flat GROUP BY i),
n AS (
  SELECT CAST(count_if(label % 2 = 0) AS BIGINT) AS na,
    CAST(count_if(label % 2 = 1) AS BIGINT) AS nb
  FROM embeddings),
g AS (
  SELECT SUM((sa / na - sb / nb) * (sa / na - sb / nb)) AS mmd2
  FROM s CROSS JOIN n)
SELECT na, nb,
  CAST(floor((mmd2) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mmd2_linear,
  CAST(floor((sqrt(mmd2)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_distance
FROM g CROSS JOIN n""")
def embedding_mmd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between the two
    label-parity groups of the embedding corpus: MMD² = ‖μ_A − μ_B‖²,
    the two-sample representation-drift test (Gretton et al.) in its
    cheapest kernel — zero pair enumeration, just per-dimension group
    means.  This is the monitor a feature-store runs between
    yesterday's and today's embedding batches: MMD² rising means the
    encoder or the upstream distribution moved, BEFORE any downstream
    metric notices.  Complements the per-dimension covariance entry
    (shape drift) with a single location-drift scalar.

    Per-dimension float sums carry ~1e-16 summation-order noise and
    outputs snap at 6 dp (the covariance/isotropy contract).  Shape:
    one explode → 64-group aggregate with map-side combine (group
    sums, never vectors, shuffle), a 1-row count broadcast, a 64-row
    reduce."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = ensure_min_parallelism(t["embeddings"])
    flat = e.select((F.col("label") % 2 == 0).alias("grp"),
                    F.posexplode(F.transform(
                        "embedding", lambda x: x.cast("double")))
                    .alias("i", "v"))
    s = (flat.groupBy("i")
         .agg(F.sum(F.when(F.col("grp"), F.col("v"))).alias("sa"),
              F.sum(F.when(~F.col("grp"), F.col("v"))).alias("sb")))
    n = e.agg(F.count_if(F.col("label") % 2 == 0).cast("long")
               .alias("na"),
              F.count_if(F.col("label") % 2 == 1).cast("long")
               .alias("nb"))
    diff = (F.col("sa") / F.col("na") - F.col("sb") / F.col("nb"))
    g = (s.crossJoin(F.broadcast(n))
         .agg(F.sum(diff * diff).alias("mmd2"),
              F.max("na").alias("na"), F.max("nb").alias("nb")))
    return g.select("na", "nb",
                    exact.snap_double_col("mmd2", 6).alias("mmd2_linear"),
                    exact.snap_double_col(F.sqrt("mmd2"), 6).alias("mean_distance"))


@query("embedding_whitening_effect", oracle="""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
    CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
st AS (
  SELECT i, CAST(floor((AVG(v)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS m,
    CAST(floor((sqrt(AVG(v * v) - AVG(v) * AVG(v))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sd
  FROM flat GROUP BY i),
arrs AS (
  SELECT list(m ORDER BY i) AS means, list(sd ORDER BY i) AS stds
  FROM st),
zed AS (
  SELECT vec_id,
    [(CAST(embedding[i] AS DOUBLE) - means[i]) / stds[i]
     for i in range(1, len(embedding) + 1)] AS z
  FROM embeddings CROSS JOIN arrs),
norms AS (
  SELECT vec_id, z,
    sqrt((SELECT SUM(x * x) FROM (SELECT unnest(z) AS x))) AS nz
  FROM zed),
nflat AS (
  SELECT generate_subscripts(z, 1) AS i, unnest(z) / nz AS v
  FROM norms),
sums AS (SELECT i, SUM(v) AS sd2 FROM nflat GROUP BY i),
after AS (
  SELECT SUM(sd2 * sd2) AS ss FROM sums),
-- the BEFORE side replays embedding_isotropy_score
bnorm AS (
  SELECT vec_id, sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                       FROM (SELECT unnest(embedding) AS x))) AS nrm
  FROM embeddings),
bflat AS (
  SELECT generate_subscripts(e.embedding, 1) AS i,
    CAST(unnest(e.embedding) AS DOUBLE) / b.nrm AS v
  FROM embeddings e JOIN bnorm b ON b.vec_id = e.vec_id),
bsums AS (SELECT i, SUM(v) AS sd2 FROM bflat GROUP BY i),
before AS (SELECT SUM(sd2 * sd2) AS ss FROM bsums),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings)
SELECT n_vecs,
  CAST(floor(((before.ss - n_vecs) / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_cos_before,
  CAST(floor(((after.ss - n_vecs) / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_cos_after
FROM before CROSS JOIN after CROSS JOIN n""")
def embedding_whitening_effect(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Measured isotropy GAIN from diagonal whitening: standardize
    every dimension ((v−μ_d)/σ_d), re-normalize, and recompute the
    average pairwise cosine with the same ‖Σv̂‖²−n identity as
    embedding_isotropy_score — before vs after in one plan.  Diagonal
    whitening is the cheap first correction for anisotropic embedding
    spaces (full ZCA needs the eigendecomposition, which lives in the
    rows-only PCA entry); |avg cosine| collapsing toward 0 here is the
    measured justification for applying it before cosine-threshold
    dedup.  Mean-centering alone makes the mean vector EXACTLY zero,
    so avg_cos_after ≈ 0 is also a correctness signal, not just an
    improvement.

    Per-dim μ/σ snap to 9 dp before entering the transform (both
    engines transform identical vectors); per-dim sums carry the usual
    ~1e-16 order noise and outputs snap at 6 (the covariance
    contract).  Shape: one explode for stats (64 groups), the 64-value
    μ/σ arrays broadcast back as ONE row, a map-side transform, one
    more 64-group reduce — two skinny shuffles total."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = ensure_min_parallelism(t["embeddings"])
    flat = e.select("vec_id",
                    F.posexplode(F.transform(
                        "embedding", lambda x: x.cast("double")))
                    .alias("i0", "v"))
    st = (flat.groupBy("i0")
          .agg(exact.snap_double_col(F.avg("v"), 9).alias("m"),
               exact.snap_double_col(F.sqrt(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")), 9).alias("sd")))
    arrs = st.agg(
        F.array_sort(F.collect_list(F.struct("i0", "m"))).alias("ms"),
        F.array_sort(F.collect_list(F.struct("i0", "sd"))).alias("sds"))
    arrs = arrs.select(
        F.transform("ms", lambda s: s["m"]).alias("means"),
        F.transform("sds", lambda s: s["sd"]).alias("stds"))
    zed = (e.crossJoin(F.broadcast(arrs))
           .select(F.expr(
               "transform(sequence(1, size(embedding)), i -> "
               "(CAST(element_at(embedding, i) AS DOUBLE)"
               " - element_at(means, i)) / element_at(stds, i))")
               .alias("z")))
    nz = F.sqrt(F.aggregate("z", F.lit(0.0),
                            lambda acc, x: acc + x * x))
    nflat = (zed.select(F.col("z"), nz.alias("nz"))
             .select(F.posexplode(F.transform(
                 "z", lambda x: x / F.col("nz"))).alias("i", "v")))
    after = (nflat.groupBy("i").agg(F.sum("v").alias("sd2"))
             .agg(F.sum(F.col("sd2") * F.col("sd2")).alias("ss_after")))
    before = (_normalized_components(e).groupBy("i").agg(F.sum("v").alias("sd2"))
              .agg(F.sum(F.col("sd2") * F.col("sd2"))
                   .alias("ss_before")))
    n = e.agg(F.count("*").cast("long").alias("n_vecs"))
    nn = F.col("n_vecs")
    return (before.crossJoin(F.broadcast(after))
            .crossJoin(F.broadcast(n))
            .select("n_vecs",
                    exact.snap_double_col((F.col("ss_before") - nn) / (nn.cast("double") * (nn - 1)), 6)
                    .alias("avg_cos_before"),
                    exact.snap_double_col((F.col("ss_after") - nn) / (nn.cast("double") * (nn - 1)), 6)
                    .alias("avg_cos_after")))
