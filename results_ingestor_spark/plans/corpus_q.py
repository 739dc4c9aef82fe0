"""Corpus-preparation queries (north-star M3 round 3): RAG chunking,
n-gram language-model scoring, distribution-drift testing, and BPE merge
training.

These extend the text/curation families with the remaining operators a
training-data pipeline runs between raw documents and a tokenized
dataset.  All hot paths are built-in expressions; the BPE trainer's only
driver traffic is one argmax row per merge.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from results_ingestor_spark.operators.bpe import train_bpe_merges
from results_ingestor_spark.operators.ckpt import carry_scope
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables, local_relation

_TOKS = "string_split(text, ' ')"

CHUNK = 64    # tokens per chunk
STRIDE = 48   # tokens between chunk starts (CHUNK-STRIDE = 16 overlap)


@query("text_chunk_windows", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
starts AS (
  SELECT doc_id, t, unnest(range(0, len(t), {STRIDE})) AS start FROM tk)
SELECT doc_id,
  CAST(start // {STRIDE} AS BIGINT) AS chunk_id,
  CAST(least({CHUNK}, len(t) - start) AS BIGINT) AS n_chunk_tokens,
  array_to_string(t[start + 1 : start + {CHUNK}], ' ') AS chunk_text
FROM starts""")
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48) —
    the RAG / context-window preparation step.  Pure narrow plan: one
    sequence + explode + slice per document, no shuffle; at 100 TB this
    is a map-only stage whose output is ~4/3× the input tokens."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = F.split("text", " ")
    d = t["documents"].select(
        "doc_id", tk.alias("t"),
        F.explode(F.sequence(
            F.lit(0), F.size(tk) - 1, F.lit(STRIDE))).alias("start"))
    return d.select(
        "doc_id",
        F.expr(f"start DIV {STRIDE}").alias("chunk_id"),
        F.least(F.lit(CHUNK), F.size("t") - F.col("start"))
         .cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice("t", F.col("start") + 1, F.lit(CHUNK)))
         .alias("chunk_text"))


@query("lm_bigram_perplexity", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
cb AS (SELECT w1, w2, COUNT(*) AS c_bi FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c_ctx FROM bg GROUP BY w1),
v AS (SELECT COUNT(DISTINCT tok) AS vsz
      FROM (SELECT unnest(t) AS tok FROM tk)),
scored AS (
  SELECT bg.doc_id,
    CAST(CAST(floor((ln(CAST(cb.c_bi + 1 AS DOUBLE) / (c1.c_ctx + v.vsz))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
         AS DECIMAL(18, 9)) AS lp
  FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, COUNT(*) AS n_bigrams,
  CAST(floor((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_logprob
FROM scored GROUP BY doc_id""")
def lm_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one-smoothed bigram LM scoring each document's
    mean token log-probability — the KenLM-perplexity-filter shape
    (CCNet) expressed as two aggregations and two equi-joins.

    Determinism contract: the per-bigram ln() is rounded to 9 dp and
    summed as DECIMAL (order-independent), so Spark and the oracle agree
    exactly despite float addition being non-associative.  Scale: the
    bigram-count join shuffles on (w1, w2) — skew on stop-bigrams is
    AQE's skew-join case; V is a 1-row broadcast."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = F.split("text", " ")
    n = F.size(tk)
    bg = (t["documents"]
          .select("doc_id", F.explode(F.arrays_zip(
              F.slice(tk, 1, n - 1).alias("w1"),
              F.slice(tk, 2, n - 1).alias("w2"))).alias("p"))
          .select("doc_id", F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2")))
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c_ctx"))
    v = (t["documents"]
         .select(F.explode(tk).alias("tok"))
         .agg(F.countDistinct("tok").alias("vsz")))
    lp = exact.snap_double_col(F.log(F.col("c_bi").cast("double") + 1) - F.log((F.col("c_ctx") + F.col("vsz")).cast("double")), 9).cast("decimal(18,9)")
    scored = (bg.join(cb, ["w1", "w2"]).join(c1, ["w1"])
                .crossJoin(F.broadcast(v))
                .select("doc_id", lp.alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 exact.snap_double_col(F.sum("lp").cast("double") / F.count("*"), 6)
                  .alias("avg_logprob")))


@query("stats_ks_two_sample", oracle="""
WITH s AS (
  SELECT value,
    count_if(event_type = 'click') AS c1,
    count_if(event_type = 'view')  AS c2
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY value),
cum AS (
  SELECT
    CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
    CAST(SUM(c2) OVER w AS BIGINT) AS cum2
  FROM s WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)),
tot AS (SELECT MAX(cum1) AS n1, MAX(cum2) AS n2 FROM cum)
SELECT n1 AS n_click, n2 AS n_view,
  (SELECT MAX(abs(cum1 * n2 - cum2 * n1)) FROM cum) AS d_numer,
  CAST(floor((CAST((SELECT MAX(abs(cum1 * n2 - cum2 * n1)) FROM cum) AS DOUBLE) / (n1 * n2)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS d_stat
FROM tot""")
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the 'click' and 'view'
    value distributions — the distribution-drift test, computed EXACTLY:
    D's numerator max|cum1*n2 - cum2*n1| stays in integers, one division
    at the end.

    The global-order window runs over *distinct values* (pre-aggregated
    counts), not rows — the single-partition window is bounded by the
    value domain, the same contract as the equi-depth histogram."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].where(F.col("event_type").isin("click", "view"))
    s = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "click").alias("c1"),
        F.count_if(F.col("event_type") == "view").alias("c2"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    cum = s.select(F.sum("c1").over(w).cast("long").alias("cum1"),
                   F.sum("c2").over(w).cast("long").alias("cum2"))
    tot = cum.select(
        "cum1", "cum2",
        F.max("cum1").over(wfull).alias("n1"),
        F.max("cum2").over(wfull).alias("n2"))
    return (tot
            .select("n1", "n2",
                    F.abs(F.col("cum1") * F.col("n2")
                          - F.col("cum2") * F.col("n1")).alias("diff"))
            .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                 F.max("diff").alias("d_numer"))
            .select(F.col("n1").alias("n_click"),
                    F.col("n2").alias("n_view"), "d_numer",
                    exact.snap_double_col(F.col("d_numer").cast("double") / (F.col("n1") * F.col("n2")), 9)
                     .alias("d_stat")))


def _bpe_chain(n_merges: int) -> tuple[list[str], str]:
    """Unrolled-CTE replay of the BPE trainer (operators/bpe.py): the
    word vocabulary's symbol sequence is encoded as a string of
    \\x01-wrapped symbols (\\x01sym\\x02…), so the greedy left-to-right
    non-overlapping merge rewrite — Spark's ``_merge_fold`` — is exactly
    SQL ``replace`` of '\\x01a\\x02\\x01b\\x02' with '\\x01ab\\x02'
    (both scan leftmost, consume the match, and resume after it).  Each
    merge i is: pair counts over seg{i} (list-comprehension bigram
    extraction), the (count DESC, a, b) argmax as a 1-row CTE m{i}, and
    the rewrite into seg{i+1}.  Returns (CTE parts, final seg name);
    the delimiters are control bytes that cannot appear in
    space-tokenized words."""
    d1, d2 = "e'\\x01'", "e'\\x02'"
    parts = [f"""vocab AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
seg0 AS MATERIALIZED (
  SELECT word, cnt, array_to_string(
    [{d1} || word[i] ||
     CASE WHEN i = length(word) THEN '</w>' ELSE '' END || {d2}
     for i in range(1, length(word) + 1)], '') AS seg
  FROM vocab)"""]
    for i in range(n_merges):
        parts.append(f"""
p{i} AS (
  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, unnest([[t[j], t[j + 1]] for j in range(1, len(t))]) AS pr
    FROM (
      SELECT cnt, string_split(seg[2 : length(seg) - 1],
                               {d2} || {d1}) AS t
      FROM seg{i}))
  GROUP BY pr[1], pr[2]),
m{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
seg{i + 1} AS MATERIALIZED (
  SELECT s.word, s.cnt,
    replace(s.seg, {d1} || m.a || {d2} || {d1} || m.b || {d2},
            {d1} || m.a || m.b || {d2}) AS seg
  FROM seg{i} s CROSS JOIN m{i} m)""")
    return parts, f"seg{n_merges}"


def _bpe_train_oracle(n_merges: int = 8) -> str:
    rows = [f"""SELECT CAST({i} AS INTEGER) AS merge_rank, a AS "left",
  b AS "right", a || b AS merged, c AS pair_count FROM m{i}"""
            for i in range(n_merges)]
    parts, _ = _bpe_chain(n_merges)
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@query("bpe_train_merges", oracle=_bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the documents corpus (see
    operators/bpe.py for the algorithm and its scale contract).  Round
    4: value-checked — the oracle replays the full training loop as
    unrolled CTEs (string-encoded symbol sequences make the greedy
    merge rewrite a plain ``replace``), formerly rows-only; the
    published-example golden in tests/test_bpe.py still pins the
    algorithm against Sennrich et al."""
    t = load_tables(spark, sf_dir, ("documents",))
    return train_bpe_merges(t["documents"], n_merges=8)


_GD_ITERS = 8
_GD_LR = 5.0
_N_FEAT = 6

_FEAT_SQL = f"""feat AS (
  SELECT
    doc_id, source,
    1.0 AS x0,
    least(len({_TOKS}) / 200.0, 1.0) AS x1,
    len(list_distinct({_TOKS})) / CAST(len({_TOKS}) AS DOUBLE) AS x2,
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
      / CAST(length(text) AS DOUBLE) AS x3,
    (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
      / CAST(length(text) AS DOUBLE) AS x4,
    least(CAST(length(text) AS DOUBLE) / len({_TOKS}) / 10.0, 1.0) AS x5,
    CASE WHEN length(text) >= 300 THEN 1.0 ELSE 0.0 END AS y
  FROM documents)"""


def _gd_chain() -> list[str]:
    """The unrolled GD CTE chain (feat → wt0 → … → wt{_GD_ITERS}),
    shared by the train-trajectory oracle and the score oracle."""
    js = range(_N_FEAT)
    parts = ["WITH " + _FEAT_SQL,
             "wt0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in js) + ")"]
    pc = "greatest(least(p, 1.0 - 1e-12), 1e-12)"
    for i in range(_GD_ITERS):
        z = " + ".join(f"f.x{j} * w.w{j}" for j in js)
        parts.append(
            f"p{i} AS (SELECT f.*, 1.0 / (1.0 + exp(-({z}))) AS p "
            f"FROM feat f CROSS JOIN wt{i} w)")
        gs = ", ".join(f"avg((p - y) * x{j}) AS g{j}" for j in js)
        parts.append(
            f"a{i} AS (SELECT avg(-(y * ln({pc}) "
            f"+ (1.0 - y) * ln(1.0 - {pc}))) AS loss, {gs} FROM p{i})")
        ws = ", ".join(
            exact.snap_double(f"w.w{j} - {_GD_LR} * a.g{j}", 9)
            + f" AS w{j}" for j in js)
        parts.append(
            f"wt{i + 1} AS (SELECT {ws} FROM wt{i} w CROSS JOIN a{i} a)")
    return parts


def _gd_oracle() -> str:
    """Unrolled-CTE twin of the DataFrame GD loop: DuckDB runs its own
    8 gradient-descent iterations (weights chained through 1-row CTEs,
    rounded to 9 dp exactly like the Spark trainer), so the value check
    covers feature parity AND the optimization trajectory."""
    js = range(_N_FEAT)
    parts = _gd_chain()
    rows = [
        f"SELECT CAST({i} AS BIGINT) AS iteration, "
        + exact.snap_double(f"a{i}.loss", 6) + " AS loss, " + ", ".join(f"w.w{j} AS w{j}" for j in js)
        + f" FROM a{i} CROSS JOIN wt{i + 1} w"
        for i in range(_GD_ITERS)]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@query("quality_classifier_train", oracle=_gd_oracle())
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the logistic quality classifier (operators/classifier.py)
    and return the full optimization trajectory — iteration, pre-update
    loss, post-update weights.  Value-checked against a DuckDB oracle
    that unrolls the same 8 GD iterations in chained CTEs (the
    pagerank-oracle technique): both engines independently optimize and
    must land on identical 9-dp weight trajectories."""
    from results_ingestor_spark.operators.classifier import (
        train_quality_classifier)
    t = load_tables(spark, sf_dir, ("documents",))
    hist = train_quality_classifier(t["documents"], iterations=_GD_ITERS,
                                    lr=_GD_LR)
    rows = [(h["iteration"],
             _math.floor(h["loss"] * 1e6 + 0.5) / 1e6, *h["weights"])
            for h in hist]
    schema = ("iteration long, loss double, "
              + ", ".join(f"w{j} double" for j in range(_N_FEAT)))
    return local_relation(spark, rows, schema)


def _score_oracle() -> str:
    """Score oracle: replay the whole GD chain to the FINAL weights
    (identical across engines because each iteration's weights round to
    9 dp — the train-trajectory gate proves it), then apply the same
    sigmoid map.  Converts this entry from rows-only to value-checked
    (round-3 verdict item 6)."""
    js = range(_N_FEAT)
    z = " + ".join(f"f.x{j} * w.w{j}" for j in js)
    return (",\n".join(_gd_chain()) + f"""
SELECT f.doc_id, f.source,
  {exact.snap_double(f"1.0 / (1.0 + exp(-({z})))", 6)} AS quality_prob,
  (1.0 / (1.0 + exp(-({z})))) >= 0.5 AS keep
FROM feat f CROSS JOIN wt{_GD_ITERS} w""")


@query("quality_classifier_score", oracle=_score_oracle())
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the trained classifier — a pure map
    stage once the (driver-side, d+1-double) weight vector exists.
    Round 4: value-checked — the oracle replays the GD chain to the
    final 9-dp-rounded weights (bit-identical across engines, proven by
    the train gate) and scores with the same expression; pytest gates
    held-out-accuracy > majority baseline."""
    from results_ingestor_spark.operators.classifier import (
        feature_base, score_quality, train_quality_classifier)
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: one checkpointed feature frame shared by training and
    # scoring; the caller releases it via ckpt.release_result.
    scope = CheckpointScope(spark)
    base = scope.checkpoint(feature_base(t["documents"]))
    hist = train_quality_classifier(t["documents"], iterations=_GD_ITERS,
                                    lr=_GD_LR, base=base)
    out = score_quality(t["documents"], hist[-1]["weights"], base=base)
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _bpe_tokenize_oracle(n_merges: int = 8) -> str:
    """Replay the train chain to the final segmentation, then the
    per-document aggregates: a word's subword count is its symbol count
    (= occurrences of the \\x01 delimiter in its seg string)."""
    parts, last = _bpe_chain(n_merges)
    return ("WITH " + ",".join(parts) + f""",
sub AS (
  SELECT word,
    CAST(length(seg) - length(replace(seg, e'\\x01', '')) AS BIGINT)
      AS n_sub,
    CAST(length(word) AS BIGINT) AS n_chr
  FROM {last}),
w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT w.doc_id, COUNT(*) AS n_words,
  CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords,
  CAST(floor((CAST(SUM(s.n_chr) AS DOUBLE) / CAST(SUM(s.n_sub) AS BIGINT)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS chars_per_subword
FROM w JOIN sub s ON s.word = w.word
WHERE w.word <> ''
GROUP BY w.doc_id""")


@query("bpe_tokenize_docs", oracle=_bpe_tokenize_oracle())
def bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-trained 8-merge BPE to every document → per-doc
    subword counts and compression ratio.  The merge chain is folded
    over the distinct word *vocabulary* (not the corpus) and joined
    back, so segmentation work is vocabulary-sized.  Round 4:
    value-checked — the oracle replays training AND application
    (formerly rows-only); golden-tested on the published example in
    tests/test_bpe.py."""
    from results_ingestor_spark.operators.bpe import tokenize_with_merges
    t = load_tables(spark, sf_dir, ("documents",))
    m = train_bpe_merges(t["documents"], n_merges=8)
    pairs = [(r["left"], r["right"]) for r in m.collect()]
    return tokenize_with_merges(t["documents"], pairs)


# k ~ sqrt(n), computed IDENTICALLY on both engines: Spark uses
# max(2, math.isqrt(count)), the oracle GREATEST(2, floor(sqrt(
# count(*)))) — isqrt and floor-sqrt are equal for every n < 2^52
# (correctly-rounded double sqrt can only disagree with isqrt within
# ~0.5 ulp of an integer boundary, and the true root of a non-square n
# sits >= 1/(2*sqrt(n)) away from it), and the GREATEST mirrors the
# Spark side's max(2, ...) clamp so corpora with n < 4 embeddings use
# the same k in both engines (ADVICE r5).
_K_SQRT_N = ("(SELECT GREATEST(2, CAST(floor(sqrt(count(*))) AS BIGINT)) "
             "FROM embeddings)")


def _semantic_kmeans_oracle(k: int | str = _K_SQRT_N, n_iter: int = 2,
                            tau: float = 0.35) -> str:
    """DuckDB twin of the FULL SemDeDup pipeline, k-means training
    included — the round-3 verdict's 'md5-derived state is
    SQL-replayable' suggestion carried to the data-dependent case.

    Replays, in unrolled CTEs: (1) seeding = the k vectors with the
    smallest (md5(vec_id), vec_id) — pure md5, engine-portable; (2) each
    Lloyd iteration as argmax-dot assignment against the prior
    centroids (normalized first, like assign_centroids; ties →
    lowest cid via ORDER BY dot DESC, cid) followed by an exact
    per-position mean with empty clusters keeping their previous
    centroid; (3) the final within-cluster pair join with CAST(floor((cos) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    >= tau and the keep-first drop rule.  Cross-engine float caveat:
    summation ORDER differs between the engines (~1e-16 relative), so
    an assignment could in principle flip on a near-exact tie; the
    corpora are verified flip-free at sf0.001/0.01/0.1 and every
    decision boundary (argmax margin, rounded cosine) sits far above
    the drift."""
    from results_ingestor_spark.plans.kmeans_sql import assign_cte, kmeans_ctes
    parts = ["WITH " + kmeans_ctes(k, n_iter),
             assign_cte("fin", with_norm=True)]
    parts.append(f"""
dropped AS (
  SELECT DISTINCT a.cid, b.vec_id
  FROM fin a JOIN fin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE CAST(floor(((SELECT SUM(xa * xb) FROM (SELECT unnest(a.v) AS xa, unnest(b.v) AS xb)) / nullif(a.nrm * b.nrm, 0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) >= {tau}),
per_cluster AS (SELECT cid, COUNT(*) AS n_vecs FROM fin GROUP BY cid),
drops AS (SELECT cid, COUNT(*) AS n_dropped FROM dropped GROUP BY cid)
SELECT p.cid, p.n_vecs, COALESCE(d.n_dropped, 0) AS n_dropped,
  CAST(floor((COALESCE(d.n_dropped, 0) / p.n_vecs) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS drop_rate
FROM per_cluster p LEFT JOIN drops d ON d.cid = p.cid""")
    return ",".join(parts)


@query("dedup_semantic_clusters", oracle=_semantic_kmeans_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: k-means clusters bound the
    quadratic — candidate pairs are enumerated only WITHIN a cluster
    (join keyed on centroid id), exact cosine verifies, and a document
    is dropped when any lower-id in-cluster neighbor exceeds the
    threshold (deterministic keep-first rule).  Returns per-cluster
    (cid, n_vecs, n_dropped, drop_rate).

    Scale: at n docs one sizes k ~ sqrt(n) so expected cluster size is
    bounded; the pair join shuffles (cid, id) and AQE's skew-join covers
    hot clusters.  Centroids travel as a broadcast relation (data, not
    plan literals — corpus-derived k grows with n, see
    operators/similarity.py::assign_centroids); the invariant that every
    dropped doc has a >=tau lower-id neighbor is pinned in
    tests/test_classifier.py's sibling, tests/test_dedup.py."""
    from results_ingestor_spark.functions.vector import cosine
    from results_ingestor_spark.operators.similarity import (
        assign_centroids, kmeans_centroids, normed)
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    import math
    tau = 0.35
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = ensure_min_parallelism(t["embeddings"]).select("vec_id", "embedding")
    # k = isqrt(n) bounds expected cluster size at sqrt(n) and pair work
    # at ~n^1.5 (the SemDeDup contract); the oracle computes the same k
    # via floor(sqrt(count(*))).  Counted on the raw scan, before the
    # widening exchange: same n, one exchange fewer.
    n = t["embeddings"].count()
    k = max(2, math.isqrt(n))
    # Training cost at small SF is per-task scheduling, not arithmetic:
    # coalesce to ~250 vectors per task (floor 8; coalesce only shrinks,
    # so at 100 TB it is a no-op), and 2 Lloyd iterations, which only
    # need to bound the candidate quadratic (the oracle replays the same
    # 2-iteration chain; partial-mean order shifts stay inside the
    # ~1e-16 envelope the oracle docstring's flip-free note covers).
    e = e.coalesce(max(8, n // 250))
    cents = kmeans_centroids(e, n_clusters=k, n_iter=2)
    # The assignment is checkpointed once, carrying each vector's norm:
    # both pair-join sides and the per-cluster census read it, and only
    # the k-row result stays persisted.  assign_centroids keeps the
    # corpus-derived centroid matrix on a broadcast relation, so the
    # plan is O(1) in k.
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    scope = CheckpointScope(e)
    assigned = scope.checkpoint(normed(assign_centroids(
        e.select("vec_id", "embedding"), cents, "embedding", "cid"),
        "embedding", "embedding", "nrm", "vec_id", "cid"))
    a = assigned.select(F.col("cid"), F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = assigned.select(F.col("cid"), F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    dropped = (a.join(b, "cid")
               .where(F.col("id_a") < F.col("id_b"))
               .where(exact.snap_double_col(cosine("va", "na", "vb", "nb"), 9) >= tau)
               .select("cid", F.col("id_b").alias("vec_id"))
               .distinct())
    per_cluster = assigned.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    drops = dropped.groupBy("cid").agg(F.count("*").alias("n_dropped"))
    out = scope.checkpoint(per_cluster.join(drops, "cid", "left")
            .select("cid", "n_vecs",
                    F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
                    exact.snap_double_col(F.coalesce("n_dropped", F.lit(0)) / F.col("n_vecs"), 6).alias("drop_rate")))
    scope.release_all_except(out)
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _er_oracle() -> str:
    from results_ingestor_spark.operators.election import CONTEST_PRECINCT_SQL
    return f"""
WITH RECURSIVE frame AS ({CONTEST_PRECINCT_SQL}),
recs AS (
  SELECT DISTINCT candidate, first_name,
    coalesce(middle_name, '') AS middle_name, last_name
  FROM frame),
r AS (
  SELECT concat_ws('|', candidate, first_name, middle_name, last_name)
           AS rec_id,
         candidate, first_name, middle_name, last_name
  FROM recs),
e AS (
  SELECT a.rec_id AS id_a, b.rec_id AS id_b
  FROM r a JOIN r b
    ON a.last_name = b.last_name AND a.rec_id < b.rec_id
   AND levenshtein(a.first_name, b.first_name) <= 1
   AND (a.middle_name = b.middle_name
        OR a.middle_name = '' OR b.middle_name = '')),
edges AS (SELECT id_a AS a, id_b AS b FROM e
          UNION SELECT id_b, id_a FROM e),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT rc.a, ed.b FROM reach rc JOIN edges ed ON rc.b = ed.a),
reps AS (
  SELECT a AS rec_id, least(a, min(b)) AS cluster_rep
  FROM reach GROUP BY a),
labeled AS (
  SELECT r.rec_id, coalesce(p.cluster_rep, r.rec_id) AS cluster_rep
  FROM r LEFT JOIN reps p ON p.rec_id = r.rec_id)
SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_records
FROM labeled GROUP BY cluster_rep"""


@query("er_candidate_records", oracle=_er_oracle())
def er_candidate_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over candidate name records: block on
    last_name, score pairs (levenshtein(first) <= 1, compatible middle
    names — equal or absent), then connected components via distributed
    min-label propagation.  The oracle resolves the same entities with
    a recursive CTE — two different algorithms, identical clusters.

    Scale: blocking bounds the pair join (the classic ER recipe); the
    shuffle carries (block_key, record) and CC rounds shuffle (node,
    label) only.  Record ids are the canonical pipe-joined name string,
    so min-label = lexicographic least works identically in both
    engines."""
    from results_ingestor_spark.operators.dedup import connected_components
    from results_ingestor_spark.operators.election import (
        contest_precinct_frame)
    frame = contest_precinct_frame(spark, sf_dir)
    recs = (frame.select(
        "candidate", "first_name",
        F.coalesce("middle_name", F.lit("")).alias("middle_name"),
        "last_name").distinct())
    r = recs.select(
        F.concat_ws("|", "candidate", "first_name", "middle_name",
                    "last_name").alias("rec_id"),
        "first_name", "middle_name", "last_name")
    a = r.select(F.col("rec_id").alias("id_a"),
                 F.col("first_name").alias("fa"),
                 F.col("middle_name").alias("ma"),
                 F.col("last_name").alias("block"))
    b = r.select(F.col("rec_id").alias("id_b"),
                 F.col("first_name").alias("fb"),
                 F.col("middle_name").alias("mb"),
                 F.col("last_name").alias("block"))
    edges = (a.join(b, "block")
             .where(F.col("id_a") < F.col("id_b"))
             .where(F.levenshtein("fa", "fb") <= 1)
             .where((F.col("ma") == F.col("mb"))
                    | (F.col("ma") == "") | (F.col("mb") == ""))
             .select("id_a", "id_b"))
    labels = connected_components(edges, r.select("rec_id"),
                                  id_col="rec_id")
    return carry_scope(labels.groupBy("cluster_rep")
                       .agg(F.count("*").alias("n_records")), labels)


_DSIR_NB = 128  # hashed n-gram feature buckets
_BKT = ("(('0x' || substr(md5(g), 1, 15))::BIGINT) % " + str(_DSIR_NB))


@query("dsir_importance_weights", oracle=f"""
WITH tk AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
idx AS (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM tk),
g AS (SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g FROM idx),
b AS (SELECT doc_id, lang, {_BKT} AS bkt FROM g),
raw AS (SELECT bkt, COUNT(*) AS c_raw FROM b GROUP BY bkt),
tgt AS (SELECT bkt, COUNT(*) AS c_tgt FROM b WHERE lang = 'en' GROUP BY bkt),
tot AS (SELECT (SELECT COUNT(*) FROM b) AS t_raw,
               (SELECT COUNT(*) FROM b WHERE lang = 'en') AS t_tgt),
lr AS (
  SELECT raw.bkt,
    CAST(CAST(floor((ln(CAST(coalesce(tgt.c_tgt, 0) + 1 AS DOUBLE) / (t_tgt + {_DSIR_NB})) - ln(CAST(raw.c_raw + 1 AS DOUBLE) / (t_raw + {_DSIR_NB}))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
      AS DECIMAL(18, 9)) AS logratio
  FROM raw LEFT JOIN tgt ON tgt.bkt = raw.bkt CROSS JOIN tot)
SELECT b.doc_id, COUNT(*) AS n_grams,
  CAST(floor(CAST(SUM(lr.logratio) AS DOUBLE) / COUNT(*)
             * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_log_weight
FROM b JOIN lr ON lr.bkt = b.bkt
GROUP BY b.doc_id""")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (hashed-n-gram DSIR):
    score every document by the mean log importance ratio of its hashed
    word-bigram features between a target domain (lang='en' here) and
    the raw corpus, with add-one smoothing over the bucket space — the
    published cheap proxy for 'resample the raw crawl to look like the
    target'.

    Scale: gram→bucket is a map stage (md5, JVM); the two bucket
    distributions are {_DSIR_NB}-row broadcasts; the only corpus-sized
    shuffle is the per-doc aggregation.  Determinism: per-bucket log
    ratios rounded to 9 dp and summed as DECIMAL (order-independent),
    one double division at the end, snapped to 6 dp with the shared
    floor-device (round()-free and sign-of-zero-free; see the r9
    finding note below)."""
    from results_ingestor_spark.functions.hashing import md5_long
    t = load_tables(spark, sf_dir, ("documents",))
    tk = F.split("text", " ")
    n = F.size(tk)
    grams = (t["documents"]
             .select("doc_id", "lang", F.explode(F.arrays_zip(
                 F.slice(tk, 1, n - 1).alias("w1"),
                 F.slice(tk, 2, n - 1).alias("w2"))).alias("p"))
             .select("doc_id", "lang",
                     F.concat_ws(" ", "p.w1", "p.w2").alias("g")))
    b = grams.select("doc_id", "lang",
                     (md5_long("g") % _DSIR_NB).alias("bkt"))
    raw = b.groupBy("bkt").agg(F.count("*").alias("c_raw"))
    tgt = (b.where(F.col("lang") == "en")
           .groupBy("bkt").agg(F.count("*").alias("c_tgt")))
    tot = b.agg(F.count("*").alias("t_raw"),
                F.count_if(F.col("lang") == "en").alias("t_tgt"))
    lr = (raw.join(tgt, "bkt", "left").crossJoin(F.broadcast(tot))
          .select("bkt", exact.snap_double_col(F.log((F.coalesce("c_tgt", F.lit(0)) + 1).cast("double") / (F.col("t_tgt") + _DSIR_NB)) - F.log((F.col("c_raw") + 1).cast("double") / (F.col("t_raw") + _DSIR_NB)), 9)
              .cast("decimal(18,9)").alias("logratio")))
    # r9 draw-5 sf0.1 lottery finding (1 doc in 5,000): the former
    # CAST(floor((mean) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) emitted NEGATIVE ZERO in DuckDB but +0.0 in Spark
    # when the mean is a tiny negative (Spark's BigDecimal round drops
    # the sign; DuckDB's binary-scale round keeps it), and repr-level
    # compares distinguish the two.  The shared snap device
    # floor(x*1e6 + 0.5)/1e6 (exact.snap_double semantics) yields
    # BIGINT 0 -> +0.0 in BOTH engines and also removes the 6-dp
    # round() straddle class from the wire.
    # ADVICE r9 (consumer note): the snap is HALF-TOWARD-+INF, not
    # the old HALF-UP — a mean of exactly -k.5e-6 now snaps to
    # -(k)e-6 instead of -(k+1)e-6.  Cross-engine parity is
    # unaffected (both sides share the device); only the emitted
    # weight on such exact-midpoint negatives differs from the
    # pre-r9 release.
    return (b.join(F.broadcast(lr), "bkt")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 (F.floor(F.sum("logratio").cast("double") / F.count("*")
                          * 1000000.0 + F.lit(0.5)).cast("bigint")
                  / 1000000.0).alias("avg_log_weight")))


from results_ingestor_spark.plans.registry import ORACLES as _ORACLES
from results_ingestor_spark.plans.registry import QUERIES as _QUERIES


@query("curriculum_perplexity_buckets", oracle=f"""
WITH lm AS ({_ORACLES["lm_bigram_perplexity"]}),
j AS (
  SELECT lm.doc_id, d.lang, lm.n_bigrams, lm.avg_logprob
  FROM lm JOIN documents d ON d.doc_id = lm.doc_id),
r AS (
  SELECT lang, n_bigrams, avg_logprob,
    row_number() OVER (PARTITION BY lang
                       ORDER BY avg_logprob DESC, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM j)
SELECT lang,
  CASE WHEN rn * 3 <= n THEN 'head'
       WHEN rn * 3 <= 2 * n THEN 'middle'
       ELSE 'tail' END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
  min(avg_logprob) AS min_logprob,
  max(avg_logprob) AS max_logprob,
  CAST(floor((CAST(SUM(CAST(avg_logprob AS DECIMAL(18, 6))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_logprob
FROM r GROUP BY lang, bucket""")
def curriculum_perplexity_buckets(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: split each language's documents
    into head / middle / tail terciles by LM score (higher mean bigram
    log-probability = lower perplexity = head) and report per-bucket
    volume — the curriculum/quality partition CCNet feeds to training
    (Wenzek et al. 2020 use a KenLM; the corpus-trained bigram LM from
    lm_bigram_perplexity plays that role here).

    Determinism: terciles are RANK-based (row_number over
    (score DESC, doc_id) vs 3*rn <= k*n integer arithmetic), not
    interpolated percentiles, so bucket membership is exact integer
    logic both engines reproduce bit-for-bit; per-bucket means sum the
    6-dp-rounded scores as DECIMAL (order-independent).

    Scale: the per-lang window is a low-cardinality partition (a skewed
    total sort at 100 TB) — the production swap is approx-quantile
    boundary computation (one pass, per-lang sketch, boundaries
    broadcast back as a map-stage bucket assignment), trading exact
    tercile edges for epsilon-rank error; the reported aggregate is
    identical in shape.  Kept exact here because the oracle must agree
    bit-for-bit."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    lm = _QUERIES["lm_bigram_perplexity"](spark, sf_dir)
    j = lm.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), "doc_id")
    r = j.select(
        "lang", "n_bigrams", "avg_logprob",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"))
    bucket = (F.when(F.col("rn") * 3 <= F.col("n"), "head")
              .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
              .otherwise("tail"))
    return (r.groupBy("lang", bucket.alias("bucket"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_bigrams").cast("long").alias("total_bigrams"),
                 F.min("avg_logprob").alias("min_logprob"),
                 F.max("avg_logprob").alias("max_logprob"),
                 exact.snap_double_col(F.sum(F.col("avg_logprob").cast("decimal(18,6)")) .cast("double") / F.count("*"), 6)
                  .alias("mean_logprob")))


@query("dataset_card", oracle=f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
  CAST(floor((CAST(SUM(len({_TOKS})) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_tokens,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
  CAST(floor((1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS exact_dup_rate,
  CAST(count_if(len({_TOKS}) >= 50) AS BIGINT) AS n_docs_50plus_tokens
FROM documents""")
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a curation pipeline publishes with every
    corpus snapshot: volume, language/source diversity, token totals,
    length extremes, exact-duplicate rate, and the share of
    training-viable (>=50-token) documents — all from a single scan
    (the distinct-aggregates expand into one shuffle; every other
    metric folds map-side).  Integer sums divided once at the end keep
    every ratio engine-exact."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = F.split("text", " ")
    return t["documents"].agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.size(tk)).cast("long").alias("total_tokens"),
        exact.snap_double_col(F.sum(F.size(tk)).cast("double") / F.count("*"), 6)
         .alias("mean_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        exact.snap_double_col(F.lit(1.0) - F.countDistinct(F.md5("text")).cast("double") / F.count("*"), 9).alias("exact_dup_rate"),
        F.count_if(F.size(tk) >= 50).alias("n_docs_50plus_tokens"))


# ROWS-ONLY (census 1/6): Viterbi-EM float DP — libm-sensitive exp/log
# argmaxes no SQL replays; compensating gates = segmentation goldens +
# Viterbi-likelihood monotonicity in tests/test_unigram_lm.py.
@query("unigram_lm_train_vocab")
def unigram_lm_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer vocabulary, trained by
    Viterbi-EM (operators/unigram_lm.py): seed with every frequent
    substring, let pieces compete under the unigram likelihood, prune
    to the target size, re-estimate.  Complements BPE — same corpus,
    opposite direction (prune-down vs merge-up); together they cover
    both published tokenizer-training families.

    Rows-only driver check (iterative, piece-table-sized driver state);
    tests/test_unigram_lm.py pins the Viterbi DP against hand-worked
    segmentations, EM likelihood improvement, exact prob normalization,
    and the learn-the-planted-word property."""
    from results_ingestor_spark.operators.unigram_lm import train_unigram_lm
    t = load_tables(spark, sf_dir, ("documents",))
    vocab, _ = train_unigram_lm(t["documents"], vocab_size=64,
                                seed_size=200, em_iters=3)
    return vocab


# ROWS-ONLY (census 2/6): tokenization depends on the EM-trained vocab
# above — same libm sensitivity; golden-pinned in test_unigram_lm.py.
@query("unigram_lm_tokenize_docs")
def unigram_lm_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram vocab: per-doc subword counts and
    pieces-per-char compression, segmentation work bounded by the
    distinct-word vocabulary (each word Viterbi-segmented once, joined
    back — the bpe_tokenize_docs shape)."""
    from results_ingestor_spark.operators.unigram_lm import (
        tokenize_with_unigram, train_unigram_lm)
    t = load_tables(spark, sf_dir, ("documents",))
    vocab, _ = train_unigram_lm(t["documents"], vocab_size=64,
                                seed_size=200, em_iters=3)
    logp = {r["piece"]: r["logprob"] for r in vocab.collect()}
    return tokenize_with_unigram(t["documents"], logp)


_MERSENNE61 = 2305843009213693951  # 2^61 - 1


@query("dataset_manifest", oracle=f"""
WITH d AS (
  SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
    ('0x' || substr(md5(text), 1, 15))::bigint AS h,
    n_chars
  FROM documents)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(h % {_MERSENNE61}) % {_MERSENNE61} AS BIGINT)
    AS content_checksum,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(MIN(h) AS BIGINT) AS min_hash,
  CAST(MAX(h) AS BIGINT) AS max_hash
FROM d GROUP BY shard ORDER BY shard""")
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity manifest — the artifact a publishing
    pipeline writes NEXT TO a corpus snapshot so any later reader can
    verify it without re-reading bodies twice: doc counts, an
    ORDER-INDEPENDENT content checksum (sum of per-doc md5-longs —
    commutative, so partial aggregation and any row order give the
    same value; min/max hashes bound the keyspace), and byte totals.
    dataset_diff_snapshots tells you WHAT changed; the manifest tells
    you cheaply THAT something changed (one 16-row compare).

    Scale: one map stage (hash per doc) + one 16-bucket hash agg —
    partials combine map-side, shuffle carries 16 rows of integers."""
    from results_ingestor_spark.functions.hashing import md5_long
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        (F.col("doc_id") % 16).alias("shard"),
        md5_long("text").alias("h"), "n_chars")
    # checksum arithmetic: per-row reduce mod 2^61-1, accumulate as
    # DECIMAL(38,0) (a plain long sum overflows under ANSI), reduce
    # once more — commutative + associative, so map-side partials and
    # any row order agree; DuckDB's HUGEINT sum takes the same mods
    m61 = F.lit(_MERSENNE61)
    return (d.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 (F.sum((F.col("h") % m61).cast("decimal(38,0)")) % m61)
                 .cast("long").alias("content_checksum"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("h").alias("min_hash"),
                 F.max("h").alias("max_hash"))
            .orderBy("shard"))


# Shared inclusion-probability and membership expressions (identical
# text in both engines; the md5 draw makes the "random" sample
# deterministic and therefore value-checkable).
_HT_P = ("greatest(CAST(0.05 AS DOUBLE), least(CAST(1.0 AS DOUBLE), "
         "n_chars / CAST(2000.0 AS DOUBLE)))")
_HT_DRAW_SPARK = ("conv(substr(md5(concat('ht:', CAST(doc_id AS STRING))),"
                  " 1, 15), 16, 10) % 1000000")
_HT_DRAW_DUCK = ("('0x' || substr(md5('ht:' || doc_id), 1, 15))::bigint"
                 " % 1000000")


@query("sampling_horvitz_thompson", oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars, {_HT_P} AS p,
    ({_HT_DRAW_DUCK}) / 1000000.0 AS u
  FROM documents),
s AS (SELECT * FROM d WHERE u < p),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
    CAST(floor((SUM(n_chars / p)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS est_total_chars
  FROM s),
tru AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS true_total_chars
  FROM d)
SELECT n_docs, n_sampled, true_total_chars, est_total_chars,
  CAST(floor((abs(est_total_chars - true_total_chars) / true_total_chars) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS rel_error
FROM est CROSS JOIN tru""")
def sampling_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation from an unequal-probability sample:
    long documents are sampled at higher rates (p ∝ length, floored),
    and each sampled doc is reweighted by 1/p, making the total
    estimator unbiased DESPITE the biased sample — the principle
    behind every weighted-sample corpus audit (you rarely afford the
    full scan; you always afford the reweighted sample).  The md5 draw
    makes inclusion deterministic, so the whole pipeline — sample,
    weights, estimate, realized relative error — is value-checked.

    Scale: membership and weights are one map stage; the estimate is
    one aggregate.  rel_error here is the OBSERVED error of this one
    draw (a few %), not a bound."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "doc_id", "n_chars",
        F.expr(_HT_P).alias("p"),
        (F.expr(_HT_DRAW_SPARK).cast("long") / 1000000.0).alias("u"))
    s = d.where(F.col("u") < F.col("p"))
    est = s.agg(F.count("*").alias("n_sampled"),
                exact.snap_double_col(F.sum(F.col("n_chars") / F.col("p")), 6)
                .alias("est_total_chars"))
    tru = d.agg(F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("true_total_chars"))
    return (est.crossJoin(F.broadcast(tru))
            .select("n_docs", "n_sampled", "true_total_chars",
                    "est_total_chars",
                    exact.snap_double_col(F.abs(F.col("est_total_chars") - F.col("true_total_chars")) / F.col("true_total_chars"), 9)
                    .alias("rel_error")))


# ── classifier evaluation ────────────────────────────────────────────
# Both entries score on the LINEAR logit z = w·x instead of the sigmoid
# probability: every rank statistic (AUC) and every probability-bin
# membership (calibration) is invariant under the monotone sigmoid, so
# evaluating on z keeps the whole gate libm-free — no exp() whose last
# ulp could differ between engines.  z is snapped to 9 dp (house rule)
# before any grouping or comparison.

_Z_SQL = " + ".join(f"f.x{j} * w.w{j}" for j in range(_N_FEAT))

# Probability-decile boundaries mapped to logit space: ln(k/(10-k)) for
# k = 1..9, written ONCE as full-precision literals so both engines
# compare against bit-identical constants (a 9-dp-snapped z can never
# equal an edge, so >= is unambiguous).
_CAL_EDGES = (
    "-2.1972245773362196", "-1.3862943611198906", "-0.8472978603872037",
    "-0.40546510810816444", "0.0", "0.4054651081081644",
    "0.8472978603872037", "1.3862943611198906", "2.1972245773362196")
_CAL_BIN = "CAST(" + " + ".join(
    f"CAST(zs >= {e} AS INT)" for e in _CAL_EDGES) + " AS BIGINT)"


def _scored_chain() -> str:
    """GD replay to the final weights, then per-doc (zs, yi): the
    9-dp-snapped linear score and the integer label."""
    return ",\n".join(_gd_chain()) + f""",
sc AS (
  SELECT {exact.snap_double(_Z_SQL, 9)} AS zs, CAST(f.y AS BIGINT) AS yi
  FROM feat f CROSS JOIN wt{_GD_ITERS} w)"""


def _auc_oracle() -> str:
    return _scored_chain() + """,
v AS (
  SELECT zs, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(yi) AS BIGINT) AS pos
  FROM sc GROUP BY zs),
c AS (
  SELECT n, pos,
    COALESCE(CAST(SUM(n) OVER (ORDER BY zs
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      0) AS cb
  FROM v),
s AS (
  SELECT CAST(SUM(pos) AS HUGEINT) AS npos,
    CAST(SUM(n) - SUM(pos) AS HUGEINT) AS nneg,
    CAST(COUNT(*) AS BIGINT) AS n_scores,
    CAST(SUM(CAST(pos AS HUGEINT)
             * (2 * CAST(cb AS HUGEINT) + n + 1)) AS HUGEINT) AS num2
  FROM c)
SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
  n_scores,
  """ + exact.snap_double(
        "CAST(num2 - npos * (npos + 1) AS DOUBLE)"
        " / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE))", 9) + """
    AS auc,
  """ + exact.snap_double(
        "CAST(num2 - npos * (npos + 1) AS DOUBLE)"
        " / (CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) - 1.0", 9) + """
    AS gini
FROM s"""


@query("quality_classifier_auc", oracle=_auc_oracle())
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier — the evaluation
    member completing the train/score/evaluate triad.  Uses the
    Mann-Whitney identity AUC = (Σ_pos midrank − n₊(n₊+1)/2)/(n₊·n₋)
    over midranks of the DISTINCT 9-dp linear scores, so the whole
    statistic is exact integer arithmetic (doubled midrank sums stay
    integral; DECIMAL here, HUGEINT in the oracle) with one terminal
    double division; gini = 2·AUC−1 rides along.  AUC is high by
    construction (the label is the length gate the classifier was
    distilled from) — the point is the exact distributed evaluation
    shape.

    Scale: one groupBy on the snapped score (distinct-value domain,
    orders of magnitude smaller than rows), then the cumulative count
    over that domain runs as the IMPLEMENTED two-level shard prefix-sum
    (within-shard running sum over 256 order-consistent score shards +
    broadcast shard offsets, `operators/shuffle.py::two_level_prefix_sum`
    — the corpus_global_shuffle technique, so the score domain never
    needs to fit one partition), one 1-row fold."""
    from results_ingestor_spark.operators.classifier import (
        feature_base, train_quality_classifier)
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: ONE checkpointed feature frame shared by training and
    # scoring — the raw-text feature expressions ran twice before
    # (trainer-internal checkpoint + this query's scoring scan).
    # yi == y.cast(long) exactly (y is the 0.0/1.0 double label).
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    scope = CheckpointScope(spark)
    base = scope.checkpoint(feature_base(t["documents"]))
    hist = train_quality_classifier(t["documents"], iterations=_GD_ITERS,
                                    lr=_GD_LR, base=base)
    wts = hist[-1]["weights"]
    z = sum(F.col(f"x{j}") * float(wts[j]) for j in range(len(wts)))
    sc = base.select(
        exact.snap_double_col(z, 9).alias("zs"),
        F.col("y").cast("long").alias("yi"))
    from results_ingestor_spark.operators.shuffle import (
        two_level_prefix_sum)
    # Materialize the distinct-score table once (bounded by the 9-dp
    # score domain): the two-level prefix-sum's branches would
    # otherwise re-run the full score+aggregate — a second corpus scan.
    # Scoped so repeated calls don't pin the blocks (ADVICE r5).
    v = scope.checkpoint(sc.groupBy("zs").agg(
        F.count("*").alias("n"), F.sum("yi").alias("pos")))
    # v is materialized (eager checkpoint) — the corpus-sized feature
    # frame is no longer reachable from anything live.
    scope.release(base)
    c = two_level_prefix_sum(
        v, F.col("zs"), ["zs"], F.col("n"), out_col="cb").select(
        "n", "pos", "cb")
    d38 = "decimal(38,0)"
    s = c.agg(
        F.sum("pos").alias("npos"),
        (F.sum("n") - F.sum("pos")).alias("nneg"),
        F.count("*").alias("n_scores"),
        F.sum(F.col("pos").cast(d38)
              * (2 * F.col("cb") + F.col("n") + 1).cast(d38)).alias("num2"))
    numer = (F.col("num2")
             - F.col("npos").cast(d38)
             * (F.col("npos") + 1).cast(d38)).cast("double")
    npd = F.col("npos").cast("double")
    nnd = F.col("nneg").cast("double")
    out = s.select(
        F.col("npos").alias("n_pos"), F.col("nneg").alias("n_neg"),
        "n_scores",
        exact.snap_double_col(
            numer / (F.lit(2.0) * npd * nnd), 9).alias("auc"),
        exact.snap_double_col(
            numer / (npd * nnd) - F.lit(1.0), 9).alias("gini"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _calibration_oracle() -> str:
    return _scored_chain() + f""",
b AS (SELECT {_CAL_BIN} AS bin, zs, yi FROM sc)
SELECT bin,
  CAST(bin AS DOUBLE) / 10.0 AS p_lo,
  (CAST(bin AS DOUBLE) + 1.0) / 10.0 AS p_hi,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(yi) AS BIGINT) AS n_pos,
  {exact.snap_double("CAST(SUM(yi) AS DOUBLE) / COUNT(*)", 9)}
    AS pos_rate,
  {exact.snap_double(
      "CAST(SUM(CAST(zs AS DECIMAL(21,9))) AS DOUBLE) / COUNT(*)", 9)}
    AS mean_z
FROM b GROUP BY bin"""


@query("quality_classifier_calibration", oracle=_calibration_oracle())
def quality_classifier_calibration(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Reliability table for the trained classifier: documents bucketed
    into predicted-probability deciles and, per bucket, the EMPIRICAL
    positive rate a calibrated model should match.  Binning happens in
    logit space against full-precision literal edges ln(k/(10−k)) —
    exactly the probability deciles, but libm-free (see module note) —
    and the shared expression text is compiled by both engines.
    pos_rate is an exact integer ratio; mean_z sums snapped scores in
    exact DECIMAL first.  Together with quality_classifier_auc this is
    the go/no-go evidence before the scorer gates a real corpus:
    discrimination AND calibration, both value-checked.

    Scale: one map stage (9 literal comparisons) + a ≤10-group agg.
    r11: one checkpointed feature frame shared by training and binning
    (yi == y.cast(long) exactly); only the ≤10-row result persists."""
    from results_ingestor_spark.operators.classifier import (
        feature_base, train_quality_classifier)
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    t = load_tables(spark, sf_dir, ("documents",))
    scope = CheckpointScope(spark)
    base = scope.checkpoint(feature_base(t["documents"]))
    hist = train_quality_classifier(t["documents"], iterations=_GD_ITERS,
                                    lr=_GD_LR, base=base)
    wts = hist[-1]["weights"]
    z = sum(F.col(f"x{j}") * float(wts[j]) for j in range(len(wts)))
    sc = base.select(
        exact.snap_double_col(z, 9).alias("zs"),
        F.col("y").cast("long").alias("yi"))
    b = sc.select(F.expr(_CAL_BIN).alias("bin"), "zs", "yi")
    out = scope.checkpoint(
        b.groupBy("bin")
        .agg(F.count("*").alias("n_docs"),
             F.sum("yi").alias("n_pos"),
             exact.snap_double_col(F.sum("yi").cast("double") / F.count("*"), 9)
             .alias("pos_rate"),
             exact.snap_double_col(F.sum(F.col("zs").cast("decimal(21,9)")) .cast("double") / F.count("*"), 9).alias("mean_z"))
        .select("bin",
                (F.col("bin").cast("double") / F.lit(10.0))
                .alias("p_lo"),
                ((F.col("bin").cast("double") + F.lit(1.0))
                 / F.lit(10.0)).alias("p_hi"),
                "n_docs", "n_pos", "pos_rate", "mean_z"))
    scope.release_all_except(out)
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _er_blocking_recall_oracle() -> str:
    from results_ingestor_spark.operators.election import CONTEST_PRECINCT_SQL
    return f"""
WITH RECURSIVE frame AS ({CONTEST_PRECINCT_SQL}),
recs AS (
  SELECT DISTINCT candidate, first_name,
    coalesce(middle_name, '') AS middle_name, last_name
  FROM frame),
r AS (
  SELECT concat_ws('|', candidate, first_name, middle_name, last_name)
           AS rec_id,
         first_name, middle_name, last_name
  FROM recs),
k AS (
  SELECT rec_id, first_name, middle_name, last_name,
    unnest([length(last_name), length(last_name) - 1]) AS nkey
  FROM r),
cand AS (
  SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b,
    a.last_name AS la, b.last_name AS lb,
    a.first_name AS fa, b.first_name AS fb,
    a.middle_name AS ma, b.middle_name AS mb
  FROM k a JOIN k b ON a.nkey = b.nkey AND a.rec_id < b.rec_id),
truth AS (
  SELECT id_a, id_b, la = lb AS caught
  FROM cand
  WHERE levenshtein(la, lb) <= 1 AND levenshtein(fa, fb) <= 1
    AND (ma = mb OR ma = '' OR mb = '')),
exact_cand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_exact FROM (
    SELECT 1 FROM r a JOIN r b
      ON a.last_name = b.last_name AND a.rec_id < b.rec_id)),
band_cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_band FROM cand)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_records,
  CAST(COUNT(*) AS BIGINT) AS n_true,
  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
  CAST(floor((CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS recall,
  (SELECT n_cand_exact FROM exact_cand) AS n_cand_exact,
  (SELECT n_cand_band FROM band_cand) AS n_cand_band
FROM truth"""


@query("er_blocking_recall", oracle=_er_blocking_recall_oracle())
def er_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the ER pipeline: what fraction of
    TRUE fuzzy matches (levenshtein ≤ 1 on BOTH names, compatible
    middles) does the production exact-last-name blocking actually
    reach?  Ground truth comes from length-band blocking — each record
    emits keys len(last) and len(last)−1, and levenshtein ≤ 1 implies
    a length difference ≤ 1, so every true match shares a band key by
    pigeonhole (the pHash-banding completeness argument): the truth
    set is COMPLETE yet built from an equi-join, never all-pairs.
    Reports truth/caught counts, recall, and both blockings' candidate
    volumes — the recall-vs-cost trade the blocking key is chosen by.

    Scale: the audit runs on the DISTINCT RECORD layer (dim-sized by
    construction — entity records, not event rows), the same layer the
    ER pipeline itself pairs on; both blockings are equi-joins."""
    from results_ingestor_spark.operators.election import (
        contest_precinct_frame)
    frame = contest_precinct_frame(spark, sf_dir)
    recs = (frame.select(
        "candidate", "first_name",
        F.coalesce("middle_name", F.lit("")).alias("middle_name"),
        "last_name").distinct())
    r = recs.select(
        F.concat_ws("|", "candidate", "first_name", "middle_name",
                    "last_name").alias("rec_id"),
        "first_name", "middle_name", "last_name")
    k = r.select(
        "rec_id", "first_name", "middle_name", "last_name",
        F.explode(F.array(F.length("last_name"),
                          F.length("last_name") - 1)).alias("nkey"))
    a = k.select(F.col("nkey"), F.col("rec_id").alias("id_a"),
                 F.col("last_name").alias("la"),
                 F.col("first_name").alias("fa"),
                 F.col("middle_name").alias("ma"))
    b = k.select(F.col("nkey"), F.col("rec_id").alias("id_b"),
                 F.col("last_name").alias("lb"),
                 F.col("first_name").alias("fb"),
                 F.col("middle_name").alias("mb"))
    cand = (a.join(b, "nkey")
            .where(F.col("id_a") < F.col("id_b"))
            .drop("nkey").distinct())
    truth = (cand
             .where(F.levenshtein("la", "lb") <= 1)
             .where(F.levenshtein("fa", "fb") <= 1)
             .where((F.col("ma") == F.col("mb"))
                    | (F.col("ma") == "") | (F.col("mb") == ""))
             .select((F.col("la") == F.col("lb")).alias("caught")))
    stats = truth.agg(
        F.count("*").alias("n_true"),
        F.sum(F.when(F.col("caught"), 1).otherwise(0)).cast("long")
        .alias("n_caught"))
    ra = r.select(F.col("rec_id").alias("id_a"),
                  F.col("last_name").alias("block"))
    rb = r.select(F.col("rec_id").alias("id_b"),
                  F.col("last_name").alias("block"))
    n_exact = (ra.join(rb, "block").where(F.col("id_a") < F.col("id_b"))
               .agg(F.count("*").alias("n_cand_exact")))
    n_band = cand.agg(F.count("*").alias("n_cand_band"))
    n_recs = r.agg(F.count("*").alias("n_records"))
    return (n_recs.join(F.broadcast(stats)).join(F.broadcast(n_exact))
            .join(F.broadcast(n_band))
            .select("n_records", "n_true", "n_caught",
                    exact.snap_double_col(
                        F.col("n_caught").cast("double")
                        / F.col("n_true"), 6).alias("recall"),
                    "n_cand_exact", "n_cand_band"))


def _fs_oracle() -> str:
    from results_ingestor_spark.operators.election import CONTEST_PRECINCT_SQL
    return f"""
WITH frame AS ({CONTEST_PRECINCT_SQL}),
recs AS (
  SELECT DISTINCT candidate, first_name,
    coalesce(middle_name, '') AS middle_name, last_name
  FROM frame),
r AS (
  SELECT concat_ws('|', candidate, first_name, middle_name, last_name)
           AS rec_id,
         first_name, middle_name, last_name
  FROM recs),
nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
uf AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS ssq FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY first_name)),
nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
       FROM r WHERE middle_name <> ''),
um AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS ssq FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM r
    WHERE middle_name <> '' GROUP BY middle_name)),
w AS (
  SELECT
    log2(0.95 / (CAST(uf.ssq AS DOUBLE) / (nf.n * nf.n))) AS wa_f,
    log2(0.05 / (1.0 - CAST(uf.ssq AS DOUBLE) / (nf.n * nf.n))) AS wd_f,
    log2(0.90 / (CAST(um.ssq AS DOUBLE) / (nm.m * nm.m))) AS wa_m,
    log2(0.10 / (1.0 - CAST(um.ssq AS DOUBLE) / (nm.m * nm.m))) AS wd_m
  FROM nf, uf, nm, um)
SELECT a.rec_id AS id_a, b.rec_id AS id_b,
  concat(CASE WHEN a.first_name = b.first_name THEN 'F' ELSE 'f' END,
         CASE WHEN a.middle_name = '' OR b.middle_name = '' THEN '.'
              WHEN a.middle_name = b.middle_name THEN 'M' ELSE 'm' END)
    AS pattern,
  CAST(floor((CASE WHEN a.first_name = b.first_name THEN w.wa_f
             ELSE w.wd_f END
        + CASE WHEN a.middle_name = '' OR b.middle_name = '' THEN 0.0
               WHEN a.middle_name = b.middle_name THEN w.wa_m
               ELSE w.wd_m END) * 1000000.0 + 0.5) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS fs_score
FROM r a JOIN r b
  ON a.last_name = b.last_name AND a.rec_id < b.rec_id
CROSS JOIN w
ORDER BY fs_score DESC, id_a, id_b LIMIT 100"""


@query("er_fellegi_sunter_scores", oracle=_fs_oracle())
def er_fellegi_sunter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record-linkage scoring (Fellegi-Sunter 1969) over
    the blocked candidate-name pairs: each compared field contributes
    log2(m/u) on agreement and log2((1-m)/(1-u)) on disagreement,
    where m is the fixed within-match agreement rate (0.95 first name,
    0.90 middle) and u — the chance two RANDOM records agree — is
    estimated from the data as the sum of squared marginal frequencies
    (exact integer sums, one double division).  Middle names are
    compared only when both present ('.' in the pattern otherwise),
    the standard missing-field treatment.  Replaces the hard
    accept/reject rule of er_candidate_records with a calibrated
    match weight a clerical-review queue can threshold.

    Scale: blocking on last_name bounds the pair join exactly as in
    the CC entry; the four u-statistics are integer hash aggregates
    whose 1-row results broadcast onto the pair stream, so scoring is
    map-only after the blocked join."""
    from results_ingestor_spark.operators.election import (
        contest_precinct_frame)
    frame = contest_precinct_frame(spark, sf_dir)
    recs = (frame.select(
        "candidate", "first_name",
        F.coalesce("middle_name", F.lit("")).alias("middle_name"),
        "last_name").distinct())
    r = recs.select(
        F.concat_ws("|", "candidate", "first_name", "middle_name",
                    "last_name").alias("rec_id"),
        "first_name", "middle_name", "last_name")
    n = r.agg(F.count("*").alias("n"))
    uf = (r.groupBy("first_name").agg(F.count("*").alias("c"))
          .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq_f")))
    mid = r.where(F.col("middle_name") != "")
    nm = mid.agg(F.count("*").alias("m"))
    um = (mid.groupBy("middle_name").agg(F.count("*").alias("c"))
          .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq_m")))
    u_f = F.col("ssq_f").cast("double") / (F.col("n") * F.col("n"))
    u_m = F.col("ssq_m").cast("double") / (F.col("m") * F.col("m"))
    w = (n.crossJoin(F.broadcast(uf)).crossJoin(F.broadcast(nm))
         .crossJoin(F.broadcast(um))
         .select(F.log2(0.95 / u_f).alias("wa_f"),
                 F.log2(0.05 / (1.0 - u_f)).alias("wd_f"),
                 F.log2(0.90 / u_m).alias("wa_m"),
                 F.log2(0.10 / (1.0 - u_m)).alias("wd_m")))
    a = r.select(F.col("rec_id").alias("id_a"),
                 F.col("first_name").alias("fa"),
                 F.col("middle_name").alias("ma"),
                 F.col("last_name").alias("block"))
    b = r.select(F.col("rec_id").alias("id_b"),
                 F.col("first_name").alias("fb"),
                 F.col("middle_name").alias("mb"),
                 F.col("last_name").alias("block"))
    first_eq = F.col("fa") == F.col("fb")
    mid_missing = (F.col("ma") == "") | (F.col("mb") == "")
    mid_eq = F.col("ma") == F.col("mb")
    pattern = F.concat(
        F.when(first_eq, F.lit("F")).otherwise(F.lit("f")),
        F.when(mid_missing, F.lit("."))
         .when(mid_eq, F.lit("M")).otherwise(F.lit("m")))
    score = (F.when(first_eq, F.col("wa_f")).otherwise(F.col("wd_f"))
             + F.when(mid_missing, F.lit(0.0))
                .when(mid_eq, F.col("wa_m")).otherwise(F.col("wd_m")))
    return (a.join(b, "block").where(F.col("id_a") < F.col("id_b"))
            .crossJoin(F.broadcast(w))
            .select("id_a", "id_b", pattern.alias("pattern"),
                    exact.snap_double_col(score, 6).alias("fs_score"))
            .orderBy(F.desc("fs_score"), "id_a", "id_b").limit(100))


def _grad_match_oracle() -> str:
    """Replay the GD chain to the final weights, compute the
    validation-set gradient (doc_id % 19 == 0) with the trainer's own
    round-9 quantization, then score every document by the dot product
    of its per-example gradient with the validation gradient."""
    js = range(_N_FEAT)
    parts = _gd_chain()
    z = " + ".join(f"f.x{j} * w.w{j}" for j in js)
    gv = ", ".join(
        f"CAST(floor((avg((p - y) * x{j})) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS g{j}" for j in js)
    dot = " + ".join(f"(s.p - s.y) * s.x{j} * g.g{j}" for j in js)
    return (",\n".join(parts) + f""",
vp AS (
  SELECT f.*, 1.0 / (1.0 + exp(-({z}))) AS p
  FROM feat f CROSS JOIN wt{_GD_ITERS} w
  WHERE f.doc_id % 19 = 0),
gv AS (SELECT {gv} FROM vp),
sp AS (
  SELECT f.*, 1.0 / (1.0 + exp(-({z}))) AS p
  FROM feat f CROSS JOIN wt{_GD_ITERS} w)
SELECT s.doc_id, s.source, CAST(s.y AS DOUBLE) AS label,
  CAST(floor(({dot}) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS influence
FROM sp s CROSS JOIN gv g
ORDER BY influence DESC, s.doc_id LIMIT 50""")


@query("data_selection_gradient_match", oracle=_grad_match_oracle())
def data_selection_gradient_match(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Targeted data selection by gradient alignment (the LESS-style
    influence proxy, Xia et al. 2024): after training the logistic
    quality model, score every candidate document by the dot product
    of its per-example gradient with the mean gradient of a target
    ("validation") slice — one step of training on a high-scoring doc
    moves validation loss down by ~lr x that dot product, so the
    top-k by influence is the batch most worth adding next.  The
    validation slice here is the deterministic doc_id % 19 subset (a
    stand-in for a held-out target-domain set).  The validation
    gradient is quantized to 9 dp exactly like the trainer's steps, so
    both engines score against bit-identical vectors; per-doc scores
    are one fixed-order expression, rounded before ranking.

    Scale: training and the d+1-double validation gradient are the
    whitelisted bounded-driver contracts of the GD family; scoring is
    a pure map stage over candidates and the top-50 is TakeOrdered —
    the selection sweep costs one corpus scan regardless of size."""
    from results_ingestor_spark.operators.classifier import (
        feature_base, train_quality_classifier)
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # r11: ONE checkpointed feature frame shared by training, the
    # validation-gradient aggregate and the influence scan — the
    # raw-text feature expressions ran three times before (trainer-
    # internal checkpoint + the gval job + the final scan).
    scope = CheckpointScope(spark)
    base = scope.checkpoint(feature_base(docs))
    w = train_quality_classifier(docs, iterations=_GD_ITERS,
                                 lr=_GD_LR, base=base)[-1]["weights"]
    d = len(w)
    z = sum(F.col(f"x{j}") * float(w[j]) for j in range(d))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    scored = base.withColumn("p", p)
    gval_row = (scored.where(F.col("doc_id") % 19 == 0)
                .agg(*[exact.snap_double_col(F.avg((F.col("p") - F.col("y")) * F.col(f"x{j}")), 9).alias(f"g{j}")
                       for j in range(d)])
                .first())  # d doubles to the driver (bounded contract)
    dot = sum((F.col("p") - F.col("y")) * F.col(f"x{j}")
              * float(gval_row[f"g{j}"]) for j in range(d))
    # The influence sweep stays a VISIBLE map + TakeOrdered plan over
    # the checkpointed features (pinned in tests/test_plan_shapes.py);
    # the feature blocks ride the scope until the caller's
    # ckpt.release_result.
    out = (scored.select("doc_id", "source",
                         F.col("y").alias("label"),
                         exact.snap_double_col(dot, 6).alias("influence"))
           .orderBy(F.desc("influence"), "doc_id").limit(50))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("source_unigram_kl", oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token),
s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS st FROM c GROUP BY source),
g AS (SELECT token, CAST(SUM(c) AS BIGINT) AS gt FROM c GROUP BY token),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
term AS (
  SELECT c.source, c.token, c.c,
    CAST(floor((CAST(c.c AS DOUBLE) / s.st) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS p,
    CAST(floor((CAST(g.gt AS DOUBLE) / tot.n) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS q,
    CAST(floor(((CAST(c.c AS DOUBLE) / s.st) * ln((CAST(c.c AS DOUBLE) / s.st) / (CAST(g.gt AS DOUBLE) / tot.n))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS kl_contrib
  FROM c JOIN s USING (source) JOIN g USING (token) CROSS JOIN tot),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY kl_contrib DESC, token) AS rn
  FROM term)
SELECT source, token, c AS n_tok, p, q, kl_contrib
FROM r WHERE rn <= 10""")
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution divergence from the corpus: the
    top-10 tokens by KL contribution p·ln(p/q) for each source, where
    p is the token's in-source share and q its corpus share — the
    mixture diagnostic a training-data pipeline runs to see WHICH
    tokens make a source distinctive before reweighting it
    (drift_psi convention: divergence is emitted per term, never
    float-summed across rows; ranking is on the 9-dp-rounded
    contribution with token tie-breaks so the top-k is
    engine-portable).

    Scale: token counts combine map-side; the source and corpus
    totals are a source-domain and vocabulary-domain aggregate; the
    rank window is source-partitioned over the bounded vocabulary."""
    from results_ingestor_spark.operators.text import tokens
    t = load_tables(spark, sf_dir, ("documents",))
    tok = t["documents"].select(
        "source", F.explode(tokens()).alias("token"))
    c = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("c"))
    s = c.groupBy("source").agg(F.sum("c").cast("long").alias("st"))
    g = c.groupBy("token").agg(F.sum("c").cast("long").alias("gt"))
    tot = c.agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("st")
    q = F.col("gt").cast("double") / F.col("n")
    term = (c.join(F.broadcast(s), "source")
            .join(F.broadcast(g), "token")
            .join(F.broadcast(tot))
            .select("source", "token", "c",
                    exact.snap_double_col(p, 9).alias("p"),
                    exact.snap_double_col(q, 9).alias("q"),
                    exact.snap_double_col(p * F.log(p / q), 9).alias("kl_contrib")))
    w = Window.partitionBy("source").orderBy(
        F.desc("kl_contrib"), F.asc("token"))
    return (term.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("source", "token", F.col("c").alias("n_tok"),
                    "p", "q", "kl_contrib"))


# Interpolated Kneser-Ney probability — one shared double expression
# over five integer counts (D = 0.75 literal in both engines).
_KN_P = """(greatest(CAST(c_bi AS DOUBLE) - 0.75, 0.0) / c_ctx
  + (0.75 * nfol / c_ctx) * (CAST(npre AS DOUBLE) / nbt))"""


@query("lm_bigram_kneser_ney", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bi
       FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c_bi) AS BIGINT) AS c_ctx,
         CAST(COUNT(*) AS BIGINT) AS nfol
       FROM cb GROUP BY w1),
c2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS npre FROM cb GROUP BY w2),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM cb),
scored AS (
  SELECT bg.doc_id,
    CAST(CAST(floor((ln({_KN_P})) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS DECIMAL(18, 9)) AS lp
  FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) JOIN c2 USING (w2)
  CROSS JOIN v)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(floor((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS avg_logprob_kn
FROM scored GROUP BY doc_id""")
def lm_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (absolute discount
    D = 0.75) — the smoothing KenLM actually ships, beside the add-one
    baseline of `lm_bigram_perplexity`: the discounted bigram mass is
    redistributed through the CONTINUATION unigram (how many distinct
    contexts a word follows, not how often it occurs), which is what
    makes KN the default perplexity filter for training corpora.  All
    five inputs (bigram count, context total, follower types,
    predecessor types, total bigram types) are exact BIGINTs; the
    probability is one shared double expression, and the per-bigram
    ln() is rounded to 9 dp and summed as DECIMAL (order-independent —
    the add-one entry's determinism contract).

    Scale: two count shuffles keyed on (w1, w2)/(w1) — stop-bigram
    skew is AQE's skew-join case; the type totals live on the
    vocabulary domain; scoring is equi-joins back to the bigram
    stream."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = F.split("text", " ")
    n = F.size(tk)
    bg = (t["documents"]
          .select("doc_id", F.explode(F.arrays_zip(
              F.slice(tk, 1, n - 1).alias("w1"),
              F.slice(tk, 2, n - 1).alias("w2"))).alias("pz"))
          .select("doc_id", F.col("pz.w1").alias("w1"),
                  F.col("pz.w2").alias("w2")))
    # r11: the bigram-count table feeds FOUR consumers (context
    # totals, follower types, predecessor types, the scoring join);
    # exchange reuse shares the shuffle but each consumer re-ran the
    # reduce-side aggregation.  Checkpointed it computes once (A/B at
    # sf0.1: 1.35 s vs 1.59 s, identical rows).
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    scope = CheckpointScope(spark)
    cb = scope.checkpoint(bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_bi")))
    c1 = cb.groupBy("w1").agg(
        F.sum("c_bi").cast("long").alias("c_ctx"),
        F.count("*").cast("long").alias("nfol"))
    c2 = cb.groupBy("w2").agg(F.count("*").cast("long").alias("npre"))
    v = cb.agg(F.count("*").cast("long").alias("nbt"))
    lp = exact.snap_double_col(F.log(F.expr(_KN_P)), 9).cast("decimal(18,9)")
    scored = (bg.join(cb, ["w1", "w2"]).join(c1, ["w1"]).join(c2, ["w2"])
              .crossJoin(F.broadcast(v))
              .select("doc_id", lp.alias("lp")))
    out = (scored.groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_bigrams"),
                exact.snap_double_col(F.sum("lp").cast("double") / F.count("*"), 6)
                .alias("avg_logprob_kn")))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _wordpiece_chain(n_merges: int) -> list[str]:
    """Unrolled-CTE replay of the WordPiece trainer — the BPE chain
    (`_bpe_chain`) plus a per-iteration symbol-count CTE; the argmax
    ranks on score = pair_count / (count(a)·count(b)), one IEEE double
    division of exact integers (correctly rounded, so bit-identical
    across engines with no pre-rank rounding needed)."""
    d1, d2 = "e'\\x01'", "e'\\x02'"
    parts = [f"""vocab AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
seg0 AS MATERIALIZED (
  SELECT word, cnt, array_to_string(
    [{d1} || word[i] ||
     CASE WHEN i = length(word) THEN '</w>' ELSE '' END || {d2}
     for i in range(1, length(word) + 1)], '') AS seg
  FROM vocab)"""]
    for i in range(n_merges):
        parts.append(f"""
t{i} AS (
  SELECT cnt, string_split(seg[2 : length(seg) - 1], {d2} || {d1}) AS t
  FROM seg{i}),
s{i} AS (
  SELECT s, CAST(SUM(cnt) AS BIGINT) AS sc FROM (
    SELECT cnt, unnest(t) AS s FROM t{i}) GROUP BY s),
p{i} AS (
  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, unnest([[t[j], t[j + 1]] for j in range(1, len(t))]) AS pr
    FROM t{i})
  GROUP BY pr[1], pr[2]),
m{i} AS (
  SELECT p.a, p.b, p.c,
    CAST(p.c AS DOUBLE) / (sa.sc * sb.sc) AS score
  FROM p{i} p JOIN s{i} sa ON sa.s = p.a JOIN s{i} sb ON sb.s = p.b
  ORDER BY score DESC, p.a, p.b LIMIT 1),
seg{i + 1} AS MATERIALIZED (
  SELECT s.word, s.cnt,
    replace(s.seg, {d1} || m.a || {d2} || {d1} || m.b || {d2},
            {d1} || m.a || m.b || {d2}) AS seg
  FROM seg{i} s CROSS JOIN m{i} m)""")
    return parts


def _wordpiece_train_oracle(n_merges: int = 8) -> str:
    rows = [f"""SELECT CAST({i} AS INTEGER) AS merge_rank, a AS "left",
  b AS "right", a || b AS merged, c AS pair_count,
  CAST(floor((score) * 1000000000000.0 + 0.5) AS BIGINT) / CAST(1000000000000.0 AS DOUBLE) AS score FROM m{i}"""
            for i in range(n_merges)]
    return ("WITH " + ",".join(_wordpiece_chain(n_merges)) + "\n"
            + "\nUNION ALL\n".join(rows))


@query("wordpiece_train_merges", oracle=_wordpiece_train_oracle())
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 WordPiece merges (BERT's trainer): the BPE loop with the
    likelihood-ratio objective count(ab)/(count(a)·count(b)) — merges
    that most improve a unigram LM's corpus likelihood, which promotes
    cohesive units over merely frequent ones (see
    operators/wordpiece.py for the scale contract).  Value-checked:
    the oracle unrolls the trainer as CTEs, and the selection score is
    one exact-integer IEEE division, so both engines pick identical
    merge sequences with no pre-rank rounding."""
    from results_ingestor_spark.operators.wordpiece import (
        train_wordpiece_merges)
    t = load_tables(spark, sf_dir, ("documents",))
    return train_wordpiece_merges(t["documents"], n_merges=8)


def _wordpiece_tokenize_oracle(n_merges: int = 8) -> str:
    """Replay the WordPiece train chain to its final segmentation, then
    the per-document aggregates (the BPE-apply device on the WP chain)."""
    parts = _wordpiece_chain(n_merges)
    return ("WITH " + ",".join(parts) + f""",
sub AS (
  SELECT word,
    CAST(length(seg) - length(replace(seg, e'\\x01', '')) AS BIGINT)
      AS n_sub,
    CAST(length(word) AS BIGINT) AS n_chr
  FROM seg{n_merges}),
w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT w.doc_id, COUNT(*) AS n_words,
  CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords,
  CAST(floor((CAST(SUM(s.n_chr) AS DOUBLE) / CAST(SUM(s.n_sub) AS BIGINT)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS chars_per_subword
FROM w JOIN sub s ON s.word = w.word
WHERE w.word <> ''
GROUP BY w.doc_id""")


@query("wordpiece_tokenize_docs", oracle=_wordpiece_tokenize_oracle())
def wordpiece_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-trained 8-merge WordPiece vocabulary to every
    document → per-doc subword counts and compression — the apply half
    of `wordpiece_train_merges`, sharing `tokenize_with_merges`'s
    vocabulary-sized fold-and-join contract (segmentation work is done
    once per distinct word, pure JVM expression folds)."""
    from results_ingestor_spark.operators.bpe import tokenize_with_merges
    from results_ingestor_spark.operators.wordpiece import (
        train_wordpiece_merges)
    t = load_tables(spark, sf_dir, ("documents",))
    m = train_wordpiece_merges(t["documents"], n_merges=8)
    pairs = [(r["left"], r["right"]) for r in m.collect()]
    return tokenize_with_merges(t["documents"], pairs)


def _er_golden_oracle() -> str:
    from results_ingestor_spark.operators.election import CONTEST_PRECINCT_SQL
    return f"""
WITH RECURSIVE frame AS ({CONTEST_PRECINCT_SQL}),
recs AS (
  SELECT DISTINCT candidate, first_name,
    coalesce(middle_name, '') AS middle_name, last_name
  FROM frame),
r AS (
  SELECT concat_ws('|', candidate, first_name, middle_name, last_name)
           AS rec_id,
         candidate, first_name, middle_name, last_name
  FROM recs),
e AS (
  SELECT a.rec_id AS id_a, b.rec_id AS id_b
  FROM r a JOIN r b
    ON a.last_name = b.last_name AND a.rec_id < b.rec_id
   AND levenshtein(a.first_name, b.first_name) <= 1
   AND (a.middle_name = b.middle_name
        OR a.middle_name = '' OR b.middle_name = '')),
edges AS (SELECT id_a AS a, id_b AS b FROM e
          UNION SELECT id_b, id_a FROM e),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT rc.a, ed.b FROM reach rc JOIN edges ed ON rc.b = ed.a),
reps AS (
  SELECT a AS rec_id, least(a, min(b)) AS cluster_rep
  FROM reach GROUP BY a),
labeled AS (
  SELECT r.rec_id, r.first_name, r.middle_name, r.last_name,
    coalesce(p.cluster_rep, r.rec_id) AS cluster_rep
  FROM r LEFT JOIN reps p ON p.rec_id = r.rec_id),
fc AS (
  SELECT cluster_rep, first_name, CAST(COUNT(*) AS BIGINT) AS c
  FROM labeled GROUP BY 1, 2),
gf AS (
  SELECT cluster_rep, first_name AS golden_first FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_rep
      ORDER BY c DESC, first_name) AS rn FROM fc) WHERE rn = 1),
mc AS (
  SELECT cluster_rep, middle_name, CAST(COUNT(*) AS BIGINT) AS c
  FROM labeled WHERE middle_name <> '' GROUP BY 1, 2),
gm AS (
  SELECT cluster_rep, middle_name AS golden_middle FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_rep
      ORDER BY c DESC, middle_name) AS rn FROM mc) WHERE rn = 1),
agg AS (
  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_records,
    CAST(COUNT(DISTINCT first_name) AS BIGINT) AS n_first_variants,
    MIN(last_name) AS golden_last
  FROM labeled GROUP BY cluster_rep)
SELECT a.cluster_rep, a.n_records, a.n_first_variants,
  gf.golden_first, coalesce(gm.golden_middle, '') AS golden_middle,
  a.golden_last
FROM agg a
JOIN gf USING (cluster_rep)
LEFT JOIN gm USING (cluster_rep)
ORDER BY a.cluster_rep"""


@query("er_golden_record", oracle=_er_golden_oracle())
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the MDM step AFTER entity
    resolution: for every resolved entity (er_candidate_records'
    clusters), fuse the member records into one canonical record by
    deterministic survivorship rules: most-frequent first name
    (tie → lexicographic least), most-frequent NON-EMPTY middle name
    ('' only when no member has one), and the blocked-on last name.
    n_first_variants flags entities whose members still disagree — the
    manual-review queue.

    The oracle replays the full recursive-CTE resolution then applies
    identical mode-with-tie-break windows, so the entire
    resolve→survive pipeline is value-checked end-to-end.  Shape: the
    er_candidate_records budget (blocked pair join + CC rounds) plus
    two cluster-keyed mode windows and one cluster aggregate — all on
    the RECORD-level table (dimension-sized, distinct name tuples),
    never on raw rows."""
    from results_ingestor_spark.operators.dedup import connected_components
    from results_ingestor_spark.operators.election import (
        contest_precinct_frame)
    frame = contest_precinct_frame(spark, sf_dir)
    recs = (frame.select(
        "candidate", "first_name",
        F.coalesce("middle_name", F.lit("")).alias("middle_name"),
        "last_name").distinct())
    r = recs.select(
        F.concat_ws("|", "candidate", "first_name", "middle_name",
                    "last_name").alias("rec_id"),
        "first_name", "middle_name", "last_name")
    a = r.select(F.col("rec_id").alias("id_a"),
                 F.col("first_name").alias("fa"),
                 F.col("middle_name").alias("ma"),
                 F.col("last_name").alias("block"))
    b = r.select(F.col("rec_id").alias("id_b"),
                 F.col("first_name").alias("fb"),
                 F.col("middle_name").alias("mb"),
                 F.col("last_name").alias("block"))
    edges = (a.join(b, "block")
             .where(F.col("id_a") < F.col("id_b"))
             .where(F.levenshtein("fa", "fb") <= 1)
             .where((F.col("ma") == F.col("mb"))
                    | (F.col("ma") == "") | (F.col("mb") == ""))
             .select("id_a", "id_b"))
    labels = connected_components(edges, r.select("rec_id"),
                                  id_col="rec_id")
    labeled = r.join(labels, "rec_id")
    fc = (labeled.groupBy("cluster_rep", "first_name")
          .agg(F.count("*").alias("c")))
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("c"), F.asc("first_name"))
    gf = (fc.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") == 1)
          .select("cluster_rep", F.col("first_name").alias("golden_first")))
    mc = (labeled.where(F.col("middle_name") != "")
          .groupBy("cluster_rep", "middle_name")
          .agg(F.count("*").alias("c")))
    wm = Window.partitionBy("cluster_rep").orderBy(
        F.desc("c"), F.asc("middle_name"))
    gm = (mc.withColumn("rn", F.row_number().over(wm))
          .where(F.col("rn") == 1)
          .select("cluster_rep",
                  F.col("middle_name").alias("golden_middle")))
    agg = (labeled.groupBy("cluster_rep")
           .agg(F.count("*").cast("long").alias("n_records"),
                F.countDistinct("first_name").cast("long")
                 .alias("n_first_variants"),
                F.min("last_name").alias("golden_last")))
    out = (agg.join(gf, "cluster_rep")
           .join(gm, "cluster_rep", "left")
           .select("cluster_rep", "n_records", "n_first_variants",
                   "golden_first",
                   F.coalesce("golden_middle", F.lit(""))
                    .alias("golden_middle"),
                   "golden_last")
           .orderBy("cluster_rep"))
    return carry_scope(out, labels)
