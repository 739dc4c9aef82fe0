"""Deduplication queries over ``documents``/``embeddings`` (north-star M3).

The md5-derived hashing (functions/hashing.py) makes MinHash signatures,
LSH band keys, and SimHash values bit-identical between Spark and the
DuckDB oracle, so even the sketch-based dedup paths are value-checked —
not just row-counted.  The scale path (xxhash64 via ``fast=True``) is
exercised in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from results_ingestor_spark.operators.dedup import (
    N_BANDS, N_MINHASH, checkpointed_sig, jaccard, lsh_candidate_pairs,
    simhash32, with_minhash)
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables, local_relation

_TOKS = "string_split(text, ' ')"
# DuckDB twin of operators/text.py::shingles_expr (n=3); corpus docs all
# have ≥3 tokens, so the short-doc guard branch never fires on either side.
_SH3 = ("list_distinct([array_to_string(t[i:i+2], ' ') "
        "for i in range(1, len(t) - 1)])")


@query("dedup_exact", oracle="""
SELECT md5(text) AS fp, min(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint, keep the
    lowest id.  The shuffle payload is (16-byte hash, id) — document
    bodies never move."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (t["documents"]
            .groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("keeper"),
                 F.count("*").alias("n_copies")))


@query("dedup_exact_normalized", oracle="""
SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
  min(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))""")
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after whitespace/case normalization — catches the
    trivially-reformatted duplicates exact hashing misses."""
    t = load_tables(spark, sf_dir, ("documents",))
    norm = F.lower(F.trim(F.regexp_replace("text", " +", " ")))
    return (t["documents"]
            .groupBy(F.md5(norm).alias("fp"))
            .agg(F.min("doc_id").alias("keeper"),
                 F.count("*").alias("n_copies")))


def _minhash_sql() -> str:
    from results_ingestor_spark.operators.dedup import MINHASH_PARAMS, P_MINHASH
    mh = ",\n    ".join(
        f"list_min(list_transform(shh, h -> ({a} * h + {b}) % {P_MINHASH}))"
        f" AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS))
    rows = N_MINHASH // N_BANDS
    bands = ",\n  ".join(
        "md5(" + " || '|' || ".join(f"mh{b * rows + r}::varchar"
                                    for r in range(rows))
        + f") AS band{b}"
        for b in range(N_BANDS))
    mh_cols = ", ".join(f"mh{i}" for i in range(N_MINHASH))
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SH3} AS sh FROM t),
bh AS (SELECT doc_id, sh,
    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::bigint % {P_MINHASH})
      AS shh
  FROM sh),
sig AS (SELECT doc_id, sh,
    {mh}
  FROM bh)
SELECT doc_id, sh, {mh_cols},
  {bands}
FROM sig"""


@query("dedup_minhash_signatures", oracle=f"""
SELECT doc_id, band0, band1, band2, band3 FROM ({_minhash_sql()})""")
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature computation (16 hashes → 4 LSH band keys) —
    entirely map-side built-ins; the oracle reproduces every band key
    bit-for-bit, value-checking the whole sketch pipeline."""
    t = load_tables(spark, sf_dir, ("documents",))
    sig = with_minhash(t["documents"])
    return sig.select("doc_id", *[f"band{b}" for b in range(N_BANDS)])


@query("dedup_minhash_lsh", oracle=f"""
WITH sig AS ({_minhash_sql()}),
keyed AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
verified AS (
  SELECT id_a, id_b,
    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM cand
  JOIN sig a ON a.doc_id = id_a
  JOIN sig b ON b.doc_id = id_b)
SELECT id_a, id_b, CAST(floor((j) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS jaccard
FROM verified WHERE j >= 0.5""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → minhash → band →
    bucket-join candidates → exact-Jaccard verify.  Cost is O(docs) map
    work + a join keyed on band hashes — never all-pairs.  The oracle
    replays the identical pipeline, so candidate generation AND
    verification are value-checked."""
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (operators/dedup.py::
    # checkpointed_sig) — it feeds the band self-join and both verify
    # join-backs.
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"]).select("doc_id", "__sh", "band0",
                                            "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    out = (pairs.join(a, "id_a").join(b, "id_b")
           .where(j >= 0.5)
           .select("id_a", "id_b", exact.snap_double_col(j, 9).alias("jaccard")))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("dedup_ngram_jaccard", oracle=f"""
WITH sig AS ({_minhash_sql()}),
keyed AS (
  SELECT doc_id,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
tk AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents)
SELECT id_a, id_b,
  CAST(floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS jaccard
FROM cand
JOIN tk a ON a.doc_id = id_a
JOIN tk b ON b.doc_id = id_b
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-Jaccard near-dup with a SCALE-SAFE blocking key: candidate
    pairs come from MinHash LSH band buckets (never all-pairs, never
    within-a-low-cardinality-block quadratic — the earlier lang-blocked
    form was quadratic within a language), then exact whole-token Jaccard
    verifies at >= 0.8.  The set arithmetic is exact-integer so the
    threshold is engine-portable; the oracle replays the identical band
    bucketing + verification."""
    t = load_tables(spark, sf_dir, ("documents",))
    sig = with_minhash(t["documents"]).select("doc_id", "band0", "band1",
                                              "band2", "band3")
    pairs = lsh_candidate_pairs(sig)
    toks = t["documents"].select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("tk_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tk_b"))
    j = jaccard(F.col("tk_a"), F.col("tk_b"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .where(j >= 0.8)
            .select("id_a", "id_b", exact.snap_double_col(j, 9).alias("jaccard")))


def _simhash_sql() -> str:
    bit_sums = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(32))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS hv FROM tok)
SELECT doc_id, CAST({bit_sums} AS BIGINT) AS simhash FROM h GROUP BY doc_id"""


@query("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (sign of per-bit ±1 sums over token
    hashes) — one explode + one hash-agg with map-side partials; near-dup
    = small Hamming distance (tests/test_dedup.py)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return simhash32(t["documents"])


_NORM_SQL = """
SELECT vec_id, sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                     FROM (SELECT unnest(embedding) AS x))) AS nrm
FROM embeddings"""


def _embedding_cosine_oracle() -> str:
    """DuckDB twin of dedup_embedding_cosine — replays the banded
    sign-bit candidate generation (same md5-derived hyperplanes) and the
    exact-cosine verify bit-for-bit."""
    from results_ingestor_spark.plans.similarity_q import _lsh_bucket_sql
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
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.vec_id < r.vec_id),
n AS ({_NORM_SQL})
SELECT id_a, id_b,
  CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE))
         FROM (SELECT unnest(a.embedding) AS xa, unnest(c.embedding) AS xb))
        / (na.nrm * nb.nrm)) * 1000000000.0 + 0.5) AS BIGINT)
    / CAST(1000000000.0 AS DOUBLE) AS cosine
FROM cand
JOIN embeddings a ON a.vec_id = id_a
JOIN embeddings c ON c.vec_id = id_b
JOIN n na ON na.vec_id = id_a
JOIN n nb ON nb.vec_id = id_b
WHERE CAST(floor(((SELECT SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE))
       FROM (SELECT unnest(a.embedding) AS xa, unnest(c.embedding) AS xb))
      / (na.nrm * nb.nrm)) * 1000000000.0 + 0.5) AS BIGINT)
    / CAST(1000000000.0 AS DOUBLE) >= 0.35"""


@query("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, LSH-banded — the scale-safe shape:
    candidate pairs from the banded sign-bit equi-join
    (operators/similarity.py::banded_pairs, 4 bands of 4 bits, a pair
    collides on ANY band), exact cosine verifies only the candidates.
    At 100 TB the shuffle carries (band_key, vec_id) pairs and vector
    bodies move only for candidate ids, never O(n²).  The md5-derived
    planes make the whole pipeline SQL-reproducible, so even this
    approximate path is value-checked against the oracle."""
    from results_ingestor_spark.operators.similarity import banded_pairs
    t = load_tables(spark, sf_dir, ("embeddings",))
    return (banded_pairs(t["embeddings"], 64, "id_a", "id_b", ordered=True)
            .where(F.col("cosine") >= 0.35))


@query("dedup_clusters", oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({{LSH}}) ),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
reps AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
  FROM reach GROUP BY a)
SELECT d.doc_id,
  coalesce(r.cluster_rep, d.doc_id) AS cluster_rep
FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id""".replace("{LSH}", f"""
WITH sig2 AS ({_minhash_sql()}),
keyed2 AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sig2),
cand2 AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyed2 l JOIN keyed2 r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
SELECT id_a, id_b
FROM cand2
JOIN sig2 a ON a.doc_id = id_a
JOIN sig2 b ON b.doc_id = id_b
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5"""))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: LSH-verified near-dup pairs → connected
    components → every document labeled with its cluster representative
    (min doc_id).  Spark runs distributed min-label propagation (an
    iterative algorithm, no driver-side graph); the oracle computes the
    same components via a recursive CTE — two entirely different
    algorithms agreeing value-for-value."""
    from results_ingestor_spark.operators.dedup import connected_components
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig); released
    # as soon as connected_components' own edge checkpoint cuts the
    # lineage.
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"]).select("doc_id", "__sh", "band0",
                                            "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    verified = (pairs.join(a, "id_a").join(b, "id_b")
                .where(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
                .select("id_a", "id_b"))
    out = connected_components(verified, t["documents"].select("doc_id"))
    scope.release_all_except()  # CC checkpointed the edges already
    return out


@query("dedup_duplicate_passages", oracle="""
WITH g AS (
  SELECT doc_id,
    unnest([array_to_string(t[i:i+3], ' ')
            for i in range(1, len(t) - 2)]) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
SELECT gram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY n_docs DESC, n DESC, gram LIMIT 20""")
def dedup_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage detection at word-4-gram granularity — the
    bucketed approximation of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): explode
    each document's 4-grams, hash-aggregate, keep passages seen in >1
    document.  The shuffle carries (gram, partial count, doc-id set
    partials) with map-side combine; at 100 TB you'd hash the gram to
    64 bits before the shuffle (xxhash64) and never move the strings —
    same shape as the MinHash pipeline above.  Top-20 deterministic via
    (n_docs, n, gram) ordering."""
    t = load_tables(spark, sf_dir, ("documents",))
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 4 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 3), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 4))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    return (t["documents"]
            .select("doc_id", F.explode(grams).alias("gram"))
            .groupBy("gram")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .where(F.col("n_docs") > 1)
            .orderBy(F.desc("n_docs"), F.desc("n"), F.asc("gram"))
            .limit(20))


@query("dedup_time_window", oracle="""
WITH ranked AS (
  SELECT event_id, user_id, event_type, ts,
    row_number() OVER (
      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      ORDER BY ts, event_id) AS rn
  FROM events)
SELECT CAST(ts AS DATE) AS day, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY 1, 2 ORDER BY day, event_type""")
def dedup_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed deduplication: keep the FIRST event per (user,
    type) within each calendar day, report kept/dropped per (day,
    type) — the batch twin of the streaming watermark
    ``dropDuplicates`` (streaming/events.py), with the window key made
    explicit so state is provably bounded: the dedup partition is
    (user, type, day), so no key's state outlives its day — exactly
    the invariant the streaming watermark enforces.  One shuffle on
    the composite key; ties break on (ts, event_id) for cross-engine
    determinism."""
    t = load_tables(spark, sf_dir, ("events",))
    day = F.col("ts").cast("date")
    w = (Window.partitionBy("user_id", "event_type", day)
         .orderBy("ts", "event_id"))
    ranked = t["events"].withColumn("rn", F.row_number().over(w))
    return (ranked.groupBy(day.alias("day"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
                 .cast("long").alias("n_dropped"))
            .orderBy("day", "event_type"))


from results_ingestor_spark.plans.registry import ORACLES as _ORACLES
from results_ingestor_spark.plans.registry import QUERIES


@query("dedup_clusters_summary", oracle=f"""
WITH labeled AS ({_ORACLES["dedup_clusters"]})
SELECT cluster_size, COUNT(*) AS n_clusters
FROM (SELECT cluster_rep, COUNT(*) AS cluster_size
      FROM labeled GROUP BY cluster_rep)
GROUP BY cluster_size ORDER BY cluster_size""")
def dedup_clusters_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the connected-component labeling —
    the one-screen dedup health report (how much of the corpus is
    singleton vs. heavily duplicated).  Reuses the full
    LSH → verify → label-propagation pipeline and adds two tiny
    aggregates; the oracle wraps the dedup_clusters recursive-CTE SQL
    verbatim, so the histogram is value-checked against an independent
    component algorithm end-to-end."""
    labeled = QUERIES["dedup_clusters"](spark, sf_dir)
    return (labeled.groupBy("cluster_rep")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .orderBy("cluster_size"))


@query("dedup_canonical_keep_best", oracle=f"""
WITH labeled AS ({_ORACLES["dedup_clusters"]}),
j AS (
  SELECT l.doc_id, l.cluster_rep, d.n_chars
  FROM labeled l JOIN documents d ON d.doc_id = l.doc_id),
canon AS (
  SELECT cluster_rep, doc_id AS canonical_id FROM (
    SELECT cluster_rep, doc_id,
      row_number() OVER (PARTITION BY cluster_rep
                         ORDER BY n_chars DESC, doc_id) AS rn
    FROM j) WHERE rn = 1)
SELECT j.doc_id, c.canonical_id, j.doc_id = c.canonical_id AS kept
FROM j JOIN canon c ON c.cluster_rep = j.cluster_rep""")
def dedup_canonical_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — the dedup POLICY step: within
    each near-dup cluster keep the highest-quality member (longest
    n_chars, ties to lowest doc_id) rather than an arbitrary
    representative, and emit the full duplicate→canonical mapping a
    downstream curation job applies.  One window over the cluster key on
    the (doc, rep, quality) layer — document bodies never move; at
    100 TB the mapping is the only artifact this stage materializes.
    The oracle replays cluster assignment (recursive-CTE components, an
    independent algorithm) plus the same argmax, value-checked."""
    labeled = QUERIES["dedup_clusters"](spark, sf_dir)
    t = load_tables(spark, sf_dir, ("documents",))
    j = labeled.join(t["documents"].select("doc_id", "n_chars"), "doc_id")
    w = (Window.partitionBy("cluster_rep")
         .orderBy(F.desc("n_chars"), F.asc("doc_id")))
    canon = (j.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1)
             .select("cluster_rep", F.col("doc_id").alias("canonical_id")))
    return (j.join(canon, "cluster_rep")
            .select("doc_id", "canonical_id",
                    (F.col("doc_id") == F.col("canonical_id")).alias("kept")))


@query("dedup_containment", oracle=f"""
WITH sigc AS ({_minhash_sql()}),
keyedc AS (
  SELECT doc_id,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigc),
candc AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyedc l JOIN keyedc r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
sh AS (
  SELECT doc_id, {_SH3} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
SELECT id_a, id_b,
  CAST(len(a.s) AS BIGINT) AS n_sh_a,
  CAST(len(b.s) AS BIGINT) AS n_sh_b,
  CAST(floor((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS containment_a_in_b,
  CAST(floor((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS containment_b_in_a
FROM candc
JOIN sh a ON a.doc_id = id_a
JOIN sh b ON b.doc_id = id_b
WHERE greatest(
    CAST(floor((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE),
    CAST(floor((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE))
  >= 0.5""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — catches SUB-document duplication
    (one doc embedded in a longer one), where symmetric Jaccard stays
    low because the union is dominated by the longer doc.  Candidates
    come from the same MinHash band keys (no new index); the exact
    shingle-set intersection is computed only for candidates, and both
    direction ratios are reported.  Scale: identical shuffle budget to
    dedup_minhash_lsh — band-key equi-join plus candidate-only set
    intersection."""
    from results_ingestor_spark.operators.text import shingles_expr
    t = load_tables(spark, sf_dir, ("documents",))
    sig = with_minhash(t["documents"]).select(
        "doc_id", "band0", "band1", "band2", "band3")
    pairs = lsh_candidate_pairs(sig)
    sh = t["documents"].select(
        "doc_id", shingles_expr("split(text, ' ')", 3).alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    c_ab = exact.snap_double_col(inter / F.size("sa"), 9)
    c_ba = exact.snap_double_col(inter / F.size("sb"), 9)
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.size("sa").cast("long").alias("n_sh_a"),
                    F.size("sb").cast("long").alias("n_sh_b"),
                    c_ab.alias("containment_a_in_b"),
                    c_ba.alias("containment_b_in_a"))
            .where(F.greatest(F.col("containment_a_in_b"),
                              F.col("containment_b_in_a")) >= 0.5))


def _minhash_quality_oracle() -> str:
    eq = " + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
                    for i in range(N_MINHASH))
    j_exact = ("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
               " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))")
    return f"""
WITH sigq AS ({_minhash_sql()}),
keyedq AS (
  SELECT doc_id,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigq),
candq AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyedq l JOIN keyedq r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
scoredq AS (
  SELECT id_a, id_b,
    ({eq}) / {N_MINHASH}.0 AS j_est,
    CAST(floor(({j_exact}) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS j_exact
  FROM candq
  JOIN sigq a ON a.doc_id = id_a
  JOIN sigq b ON b.doc_id = id_b)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(floor((CAST(SUM(CAST(CAST(floor((abs(j_est - j_exact)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS DECIMAL(18, 9))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_abs_err,
  max(CAST(floor((abs(j_est - j_exact)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)) AS max_abs_err,
  CAST(count_if(j_exact >= 0.5) AS BIGINT) AS n_true_dups,
  CAST(floor((CAST(count_if(j_exact >= 0.5) AS DOUBLE) / COUNT(*)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS precision_at_05
FROM scoredq"""


@query("dedup_minhash_quality", oracle=_minhash_quality_oracle())
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit for the MinHash index: over every LSH
    candidate pair, compare the MinHash ESTIMATE of Jaccard (fraction of
    the 16 signature components that agree — the unbiased estimator) to
    the EXACT shingle Jaccard, and report the error distribution plus
    the candidate-set precision at the 0.5 dedup threshold.

    This is the gate a production dedup pipeline runs before trusting a
    sketch configuration (bands x rows trade recall against candidate
    waste): a drifting mean error or collapsing precision means the
    signature width no longer fits the corpus.  Scale: identical shuffle
    budget to dedup_minhash_lsh (band-key equi-join, candidate-only
    verification) followed by a 1-row global aggregate; per-pair errors
    are rounded to 9 dp and summed as DECIMAL so the mean is
    order-independent across any partitioning."""
    sum_eq = None
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(with_minhash(t["documents"]).select(
        "doc_id", "__sh", *[f"mh{i}" for i in range(N_MINHASH)],
        *[f"band{b}" for b in range(N_BANDS)]))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"),
                   F.col("__sh").alias("sh_a"),
                   *[F.col(f"mh{i}").alias(f"ma{i}")
                     for i in range(N_MINHASH)])
    b = sig.select(F.col("doc_id").alias("id_b"),
                   F.col("__sh").alias("sh_b"),
                   *[F.col(f"mh{i}").alias(f"mb{i}")
                     for i in range(N_MINHASH)])
    for i in range(N_MINHASH):
        term = F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        sum_eq = term if sum_eq is None else sum_eq + term
    j_est = sum_eq / float(N_MINHASH)
    j_exact = exact.snap_double_col(jaccard(F.col("sh_a"), F.col("sh_b")), 9)
    err = exact.snap_double_col(F.abs(j_est - j_exact), 9)
    scored = (pairs.join(a, "id_a").join(b, "id_b")
              .select(err.alias("err"), j_exact.alias("j_exact")))
    out = scored.agg(
        F.count("*").alias("n_pairs"),
        exact.snap_double_col(F.sum(F.col("err").cast("decimal(18,9)")).cast("double") / F.count("*"), 6).alias("mean_abs_err"),
        F.max("err").alias("max_abs_err"),
        F.count_if(F.col("j_exact") >= 0.5).alias("n_true_dups"),
        exact.snap_double_col(F.count_if(F.col("j_exact") >= 0.5).cast("double") / F.count("*"), 9).alias("precision_at_05"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


_INCR_SPLIT = 400  # doc_id < split = historical corpus; >= split = new batch


@query("dedup_incremental_new_batch", oracle=f"""
WITH sigi AS ({_minhash_sql()}),
keyedi AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigi),
candi AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM keyedi n JOIN keyedi h
    ON n.bidx = h.bidx AND n.bkey = h.bkey
   AND n.doc_id >= {_INCR_SPLIT} AND h.doc_id < {_INCR_SPLIT}),
veri AS (
  SELECT new_id, hist_id,
    CAST(floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS j
  FROM candi
  JOIN sigi a ON a.doc_id = new_id
  JOIN sigi b ON b.doc_id = hist_id),
hits AS (SELECT * FROM veri WHERE j >= 0.5),
best AS (
  SELECT new_id, n_matches, hist_id AS best_match_id, j AS best_jaccard
  FROM (
    SELECT new_id, hist_id, j,
      CAST(COUNT(*) OVER (PARTITION BY new_id) AS BIGINT) AS n_matches,
      row_number() OVER (PARTITION BY new_id ORDER BY j DESC, hist_id)
        AS rn
    FROM hits)
  WHERE rn = 1)
SELECT d.doc_id,
  coalesce(b.n_matches, 0) AS n_matches,
  b.best_match_id, b.best_jaccard,
  b.new_id IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_INCR_SPLIT}) d
LEFT JOIN best b ON b.new_id = d.doc_id""")
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a NEW batch of documents (doc_id >=
    split, standing in for today's crawl) is checked against the
    HISTORICAL corpus's MinHash index (doc_id < split) without ever
    re-comparing history to itself — the production shape for a
    continuously-ingested corpus, where the historical band index is a
    materialized table and each day's batch only joins its own band
    keys against it.

    Candidates come from new-vs-historical band-key collisions only
    (the join condition carries the side predicate, so the candidate
    space is new x historical, never historical²); exact shingle
    Jaccard verifies at 0.5; every new doc reports its match count,
    best (highest-Jaccard, ties to lowest id) historical match, and a
    dup verdict.  Scale: the daily cost is O(new_batch) map work + a
    band-key equi-join against the index — completely independent of
    how large history has grown."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(
        with_minhash(docs).select("doc_id", "__sh", "band0", "band1",
                                  "band2", "band3"))
    bands = F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])
    keyed = sig.select("doc_id", F.posexplode(bands).alias("bidx", "bkey"))
    new_keys = keyed.where(F.col("doc_id") >= _INCR_SPLIT)
    hist_keys = keyed.where(F.col("doc_id") < _INCR_SPLIT)
    cand = (new_keys.alias("n")
            .join(hist_keys.alias("h"), ["bidx", "bkey"])
            .select(F.col("n.doc_id").alias("new_id"),
                    F.col("h.doc_id").alias("hist_id"))
            .distinct())
    a = sig.select(F.col("doc_id").alias("new_id"),
                   F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("hist_id"),
                   F.col("__sh").alias("sh_b"))
    j = exact.snap_double_col(jaccard(F.col("sh_a"), F.col("sh_b")), 9)
    hits = (cand.join(a, "new_id").join(b, "hist_id")
            .select("new_id", "hist_id", j.alias("j"))
            .where(F.col("j") >= 0.5))
    best = (hits.groupBy("new_id")
            .agg(F.count("*").alias("n_matches"),
                 F.min_by("hist_id",
                          F.struct(F.negate(F.col("j")).alias("nj"),
                                   F.col("hist_id").alias("h")))
                 .alias("best_match_id"),
                 F.max("j").alias("best_jaccard")))
    new_docs = docs.where(F.col("doc_id") >= _INCR_SPLIT).select("doc_id")
    out = (new_docs.join(best, new_docs["doc_id"] == best["new_id"], "left")
           .select(
               "doc_id",
               F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
               "best_match_id", "best_jaccard",
               F.col("new_id").isNotNull().alias("is_dup")))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


# ROWS-ONLY (census 3/6): Spark xxhash64 has no DuckDB implementation,
# and the obvious fallback oracle — the EXACT >=0.5 answer via a
# shared-shingle equi-join — is wrong by construction: LSH banding has
# probabilistic recall, and a round-5 measurement confirmed it misses
# real pairs (sf0.1: fast tier 254 of 256 exact pairs, missing
# (1103,1568) j=0.889 and (1568,2466) j=0.8; the md5 tier misses
# (1171,1427) j=0.889 — all within the expected (1-s^4)^4 ~ 2% miss
# rate at 16 hashes / 4 bands).  The md5 tier is value-checkable only
# because its oracle REPLAYS the banding; replay is impossible here, so
# compensating gates = same-planted-dups pin vs the md5 tier in
# tests/test_dedup.py + the measured hashing-stage breakdown below.
@query("dedup_minhash_lsh_fast")
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION hash tier of the MinHash+LSH pipeline: identical
    shape to dedup_minhash_lsh but with xxhash64 base hashes
    (``fast=True``) — the configuration a real 100 TB run uses,
    benchmarked head-to-head against the oracle-checked md5 tier in
    bench.py.

    Measured claim (round 4, local[32]): the hashing expression alone
    is **8.5x cheaper** with xxhash64 (md5 10.86 s vs xxhash64 1.28 s
    over 200k rows at 40x shingle volume, best-of-5), but at sf0.1 the
    synthetic documents are short enough that shingle construction and
    the band join dominate, so the two tiers' END-TO-END times are
    statistically indistinguishable (md5 best 1.35 s / median 1.40 s
    vs fast best 1.27 s / median 1.43 s, interleaved best-of-5;
    candidate sets nearly identical, 255 vs 254 pairs).  BENCH_r03's
    apparent 43% loss for this tier was host-load variance, not plan
    cost.  The tier pays off exactly when per-shingle hashing dominates
    the map stage — i.e. real corpus document lengths — which is the
    100 TB case the recommendation is for.

    Driver check is rows-only (DuckDB has no xxhash64); the
    exact-Jaccard verification step is hash-independent, so every
    emitted pair is still a TRUE >=0.5 near-duplicate — only candidate
    recall depends on the hash family, and tests/test_dedup.py pins the
    fast tier finds the same planted duplicates."""
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"], fast=True).select(
            "doc_id", "__sh", "band0", "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    out = (pairs.join(a, "id_a").join(b, "id_b")
           .where(j >= 0.5)
           .select("id_a", "id_b", exact.snap_double_col(j, 9).alias("jaccard")))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("contrastive_triplets", oracle=f"""
WITH sigt AS ({_minhash_sql()}),
keyedt AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigt),
candt AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyedt l JOIN keyedt r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
vert AS (
  SELECT id_a, id_b,
    CAST(floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS j
  FROM candt
  JOIN sigt a ON a.doc_id = id_a
  JOIN sigt b ON b.doc_id = id_b),
sym AS (
  SELECT id_a AS anchor, id_b AS other, j FROM vert
  UNION ALL
  SELECT id_b, id_a, j FROM vert),
pos AS (
  SELECT anchor, other AS positive_id, j AS pos_jaccard FROM (
    SELECT anchor, other, j,
      row_number() OVER (PARTITION BY anchor ORDER BY j DESC, other) AS rn
    FROM sym WHERE j >= 0.5) WHERE rn = 1),
neg AS (
  SELECT anchor, other AS negative_id, j AS neg_jaccard FROM (
    SELECT anchor, other, j,
      row_number() OVER (PARTITION BY anchor ORDER BY j ASC, other) AS rn
    FROM sym WHERE j < 0.5) WHERE rn = 1)
SELECT p.anchor, p.positive_id, p.pos_jaccard,
       n.negative_id, n.neg_jaccard
FROM pos p LEFT JOIN neg n ON n.anchor = p.anchor""")
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining from the dedup index: for every
    anchor that has both, emit its hardest POSITIVE (highest-Jaccard
    verified near-dup) and hardest NEGATIVE (a doc that collides with
    the anchor in some LSH band yet verifies dissimilar — the classic
    hard-negative: near in the index, far in truth).  This is the
    (anchor, positive, hard-negative) triplet shape contrastive
    embedding training consumes, mined entirely from index structure —
    no model, no randomness, deterministic tie-breaks.

    Scale: reuses the band-key candidate join verbatim; the only
    additions are two per-anchor top-1 windows over candidate edges
    (each anchor's candidate list is band-collision-bounded)."""
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"]).select("doc_id", "__sh", "band0",
                                            "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    j = exact.snap_double_col(jaccard(F.col("sh_a"), F.col("sh_b")), 9)
    ver = (pairs.join(a, "id_a").join(b, "id_b")
           .select("id_a", "id_b", j.alias("j")))
    sym = (ver.selectExpr("id_a AS anchor", "id_b AS other", "j")
           .unionByName(ver.selectExpr("id_b AS anchor", "id_a AS other",
                                       "j")))
    w_pos = Window.partitionBy("anchor").orderBy(F.desc("j"), F.asc("other"))
    pos = (sym.where(F.col("j") >= 0.5)
           .withColumn("rn", F.row_number().over(w_pos))
           .where(F.col("rn") == 1)
           .select("anchor", F.col("other").alias("positive_id"),
                   F.col("j").alias("pos_jaccard")))
    w_neg = Window.partitionBy("anchor").orderBy(F.asc("j"), F.asc("other"))
    neg = (sym.where(F.col("j") < 0.5)
           .withColumn("rn", F.row_number().over(w_neg))
           .where(F.col("rn") == 1)
           .select("anchor", F.col("other").alias("negative_id"),
                   F.col("j").alias("neg_jaccard")))
    out = pos.join(neg, "anchor", "left")
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("dedup_cross_source_matrix", oracle=f"""
WITH sig AS ({_minhash_sql()}),
keyed AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
verified AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sig a ON a.doc_id = id_a
  JOIN sig b ON b.doc_id = id_b
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= 0.5),
srcd AS (
  SELECT least(da.source, db.source) AS source_a,
    greatest(da.source, db.source) AS source_b
  FROM verified
  JOIN documents da ON da.doc_id = id_a
  JOIN documents db ON db.doc_id = id_b)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
FROM srcd GROUP BY 1, 2 ORDER BY source_a, source_b""")
def dedup_cross_source_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which SOURCES contain the same
    content — near-dup pairs (the MinHash-LSH pipeline, verified
    Jaccard ≥ 0.5) rolled up by canonical (source_a ≤ source_b) pair.
    A hot off-diagonal cell means one feed mirrors another (count one
    of them, or drop the aggregator); a hot diagonal means a source
    re-publishes itself.  This is the dedup operator answering a
    CURATION-POLICY question rather than emitting pairs.

    Scale: inherits the LSH pipeline's cost (band equi-join, verify on
    candidates only); the rollup adds a broadcast of the doc→source
    projection and a matrix-domain hash agg."""
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"]).select("doc_id", "__sh", "band0",
                                            "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"),
                   F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"),
                   F.col("__sh").alias("sh_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    verified = (pairs.join(a, "id_a").join(b, "id_b")
                .where(j >= 0.5).select("id_a", "id_b"))
    src = t["documents"].select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"),
                    F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"),
                    F.col("source").alias("src_b"))
    out = (verified.join(F.broadcast(sa), "id_a")
           .join(F.broadcast(sb), "id_b")
           .groupBy(F.least("src_a", "src_b").alias("source_a"),
                    F.greatest("src_a", "src_b").alias("source_b"))
           .agg(F.count("*").alias("n_dup_pairs"))
           .orderBy("source_a", "source_b"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


_CDC_MOD = 16  # expected chunk length in tokens (boundary probability 1/16)


@query("dedup_cdc_chunks", oracle=f"""
WITH toks AS (
  SELECT doc_id, u.pos, u.tok FROM (
    SELECT doc_id,
      unnest([{{'pos': i, 'tok': t[i + 1]}}
              for i in range(0, len(t))]) AS u
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
flagged AS (
  SELECT doc_id, pos, tok,
    CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT) % {_CDC_MOD} = 0
         THEN 1 ELSE 0 END AS flag
  FROM toks),
chunked AS (
  SELECT doc_id, pos, tok,
    SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) - flag AS chunk
  FROM flagged),
chunks AS (
  SELECT doc_id, chunk,
    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
    CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM chunked GROUP BY doc_id, chunk)
SELECT chunk_hash, n_tokens,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_occ,
  CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM chunks GROUP BY chunk_hash, n_tokens
HAVING COUNT(DISTINCT doc_id) >= 2""")
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (the FastCDC/rsync idea applied
    to text): a token TERMINATES a chunk when its md5-derived hash is
    0 mod 16, so chunk boundaries move with the CONTENT, not with
    positions — inserting a sentence re-chunks only the chunk it lands
    in, and every identical span elsewhere still hashes to the same
    chunks.  That is the property fixed-offset chunking lacks and
    fixed-n-gram dedup (`dedup_duplicate_passages`) only approximates
    with per-position grams: CDC pays ONE chunk row per ~16 tokens
    instead of one gram row per token, an order of magnitude less
    shuffle for the same cross-doc duplication census.  Output: every
    chunk content-hash appearing in ≥2 distinct docs, with its token
    length, doc/occurrence counts, and first doc.

    Scale shape: tokenize+flag+prefix-sum are one map stage plus a
    doc_id-partitioned window (no cross-doc state); chunk assembly is
    a (doc_id, chunk)-keyed agg whose payload is the tokens themselves
    ONCE (vs n-gram explosion's k×); the census shuffles (chunk_hash,
    doc_id) pairs — hashes, never text.  The md5 boundary rule is
    engine-replayable, so even the chunking is value-checked."""
    from results_ingestor_spark.operators.dedup import cdc_chunk_table
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    t = load_tables(spark, sf_dir, ("documents",))
    chunks = cdc_chunk_table(ensure_min_parallelism(t["documents"]),
                             mod=_CDC_MOD)
    return (chunks.groupBy("chunk_hash", "n_tokens")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_occ"),
                 F.min("doc_id").cast("long").alias("first_doc"))
            .where(F.col("n_docs") >= 2))


_CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@query("dedup_threshold_curve", oracle=f"""
WITH sig AS ({_minhash_sql()}),
keyed AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyed l JOIN keyed r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
verified AS (
  SELECT id_a, id_b,
    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM cand
  JOIN sig a ON a.doc_id = id_a
  JOIN sig b ON b.doc_id = id_b),
th AS (SELECT CAST(unnest([{", ".join(str(x) for x in _CURVE_THRESHOLDS)}])
               AS DOUBLE) AS threshold),
per AS (
  SELECT threshold, id_a, id_b
  FROM verified CROSS JOIN th WHERE j >= threshold),
pa AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_dropped_keep_first
  FROM per GROUP BY threshold),
tt AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_in_pairs
  FROM (SELECT threshold, unnest([id_a, id_b]) AS d FROM per)
  GROUP BY threshold)
SELECT threshold, n_pairs, n_docs_in_pairs, n_dropped_keep_first
FROM pa JOIN tt USING (threshold)""")
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy tuning curve: for each candidate Jaccard threshold
    (0.5..0.9), how many verified near-dup pairs survive, how many
    docs participate in ≥1 pair, and how many docs the
    drop-if-near-dup-of-a-lower-id policy would remove.  This is the
    table a curation team reads BEFORE picking the threshold — the
    marginal cost of tightening from 0.8 to 0.7 in docs dropped.
    (The direct-pair drop rule is a deterministic policy of its own;
    cluster-transitive selection is `dedup_canonical_keep_best`.)

    Scale: one LSH pipeline run (band-key equi-join, verify on
    candidates only) feeds all five thresholds — the per-threshold
    explode multiplies only the VERIFIED PAIR table (tiny), never the
    corpus, and the curve aggregates to five rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(
        with_minhash(t["documents"]).select("doc_id", "__sh", "band0",
                                            "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    verified = (pairs.join(a, "id_a").join(b, "id_b")
                .select("id_a", "id_b", j.alias("j")))
    per = (verified
           .select("id_a", "id_b", "j",
                   F.explode(F.array(*[F.lit(float(x))
                                       for x in _CURVE_THRESHOLDS]))
                   .alias("threshold"))
           .where(F.col("j") >= F.col("threshold")))
    pa = (per.groupBy("threshold")
          .agg(F.count("*").alias("n_pairs"),
               F.countDistinct("id_b").alias("n_dropped_keep_first")))
    touched = (per.select("threshold",
                          F.explode(F.array("id_a", "id_b")).alias("d"))
               .groupBy("threshold")
               .agg(F.countDistinct("d").alias("n_docs_in_pairs")))
    out = (pa.join(touched, "threshold")
           .select("threshold", "n_pairs", "n_docs_in_pairs",
                   "n_dropped_keep_first"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


_STITCH_K = 3  # boundary width in tokens


@query("dedup_boundary_stitch", oracle=f"""
WITH e AS (
  SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n FROM documents
  WHERE len({_TOKS}) >= {2 * _STITCH_K}),
l AS (SELECT doc_id AS left_doc,
        array_to_string(t[n-{_STITCH_K - 1}:n], ' ') AS boundary FROM e),
r AS (SELECT doc_id AS right_doc,
        array_to_string(t[1:{_STITCH_K}], ' ') AS boundary FROM e),
p AS (
  SELECT left_doc, right_doc, boundary FROM l JOIN r USING (boundary)
  WHERE left_doc <> right_doc),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_total FROM p)
SELECT left_doc, right_doc, boundary, n_pairs_total
FROM p CROSS JOIN c
ORDER BY left_doc, right_doc LIMIT 50""")
def dedup_boundary_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-boundary stitch detection: find document pairs where one
    document's last 3 tokens equal another's first 3 — the signature of
    a source record split across extraction shards (a crawl page cut at
    a fetch boundary, a log rotated mid-record).  A stitching pass
    would re-join such pairs before dedup so the halves don't each
    survive as "unique" documents.

    Shape: each side is reduced map-side to (doc_id, 3-token boundary
    string) — a ~20-byte key — and the candidate set is a plain
    equi-join on that key, the LSH-band pattern: no all-pairs scan, and
    the shuffle never carries document bodies.  At 100 TB the boundary
    string would be xxhash64-ed to 8 bytes with an equality verify on
    the collision pairs; here the literal string IS the key so the
    DuckDB twin replays it exactly.  The 1-row pair-count aggregate is
    broadcast back onto the top-50 deterministic sample."""
    t = load_tables(spark, sf_dir, ("documents",))
    k = _STITCH_K
    e = (t["documents"]
         .select("doc_id", F.split("text", " ").alias("t"))
         .where(F.size("t") >= 2 * k))
    left = e.select(F.col("doc_id").alias("left_doc"),
                    F.concat_ws(" ", F.slice("t", -k, k)).alias("boundary"))
    right = e.select(F.col("doc_id").alias("right_doc"),
                     F.concat_ws(" ", F.slice("t", 1, k)).alias("boundary"))
    pairs = (left.join(right, "boundary")
             .where(F.col("left_doc") != F.col("right_doc")))
    total = pairs.agg(F.count("*").cast("long").alias("n_pairs_total"))
    return (pairs.crossJoin(F.broadcast(total))
            .select("left_doc", "right_doc", "boundary", "n_pairs_total")
            .orderBy("left_doc", "right_doc")
            .limit(50))


_SCURVE_CONFIGS = ((4, 4), (8, 2), (2, 8), (8, 4), (16, 2))
_SCURVE_GRID = tuple(round(0.05 * i, 2) for i in range(1, 20))


@query("dedup_lsh_s_curve", oracle=f"""
WITH cfg AS (
  SELECT b, r FROM (VALUES {", ".join(f"({b}, {r})"
                                      for b, r in _SCURVE_CONFIGS)})
    AS t(b, r)),
s AS (SELECT unnest([{", ".join(str(s) for s in _SCURVE_GRID)}]) AS sim),
curve AS (
  SELECT b, r, sim,
    CAST(floor((1.0 - pow(1.0 - pow(sim, r), b)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS p_candidate
  FROM cfg CROSS JOIN s)
SELECT b, r, CAST(round(sim * 100, 0) AS INT) AS sim_pct, p_candidate,
  b * r AS n_hashes
FROM curve ORDER BY b, r, sim_pct""")
def dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic LSH S-curve P(candidate) = 1 − (1 − s^r)^b for the
    production configuration (b=4 bands × r=4 rows — the constants in
    operators/dedup.py) and four alternatives at the same or doubled
    hash budget — the THEORY table read next to the EMPIRICAL
    dedup_threshold_curve when tuning: where each configuration's
    probability jump sits decides the effective Jaccard threshold, and
    br = hash budget decides the cost.  (4,4) jumps near s≈0.55 — the
    0.5-threshold family choice, now stated as data.

    Pure closed-form doubles over literal grids (identical pow chains
    in both engines, snapped at 9); no table scan — the one entry
    whose input is the DESIGN SPACE, not the corpus (sf_dir unused,
    accepted for the uniform entry signature)."""
    cfg = local_relation(spark, _SCURVE_CONFIGS, "b int, r int")
    s = local_relation(spark, [(x,) for x in _SCURVE_GRID], "sim double")
    curve = (cfg.crossJoin(F.broadcast(s))
             .select("b", "r", "sim",
                     exact.snap_double_col(1.0 - F.pow(1.0 - F.pow("sim", F.col("r")), F.col("b")), 9)
                     .alias("p_candidate")))
    return (curve.select("b", "r",
                         F.round(F.col("sim") * 100, 0).cast("int")
                         .alias("sim_pct"),
                         "p_candidate",
                         (F.col("b") * F.col("r")).alias("n_hashes"))
            .orderBy("b", "r", "sim_pct"))


_BLOOM_TARGETS = (0.01, 0.001, 0.0001)


def _bloom_sizing_sql() -> str:
    # ln(p) and ln(2) are inlined as PYTHON double literals — the same
    # literals the Spark plan folds — instead of DuckDB's ln(): two
    # libms can disagree by an ulp, and ceil() sits right on that edge
    # when n·ln(p)/ln²2 lands near an integer (round-6 float-idiom
    # audit; the "shared literal expression" device).
    import math
    ln2 = 0.6931471805599453
    legs = []
    for p in _BLOOM_TARGETS:
        lnp = repr(math.log(p))
        legs.append(f"""
  SELECT n_keys, 'target_fpr_{p}' AS config,
    CAST(ceil(-(n_keys * {lnp}) / ({ln2!r} * {ln2!r})) AS BIGINT)
      AS m_bits,
    CAST(greatest(1, round(
      (ceil(-(n_keys * {lnp}) / ({ln2!r} * {ln2!r})) / n_keys)
      * {ln2!r}, 0)) AS BIGINT) AS k,
    CAST(floor((CAST({p} AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS fpr
  FROM n""")
    return f"""
WITH n AS (
  SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995),
cur AS (
  SELECT n_keys, 'current_8KiB_k3' AS config,
    CAST(65536 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k,
    CAST(floor((pow(1.0 - exp(-3.0 * n_keys / 65536), 3)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS fpr
  FROM n),
tgt AS ({" UNION ALL ".join(legs)})
SELECT config, n_keys, m_bits, k, fpr,
  CAST((m_bits + 7) // 8 AS BIGINT) AS bytes
FROM (SELECT * FROM cur UNION ALL SELECT * FROM tgt)
ORDER BY config"""


@query("join_bloom_sizing_table", oracle=_bloom_sizing_sql())
def join_bloom_sizing_table(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Bloom-filter sizing table for the runtime-filter pattern
    (join_bloom_prefilter's design knob, computed from the corpus):
    given the ACTUAL build-side cardinality (distinct urgent-1995
    order keys), the current 8 KiB / k=3 filter's implied false-
    positive rate (1 − e^(−kn/m))^k, and for each target FPR the
    textbook optimal m = ⌈−n·ln p / ln²2⌉ bits and k = round(m/n·ln 2)
    hashes.  The table is what decides whether 8 KiB still holds when
    the dim grows 100× — the sizing question every runtime-filter
    deployment revisits.

    One COUNT(DISTINCT) over the pushed-filter scan; everything else
    is closed-form doubles on that 1-row cardinality (identical
    ln/exp/pow chains, snapped at 9)."""
    import math
    t = load_tables(spark, sf_dir, ("orders",))
    n = (t["orders"]
         .where((F.col("o_orderpriority") == "1-URGENT")
                & (F.year("o_orderdate") == 1995))
         .agg(F.countDistinct("o_orderkey").cast("long")
              .alias("n_keys")))
    ln2 = 0.6931471805599453
    cur = n.select(
        "n_keys", F.lit("current_8KiB_k3").alias("config"),
        F.lit(65536).cast("long").alias("m_bits"),
        F.lit(3).cast("long").alias("k"),
        exact.snap_double_col(F.pow(1.0 - F.exp(-3.0 * F.col("n_keys") / 65536), 3), 9)
         .alias("fpr"))
    legs = [cur]
    for p in _BLOOM_TARGETS:
        m_bits = F.ceil(-(F.col("n_keys") * math.log(p))
                        / (ln2 * ln2)).cast("long")
        legs.append(n.select(
            "n_keys", F.lit(f"target_fpr_{p}").alias("config"),
            m_bits.alias("m_bits"),
            F.greatest(F.lit(1).cast("long"),
                       F.round((m_bits / F.col("n_keys")) * ln2, 0)
                       .cast("long")).alias("k"),
            exact.snap_double_col(F.lit(float(p)), 9).alias("fpr")))
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return (u.select("config", "n_keys", "m_bits", "k", "fpr",
                     F.expr("CAST((m_bits + 7) DIV 8 AS BIGINT)")
                     .alias("bytes"))
            .orderBy("config"))


@query("dedup_lsh_bucket_stats", oracle=f"""
WITH sigt AS ({_minhash_sql()}),
keyedt AS (
  SELECT doc_id, unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigt),
bk AS (
  SELECT bidx, bkey, CAST(COUNT(*) AS BIGINT) AS sz
  FROM keyedt GROUP BY bidx, bkey)
SELECT CAST(bidx AS INT) AS band,
  CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(MAX(sz) AS BIGINT) AS max_bucket,
  CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs_bound,
  CAST(floor((CAST(SUM(sz) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS mean_bucket
FROM bk GROUP BY bidx ORDER BY band""")
def dedup_lsh_bucket_stats(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """LSH band-bucket capacity diagnostics — the dedup cost model
    MEASURED before the join runs: per band, bucket count, the hottest
    bucket, and Σ sz(sz−1)/2 = the exact upper bound on candidate
    pairs that band will emit (the quantity the AMS-F2 sketch
    estimates, computed exactly here on the band keys).  A band whose
    candidate bound explodes relative to its siblings marks a
    degenerate hash slice (too few bits, skewed shingles) — the
    re-banding trigger, and the number that sizes the verify stage's
    shuffle.  The IVF twin of this report is ann_ivf_index_stats.

    Exact BIGINT bucket sizes and pair bounds (sz(sz−1) is even);
    one double mean.  Shape: signatures map-side, one (band, key)
    count, a 4-group rollup — counters only."""
    from results_ingestor_spark.operators.dedup import with_minhash
    t = load_tables(spark, sf_dir, ("documents",))
    sig = with_minhash(t["documents"]).select(
        "doc_id", "band0", "band1", "band2", "band3")
    bands = F.array(*[F.col(f"band{b}") for b in range(4)])
    keyed = sig.select(F.posexplode(bands).alias("bidx", "bkey"))
    bk = (keyed.groupBy("bidx", "bkey")
          .agg(F.count("*").cast("long").alias("sz")))
    return (bk.groupBy(F.col("bidx").cast("int").alias("band"))
            .agg(F.count("*").cast("long").alias("n_buckets"),
                 F.max("sz").cast("long").alias("max_bucket"),
                 F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long")
                  .alias("candidate_pairs_bound"),
                 exact.snap_double_col(F.sum("sz").cast("double") / F.count("*"), 6)
                  .alias("mean_bucket"))
            .orderBy("band"))


@query("dedup_transitivity_violation_rate", oracle=f"""
WITH sigt AS ({_minhash_sql()}),
keyedt AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigt),
candt AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyedt l JOIN keyedt r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
p AS (
  SELECT id_a, id_b
  FROM candt
  JOIN sigt a ON a.doc_id = id_a
  JOIN sigt b ON b.doc_id = id_b
  WHERE CAST(floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
        >= 0.5),
sym AS (SELECT id_a AS u, id_b AS v FROM p
        UNION ALL SELECT id_b, id_a FROM p),
wedge AS (
  SELECT s1.v AS a, s1.u AS mid, s2.v AS c
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v),
closed AS (
  SELECT w.a, w.mid, w.c
  FROM wedge w JOIN p ON p.id_a = w.a AND p.id_b = w.c),
s AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedge) AS n_wedges,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM closed) AS n_closed)
SELECT n_pairs, n_wedges, n_closed,
  n_wedges - n_closed AS n_open,
  CASE WHEN n_wedges > 0 THEN
    CAST(floor((CAST(n_wedges - n_closed AS DOUBLE) / n_wedges) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
  ELSE 0.0 END AS violation_rate
FROM s""")
def dedup_transitivity_violation_rate(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Is the near-duplicate relation transitive ENOUGH to collapse by
    connected components?  Over the verified MinHash pairs (Jaccard
    ≥ 0.5, exactly dedup_minhash_lsh's output), count wedges A~B~C and
    how many close into A~C.  The violation rate IS the error the
    cluster-collapse step (dedup_clusters + keep-first) commits:
    components merge non-duplicates through chains when it's high —
    the measured justification for (or against) the CC granularity,
    read before trusting canonical selection.

    Exact integer wedge/closure counts; one double rate.  Shape: the
    LSH + verify budget, then a wedge self-join SYMMETRIZED on the
    verified-pair table (pair-volume-bounded, not corpus) and one
    equi-join back against the pairs — the common-neighbors wedge
    pattern applied to the dedup graph."""
    from results_ingestor_spark.operators.dedup import (
        checkpointed_sig, jaccard, lsh_candidate_pairs, with_minhash)
    t = load_tables(spark, sf_dir, ("documents",))
    # r11: signature frame computed once (checkpointed_sig).
    sig, scope = checkpointed_sig(with_minhash(t["documents"]).select(
        "doc_id", "__sh", "band0", "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"),
                   F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"),
                   F.col("__sh").alias("sh_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    p = (pairs.join(a, "id_a").join(b, "id_b")
         .where(exact.snap_double_col(j, 9) >= 0.5)
         .select("id_a", "id_b"))
    sym = p.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")) \
        .unionAll(p.select(F.col("id_b").alias("u"),
                           F.col("id_a").alias("v")))
    s1 = sym.select(F.col("u").alias("mid"), F.col("v").alias("a"))
    s2 = sym.select(F.col("u").alias("mid"), F.col("v").alias("c"))
    wedge = (s1.join(s2, "mid")
             .where(F.col("a") < F.col("c")))
    closed = wedge.join(p, (F.col("a") == F.col("id_a"))
                        & (F.col("c") == F.col("id_b")))
    np_ = p.agg(F.count("*").cast("long").alias("n_pairs"))
    nw = wedge.agg(F.count("*").cast("long").alias("n_wedges"))
    nc = closed.agg(F.count("*").cast("long").alias("n_closed"))
    s = np_.crossJoin(F.broadcast(nw)).crossJoin(F.broadcast(nc))
    open_ = F.col("n_wedges") - F.col("n_closed")
    out = s.select(
        "n_pairs", "n_wedges", "n_closed", open_.alias("n_open"),
        F.when(F.col("n_wedges") > 0,
               exact.snap_double_col(open_.cast("double") / F.col("n_wedges"), 9))
         .otherwise(F.lit(0.0)).alias("violation_rate"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out
