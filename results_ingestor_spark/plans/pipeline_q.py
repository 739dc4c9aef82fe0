"""Training-data-pipeline queries: dataset splitting, sharding, sequence
packing, benchmark-contamination checks, PII masking (north-star M3 —
the operations a 100 TB pretraining pipeline runs between raw corpus and
tokenizer).

Everything hash-derived uses the md5 → 15-hex-digit → BIGINT bridge
(functions/hashing.py convention) so both engines compute identical
assignments; token counts are the literal-space split both engines
reproduce exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from results_ingestor_spark.operators.ckpt import carry_scope
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables

_TOKS = "string_split(text, ' ')"
# Spark twin of the DuckDB ('0x' || substr(md5(x),1,15))::BIGINT hash.
_DOC_HASH = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
             "16, 10) AS BIGINT)")
_DOC_HASH_SQL = "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT"


@query("sampling_stratified_split", oracle=f"""
WITH s AS (
  SELECT doc_id, lang, {_DOC_HASH_SQL} % 100 AS h,
    len({_TOKS}) AS n_tokens
  FROM documents)
SELECT lang,
  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END
    AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s GROUP BY 1, 2""")
def sampling_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content-free id
    hash, reported per language stratum with document and token counts.
    The split is a pure map expression — no shuffle beyond the reporting
    aggregation, and membership is reproducible from doc_id alone (the
    property that makes the split stable across pipeline re-runs)."""
    t = load_tables(spark, sf_dir, ("documents",))
    h = F.expr(_DOC_HASH) % 100
    split = (F.when(h < 80, "train").when(h < 90, "val").otherwise("test"))
    return (t["documents"]
            .select("lang", split.alias("split"),
                    F.size(F.split("text", " ")).alias("n_tokens"))
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


@query("dataset_shard_stats", oracle=f"""
WITH s AS (
  SELECT doc_id, {_DOC_HASH_SQL} % 16 AS shard,
    len({_TOKS}) AS n_tokens
  FROM documents)
SELECT shard, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY shard""")
def dataset_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sharding balance report: 16 shards by id hash, with doc and
    token totals per shard.  At 100 TB this is the pre-write check that
    output files will be even — a skewed shard here means a straggler
    writer there."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (t["documents"]
            .select((F.expr(_DOC_HASH) % 16).alias("shard"), "doc_id",
                    F.size(F.split("text", " ")).alias("n_tokens"))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


_PACK_BUDGET = 1024


@query("pack_sequences_cumsum", oracle=f"""
WITH tok AS (
  SELECT doc_id, doc_id % 8 AS shard, len({_TOKS}) AS n_tokens
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tokens,
    CAST(coalesce(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM tok)
SELECT shard, doc_id, n_tokens,
  CAST(floor(CAST(cum_before AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
    AS pack_id
FROM c""")
def pack_sequences_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sequence packing: pack = pre-document cumulative
    tokens DIV budget, windowed WITHIN a shard (never a global sort —
    the shard is the scale unit).  Packs can overflow by at most one
    document; the exact greedy variant is pack_sequences_greedy."""
    from results_ingestor_spark.operators.packing import cumsum_pack_expr
    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select(
        (F.col("doc_id") % 8).alias("shard"), "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"))
    return base.select(
        "shard", "doc_id", "n_tokens",
        cumsum_pack_expr(_PACK_BUDGET).alias("pack_id"))


@query("pack_sequences_greedy", oracle="""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS shard, CAST(doc_id AS BIGINT)
    AS doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
ordered AS (
  SELECT shard, doc_id, n_tokens,
    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM base),
walk AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS pack_id,
    n_tokens AS filled
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN w.filled > 0 AND w.filled + o.n_tokens > 1024
         THEN w.pack_id + 1 ELSE w.pack_id END,
    CASE WHEN w.filled > 0 AND w.filled + o.n_tokens > 1024
         THEN o.n_tokens ELSE w.filled + o.n_tokens END
  FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1)
SELECT shard, doc_id, n_tokens, pack_id FROM walk""")
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact first-fit-in-order packing (new pack when the next document
    would overflow the budget) — running-reset state is not expressible
    as a window function, so it runs per-shard in applyInPandas
    (Arrow-batched; shards independent → embarrassingly parallel).
    Round 4: value-checked — the shard key is content-defined
    (doc_id % 8), so the oracle replays the per-shard sequential fold
    as a recursive CTE walking doc_id order (formerly rows-only).
    Invariants (no pack over budget unless single-doc; contiguous pack
    ids) are asserted in tests/test_packing.py against a pure-Python
    reference."""
    from results_ingestor_spark.operators.packing import greedy_pack
    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select(
        (F.col("doc_id") % 8).alias("shard"), "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"))
    return greedy_pack(base, _PACK_BUDGET)


@query("contamination_ngram_overlap", oracle=f"""
WITH sh AS (
  SELECT doc_id,
    unnest(list_distinct([array_to_string(tt[i:i+2], ' ')
                          for i in range(1, len(tt) - 1)])) AS s
  FROM (SELECT doc_id, {_TOKS} AS tt FROM documents)),
ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id < 20),
co AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20)
SELECT co.doc_id, ev.eval_id, COUNT(*) AS shared_shingles
FROM co JOIN ev ON co.s = ev.s
GROUP BY co.doc_id, ev.eval_id
HAVING COUNT(*) >= 2""")
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing >= 2
    distinct 3-gram shingles with any held-out eval document (doc_id <
    20 stands in for the benchmark set).  Implemented as an inverted-
    index join ON THE SHINGLE — cost is O(matching postings), never
    corpus x eval pairs, so it scales to 100 TB the way all shingle
    pipelines here do."""
    from results_ingestor_spark.operators.text import shingles_expr
    t = load_tables(spark, sf_dir, ("documents",))
    sh = t["documents"].select(
        "doc_id", F.explode(shingles_expr("split(text, ' ')", 3)).alias("s"))
    ev = (sh.where(F.col("doc_id") < 20)
          .select(F.col("doc_id").alias("eval_id"), "s"))
    co = sh.where(F.col("doc_id") >= 20)
    return (co.join(ev, "s")
            .groupBy("doc_id", "eval_id")
            .agg(F.count("*").alias("shared_shingles"))
            .where(F.col("shared_shingles") >= 2))


@query("text_pii_mask", oracle="""
SELECT c_custkey,
  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
  length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
    AS n_digits_redacted,
  regexp_replace(lower(replace(c_name, '#', '')) || '@example.com',
                 '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g')
    AS scrubbed_contact
FROM customer WHERE c_custkey <= 1000""")
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing surface: digit masking with redaction counts and
    email-pattern redaction (a contact string is synthesized in-query —
    the corpus ships no PII, which is the point of testing the scrubber
    on known-shape input).  All built-in regexp expressions in a narrow
    map stage; patterns stay in the RE2-compatible subset so both
    engines agree byte-for-byte."""
    t = load_tables(spark, sf_dir, ("customer",))
    name = F.col("c_name")
    contact = F.concat(F.lower(F.regexp_replace(name, "#", "")),
                       F.lit("@example.com"))
    return (t["customer"].where(F.col("c_custkey") <= 1000)
            .select("c_custkey",
                    F.regexp_replace(name, "[0-9]", "#")
                    .alias("masked_name"),
                    (F.length(name)
                     - F.length(F.regexp_replace(name, "[0-9]", "")))
                    .alias("n_digits_redacted"),
                    F.regexp_replace(contact, "[a-z0-9._]+@[a-z0-9.-]+",
                                     "<EMAIL>")
                    .alias("scrubbed_contact")))




def _quality_sql() -> str:
    """DuckDB twin of the text_quality_score formula (plans/text_q.py) —
    shared so curation reuses the exact same scalar."""
    from results_ingestor_spark.operators.text import STOPWORDS
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = "string_split(text, ' ')"
    return (f"CAST(floor((0.5 * (CAST(len(list_distinct({toks})) AS DOUBLE)"
            f" / len({toks}))"
            f" + 0.3 * (1 - CAST(len(list_filter({toks},"
            f" t -> t IN ({stops}))) AS DOUBLE) / len({toks}))"
            f" + 0.2 * least(CAST(length(replace(text, ' ', '')) AS DOUBLE)"
            f" / len({toks}) / 8.0, 1.0)) * 1000000000.0 + 0.5)"
            f" AS BIGINT) / CAST(1000000000.0 AS DOUBLE)")


@query("quality_filter_top_half", oracle=f"""
WITH q AS (
  SELECT doc_id, lang, {_quality_sql()} AS quality FROM documents),
r AS (
  SELECT doc_id, lang, quality,
    percent_rank() OVER (PARTITION BY lang
                         ORDER BY quality, doc_id) AS pr
  FROM q)
SELECT doc_id, lang, quality, CAST(floor((pr) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS pct_rank
FROM r WHERE pr >= 0.5""")
def quality_filter_top_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data curation: keep the top half of documents per language by
    quality score (the same scalar as text_quality_score) via
    percent_rank within the language stratum.  One window per stratum —
    the standard quality-threshold curation pass, with a unique doc_id
    tie-break so the kept set is deterministic."""
    from pyspark.sql import Window
    from results_ingestor_spark.operators.text import stopword_ratio, tokens
    t = load_tables(spark, sf_dir, ("documents",))
    tk = tokens()
    stop = stopword_ratio()
    ttr = F.size(F.array_distinct(tk)).cast("double") / F.size(tk)
    avg_len = (F.length(F.regexp_replace("text", " ", "")).cast("double")
               / F.size(tk))
    quality = exact.snap_double_col(F.lit(0.5) * ttr + F.lit(0.3) * (F.lit(1) - stop) + F.lit(0.2) * F.least(avg_len / 8.0, F.lit(1.0)), 9)
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return (t["documents"]
            .select("doc_id", "lang", quality.alias("quality"))
            .withColumn("pct_rank", exact.snap_double_col(F.percent_rank().over(w), 9))
            .where(F.col("pct_rank") >= 0.5))


@query("sampling_language_balanced", oracle=f"""
WITH r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY {_DOC_HASH_SQL} % 9973, doc_id) AS rn
  FROM documents)
SELECT lang, COUNT(*) AS n_sampled,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM r WHERE rn <= 30 GROUP BY lang""")
def sampling_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling: cap every language at 30 docs,
    chosen by deterministic hash order (not doc_id order — that would
    bias toward corpus position).  The per-stratum row_number cap is the
    scalable form of per-group reservoir sampling when the sample is
    hash-reproducible."""
    from pyspark.sql import Window
    t = load_tables(spark, sf_dir, ("documents",))
    w = Window.partitionBy("lang").orderBy(F.expr(_DOC_HASH) % 9973,
                                           "doc_id")
    return (t["documents"]
            .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= 30)
            .groupBy("lang")
            .agg(F.count("*").alias("n_sampled"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


_SHUF_SEED = 42


@query("corpus_global_shuffle", oracle=f"""
WITH keyed AS (
  SELECT doc_id,
    md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents)
SELECT doc_id, shuffle_key,
  CAST(('0x' || substr(shuffle_key, 1, 2))::BIGINT AS INTEGER) AS shard,
  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
    AS global_pos
FROM keyed""")
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every doc's exact position in the
    md5(seed:id)-shuffled order, computed with the two-level
    shard-rank + broadcast-offset pattern (operators/shuffle.py) — the
    oracle's single ROW_NUMBER() OVER (ORDER BY key) is exactly what a
    100 TB corpus must NOT do (one global sort partition); the Spark
    plan's widest window partitions by the 256-way shard key."""
    from results_ingestor_spark.operators.shuffle import global_shuffle_index
    t = load_tables(spark, sf_dir, ("documents",))
    return (global_shuffle_index(t["documents"], _SHUF_SEED)
            .select("doc_id", "shuffle_key", "shard", "global_pos"))


@query("decontamination_filter", oracle=f"""
WITH sh AS (
  SELECT doc_id,
    unnest(list_distinct([array_to_string(tt[i:i+2], ' ')
                          for i in range(1, len(tt) - 1)])) AS s
  FROM (SELECT doc_id, {_TOKS} AS tt FROM documents)),
ev AS (SELECT s FROM sh WHERE doc_id < 20),
dirty AS (
  SELECT DISTINCT sh.doc_id FROM sh
  WHERE sh.doc_id >= 20 AND sh.s IN (SELECT s FROM ev))
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id >= 20
  AND d.doc_id NOT IN (SELECT doc_id FROM dirty)""")
def decontamination_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the FILTER twin of the overlap
    report: drop every training doc sharing ANY 3-gram shingle with the
    held-out eval set (doc_id < 20), keep the rest.  Shape: inverted-
    index semi-join on the shingle marks dirty docs, then an anti-join
    removes them — both key on high-cardinality values, no pairwise
    compare anywhere.  At 100 TB the eval shingle set is small and
    broadcasts; the corpus is touched twice (shingle pass, output
    pass), both narrow."""
    from results_ingestor_spark.operators.text import shingles_expr
    t = load_tables(spark, sf_dir, ("documents",))
    sh = t["documents"].select(
        "doc_id", F.explode(shingles_expr("split(text, ' ')", 3)).alias("s"))
    ev = sh.where(F.col("doc_id") < 20).select("s").distinct()
    dirty = (sh.where(F.col("doc_id") >= 20)
             .join(F.broadcast(ev), "s", "left_semi")
             .select("doc_id").distinct())
    return (t["documents"].where(F.col("doc_id") >= 20)
            .join(dirty, "doc_id", "left_anti")
            .select("doc_id", "lang", "n_chars"))


@query("dataset_diff_snapshots", oracle="""
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' EDITED' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 1)
SELECT
  coalesce(old.doc_id, new.doc_id) AS doc_id,
  CASE WHEN old.doc_id IS NULL THEN 'added'
       WHEN new.doc_id IS NULL THEN 'removed'
       WHEN old.text <> new.text THEN 'changed'
       ELSE 'unchanged' END AS change
FROM old FULL JOIN new ON old.doc_id = new.doc_id
WHERE NOT (old.doc_id IS NOT NULL AND new.doc_id IS NOT NULL
           AND old.text = new.text)""")
def dataset_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC primitive between two corpus versions):
    classify every doc as added / removed / changed via one full-outer
    join on the id, comparing content hashes — here raw text; at 100 TB
    compare md5(text) so the shuffle carries 32 bytes, not documents.
    Synthetic old/new: 10% of ids dropped each side, every 7th doc
    edited."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    old = d.where(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = (d.where(F.col("doc_id") % 10 != 1)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.concat("text", F.lit(" EDITED")))
                   .otherwise(F.col("text")).alias("text")))
    o = old.select(F.col("doc_id").alias("o_id"), F.col("text").alias("o_t"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("text").alias("n_t"))
    j = o.join(n, F.col("o_id") == F.col("n_id"), "full_outer")
    change = (F.when(F.col("o_id").isNull(), "added")
              .when(F.col("n_id").isNull(), "removed")
              .when(F.col("o_t") != F.col("n_t"), "changed")
              .otherwise("unchanged"))
    return (j.select(F.coalesce("o_id", "n_id").alias("doc_id"),
                     change.alias("change"))
            .where(F.col("change") != "unchanged"))


@query("profile_orders_columns", oracle="""
SELECT 'o_totalprice' AS col,
  COUNT(*) AS n_rows,
  COUNT(o_totalprice) AS n_nonnull,
  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
  CAST(floor((MIN(o_totalprice)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS min_d, CAST(floor((MAX(o_totalprice)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS max_d
FROM orders
UNION ALL
SELECT 'o_custkey',
  COUNT(*), COUNT(o_custkey),
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
  CAST(floor((CAST(MIN(o_custkey) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE),
  CAST(floor((CAST(MAX(o_custkey) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
FROM orders""")
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (ANALYZE TABLE surface): per-column rowcount,
    null count, exact distinct, min/max — ONE scan computes every
    column's stats as parallel aggregates (no per-column rescans; at
    100 TB swap COUNT(DISTINCT) for approx_count_distinct and this
    becomes a single cheap pass).  Two numeric columns demonstrated;
    unpivoted to (col, stats) rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    agg = t["orders"].agg(
        F.count("*").alias("n1"),
        F.count("o_totalprice").alias("nn1"),
        F.countDistinct("o_totalprice").alias("nd1"),
        exact.snap_double_col(F.min("o_totalprice"), 6).alias("mn1"),
        exact.snap_double_col(F.max("o_totalprice"), 6).alias("mx1"),
        F.count("o_custkey").alias("nn2"),
        F.countDistinct("o_custkey").alias("nd2"),
        exact.snap_double_col(F.min("o_custkey").cast("double"), 6).alias("mn2"),
        exact.snap_double_col(F.max("o_custkey").cast("double"), 6).alias("mx2"))
    row1 = agg.select(F.lit("o_totalprice").alias("col"),
                      F.col("n1").alias("n_rows"),
                      F.col("nn1").alias("n_nonnull"),
                      F.col("nd1").alias("n_distinct"),
                      F.col("mn1").alias("min_d"), F.col("mx1").alias("max_d"))
    row2 = agg.select(F.lit("o_custkey").alias("col"),
                      F.col("n1").alias("n_rows"),
                      F.col("nn2").alias("n_nonnull"),
                      F.col("nd2").alias("n_distinct"),
                      F.col("mn2").alias("min_d"), F.col("mx2").alias("max_d"))
    return row1.unionByName(row2)


@query("sampling_hash_uniform", oracle="""
SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS k
FROM documents
ORDER BY k, doc_id LIMIT 100""")
def sampling_hash_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic sample: take the 100 smallest md5(seed:id)
    keys — reproducible (no RNG state), uniform over ids, and planned
    as TakeOrderedAndProject (each partition keeps its local top-100;
    no global sort, no full shuffle) — the sampling shape that holds at
    any corpus size."""
    t = load_tables(spark, sf_dir, ("documents",))
    k = F.md5(F.concat_ws(":", F.lit("7"), F.col("doc_id").cast("string")))
    return (t["documents"].select("doc_id", k.alias("k"))
            .orderBy("k", "doc_id").limit(100))


@query("sampling_weighted_lengths", oracle="""
WITH keyed AS (
  SELECT doc_id, n_chars,
    ln(CAST(('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT + 1 AS DOUBLE) / 1152921504606846976.0)
      / n_chars AS es_key
  FROM documents)
SELECT doc_id, n_chars, CAST(floor((es_key) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS es_key
FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50""")
def sampling_weighted_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each doc draws u ~ U(0,1) from its md5 hash and ranks by
    ln(u)/weight (equivalent to u^(1/w)); the top-k by that key is an
    exact weight-proportional sample — here weight = n_chars, i.e.
    sample proportional to document length, the data-mixing primitive
    for re-balancing a corpus.  Deterministic (hash-derived u, doc_id
    tie-break) and TakeOrdered-planned like the uniform variant."""
    t = load_tables(spark, sf_dir, ("documents",))
    u = ((F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit("13"),
                          F.col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("bigint") + 1).cast("double")
        / F.lit(float(1 << 60)))
    es_key = F.log(u) / F.col("n_chars")
    return (t["documents"]
            .select("doc_id", "n_chars", es_key.alias("es_key"))
            .orderBy(F.desc("es_key"), F.asc("doc_id")).limit(50)
            .select("doc_id", "n_chars", exact.snap_double_col("es_key", 9).alias("es_key")))


@query("sampling_temperature_mix", oracle="""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               SUM(pow(n_docs, 0.3)) AS z FROM c)
SELECT lang, n_docs,
  CAST(floor((CAST(n_docs AS DOUBLE) / total) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS natural_share,
  CAST(floor((pow(n_docs, 0.3) / z) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS temp_share,
  CAST(floor(((pow(n_docs, 0.3) / z) / (CAST(n_docs AS DOUBLE) / total)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS upsample_factor
FROM c, tot ORDER BY lang""")
def sampling_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (the mT5/XLM-R α=0.3 rule):
    per-language sampling shares ∝ n^α, flattening the head and
    up-weighting tail languages, with the upsample factor each language
    needs to hit its target share.  One tiny groupBy + a 1-row global
    aggregate broadcast-cross-joined in-plan (no collect); at 100 TB
    the per-language counts come off the same scan that computes any
    other corpus stat, and the emitted factors parameterize the
    downstream weighted sampler (sampling_weighted_lengths)."""
    t = load_tables(spark, sf_dir, ("documents",))
    c = t["documents"].groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = c.agg(F.sum("n_docs").cast("long").alias("total"),
                F.sum(F.pow("n_docs", 0.3)).alias("z"))
    nat = F.col("n_docs").cast("double") / F.col("total")
    tmp = F.pow("n_docs", 0.3) / F.col("z")
    return (c.join(F.broadcast(tot))
            .select("lang", "n_docs",
                    exact.snap_double_col(nat, 9).alias("natural_share"),
                    exact.snap_double_col(tmp, 9).alias("temp_share"),
                    exact.snap_double_col(tmp / nat, 9).alias("upsample_factor"))
            .orderBy("lang"))


@query("pipeline_curate_end_to_end", oracle=f"""
WITH quality AS (
  SELECT doc_id, text, lang, len({_TOKS}) AS n_tokens
  FROM documents
  WHERE n_chars >= 100 AND len({_TOKS}) >= 20),
kept AS (
  SELECT doc_id, lang, n_tokens,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM quality),
split AS (
  SELECT lang,
    CASE WHEN {_DOC_HASH_SQL} % 100 < 80 THEN 'train'
         WHEN {_DOC_HASH_SQL} % 100 < 90 THEN 'val'
         ELSE 'test' END AS split,
    n_tokens
  FROM kept WHERE rn = 1)
SELECT lang, split, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM split GROUP BY lang, split ORDER BY lang, split""")
def pipeline_curate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline COMPOSED end-to-end in one lazy plan:
    quality gate (length floors) → exact dedup (first doc per content
    fingerprint) → deterministic 80/10/10 split → per-(lang, split)
    doc/token budget report.  Each stage exists standalone
    (quality_filter_top_half, dedup_exact, sampling_stratified_split,
    dataset_shard_stats); composing them proves the stages chain
    without materialization barriers — Catalyst plans the whole flow
    as scan → filter → one dedup shuffle on the content hash → map
    split assignment → one agg shuffle.  At 100 TB that is TWO
    shuffles total from raw corpus to training-mix report, and the
    dedup shuffle carries (hash, id, lang, n_tokens) — never text."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    quality = (t["documents"]
               .where((F.col("n_chars") >= 100) & (F.size(toks) >= 20))
               .select("doc_id", "text", "lang",
                       F.size(toks).alias("n_tokens")))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (quality.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    h = F.expr(_DOC_HASH) % 100
    split = (F.when(h < 80, "train").when(h < 90, "val")
             .otherwise("test"))
    return (kept.select("lang", split.alias("split"), "n_tokens")
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"))
            .orderBy("lang", "split"))


@query("mixture_token_budget", oracle="""
WITH c AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT SUM(pow(n_tokens, 0.3)) AS z FROM c)
SELECT lang, n_tokens,
  CAST(floor((pow(n_tokens, 0.3) / z) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mix_share,
  CAST(floor(1000000 * (pow(n_tokens, 0.3) / z)) AS BIGINT)
    AS budget_tokens,
  CAST(floor((1000000 * (pow(n_tokens, 0.3) / z) / n_tokens) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS epochs
FROM c, tot ORDER BY lang""")
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture solver: given per-language token counts, a
    temperature-flattened share (n^0.3, the mT5 recipe) and a 1M-token
    budget, emit each language's token allocation and epoch count
    (epochs > 1 = that language is over-sampled / repeated).  The
    token-level companion to sampling_temperature_mix's doc-level
    shares; two tiny aggregates, one 1-row broadcast."""
    t = load_tables(spark, sf_dir, ("documents",))
    c = (t["documents"]
         .groupBy("lang")
         .agg(F.sum(F.size(F.split("text", " "))).cast("long")
               .alias("n_tokens")))
    z = c.agg(F.sum(F.pow("n_tokens", F.lit(0.3))).alias("z"))
    share = F.pow("n_tokens", F.lit(0.3)) / F.col("z")
    return (c.crossJoin(F.broadcast(z))
            .select("lang", "n_tokens",
                    exact.snap_double_col(share, 9).alias("mix_share"),
                    F.floor(F.lit(1000000) * share).cast("long")
                     .alias("budget_tokens"),
                    exact.snap_double_col(F.lit(1000000) * share / F.col("n_tokens"), 6)
                     .alias("epochs"))
            .orderBy("lang"))


@query("privacy_k_anonymity", oracle="""
WITH qid AS (
  SELECT doc_id, lang, source,
    CAST(n_chars // 100 AS BIGINT) AS len_bucket
  FROM documents),
grp AS (
  SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS k
  FROM qid GROUP BY 1, 2, 3)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(MIN(k) AS BIGINT) AS min_k,
  CAST(count_if(k < 5) AS BIGINT) AS n_groups_below_5,
  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
    AS n_docs_below_5,
  CAST(floor((CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE) / SUM(k)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS frac_docs_reidentifiable
FROM grp""")
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length-bucket): group sizes, the corpus minimum k, and the share of
    documents sitting in groups smaller than k=5 — the privacy gate a
    release pipeline runs before publishing metadata-bearing corpora
    (small QI groups re-identify their members; the fix is coarsening
    a QI column or suppressing the stragglers).

    Scale: one hash-aggregate on the QI tuple (map-side combine) plus
    a 1-row summary — the audit never touches document bodies, and the
    QI group table is bounded by the QI domain, not the corpus."""
    t = load_tables(spark, sf_dir, ("documents",))
    qid = t["documents"].select(
        "lang", "source",
        F.expr("n_chars DIV 100").alias("len_bucket"))
    grp = (qid.groupBy("lang", "source", "len_bucket")
           .agg(F.count("*").alias("k")))
    below = F.when(F.col("k") < 5, F.col("k")).otherwise(0)
    return grp.agg(
        F.count("*").alias("n_groups"),
        F.min("k").alias("min_k"),
        F.count_if(F.col("k") < 5).alias("n_groups_below_5"),
        F.sum(below).cast("long").alias("n_docs_below_5"),
        exact.snap_double_col(F.sum(below).cast("double") / F.sum("k"), 9)
         .alias("frac_docs_reidentifiable"))


@query("privacy_l_diversity", oracle="""
WITH qid AS (
  SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket, lang
  FROM documents),
grp AS (
  SELECT source, len_bucket,
    CAST(COUNT(*) AS BIGINT) AS k,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS l
  FROM qid GROUP BY 1, 2)
SELECT source, len_bucket, k, l,
  l >= 3 AS diverse
FROM grp""")
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: within each
    quasi-identifier group (source, length-bucket), how many DISTINCT
    sensitive values (lang here) appear.  A group can be large (k-safe)
    yet homogeneous: every member shares the sensitive value, so
    membership alone discloses it; l >= 3 is the usual release bar.
    Per-group output so the failing groups are directly actionable.

    Scale: one hash-aggregate on the QI tuple with a distinct-agg
    (expand), bounded by the QI domain — bodies never move."""
    t = load_tables(spark, sf_dir, ("documents",))
    qid = t["documents"].select(
        "source", F.expr("n_chars DIV 100").alias("len_bucket"),
        "lang")
    return (qid.groupBy("source", "len_bucket")
            .agg(F.count("*").alias("k"),
                 F.countDistinct("lang").alias("l"))
            .select("source", "len_bucket", "k", "l",
                    (F.col("l") >= 3).alias("diverse")))


@query("privacy_t_closeness", oracle="""
WITH qid AS (
  SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket, lang
  FROM documents),
cell AS (
  SELECT source, len_bucket, lang, CAST(COUNT(*) AS BIGINT) AS n_gl
  FROM qid GROUP BY 1, 2, 3),
gl AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM qid GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qid),
kc AS (
  SELECT cell.*, n_l, n,
    SUM(n_gl) OVER (PARTITION BY cell.source, cell.len_bucket) AS k
  FROM cell JOIN gl USING (lang) CROSS JOIN tot)
SELECT source, len_bucket,
  CAST(MAX(k) AS BIGINT) AS k,
  CAST(floor((CAST(SUM(abs(n_gl * n - n_l * k)) + (MAX(n) - SUM(n_l)) * MAX(k) AS DOUBLE) / (2.0 * MAX(k) * MAX(n))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS t_closeness,
  (CAST(SUM(abs(n_gl * n - n_l * k))
        + (MAX(n) - SUM(n_l)) * MAX(k) AS DOUBLE)
   / (2.0 * MAX(k) * MAX(n))) <= 0.25 AS close
FROM kc GROUP BY source, len_bucket""")
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the release-privacy ladder
    (k-anonymity → l-diversity → t-closeness): within each
    quasi-identifier group (source, length-bucket), the total-variation
    distance between the group's sensitive-value (lang) distribution
    and the corpus-wide one.  A group can be large AND diverse yet
    still leak ("90% of THIS group is language X vs 10% globally");
    t <= 0.25 is the release bar here.

    Every distance stays in integers until one final division:
    TVD = [Σ_present |n_gl·n − n_l·k| + (n − Σ_present n_l)·k]
          / (2·k·n) — the second term folds in the langs ABSENT from
    the group (|0 − p_global| mass) without enumerating them.

    Scale: two hash aggregates bounded by the QI×lang domain, a
    broadcast join against the lang marginals (|langs| rows), and a
    1-row broadcast total — document bodies never move, and the window
    runs over QI-domain cells, not rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    qid = t["documents"].select(
        "source", F.expr("n_chars DIV 100").alias("len_bucket"),
        "lang")
    cell = (qid.groupBy("source", "len_bucket", "lang")
            .agg(F.count("*").alias("n_gl")))
    glob = qid.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = qid.agg(F.count("*").alias("n"))
    wq = Window.partitionBy("source", "len_bucket")
    kc = (cell.join(F.broadcast(glob), "lang")
          .crossJoin(F.broadcast(tot))
          .withColumn("k", F.sum("n_gl").over(wq)))
    tvd_num = (F.sum(F.abs(F.col("n_gl") * F.col("n")
                           - F.col("n_l") * F.col("k")))
               + (F.max("n") - F.sum("n_l")) * F.max("k"))
    tvd = tvd_num.cast("double") / (2.0 * F.max("k") * F.max("n"))
    return (kc.groupBy("source", "len_bucket")
            .agg(F.max("k").cast("long").alias("k"),
                 exact.snap_double_col(tvd, 9).alias("t_closeness"),
                 (tvd <= 0.25).alias("close")))


@query("quality_quantile_normalize", oracle="""
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM d),
ranked AS (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id) AS r,
    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM d),
pooled AS (
  SELECT n_chars AS calib,
    row_number() OVER (ORDER BY n_chars, doc_id) AS k
  FROM d)
SELECT ranked.doc_id, ranked.source, ranked.n_chars,
  CAST(ranked.r AS BIGINT) AS src_rank, pooled.calib
FROM ranked, tot
JOIN pooled
  ON pooled.k = ((2 * ranked.r - 1) * tot.big_n) // (2 * ranked.n_s) + 1""")
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization — cross-source score calibration: each
    document's WITHIN-SOURCE rank maps onto the pooled distribution's
    order statistic at the same quantile, so a global threshold then
    treats sources with different score scales fairly (the batch-effect
    correction a curation pipeline applies before one quality cutoff
    spans heterogeneous sources).  The rank→index mapping
    k = ⌊(2r−1)·N / 2n_s⌋ + 1 is pure BIGINT arithmetic — no float
    quantile interpolation to drift cross-engine — and both orderings
    tie-break on doc_id, so every row is deterministic.

    Scale: one per-source window, one pooled ranking run as the
    IMPLEMENTED two-level shard-rank (rank within 256 order-consistent
    n_chars shards + broadcast offsets,
    `operators/shuffle.py::two_level_row_number` — exact order
    statistics with no single-partition sort; the approx_percentile
    relaxation remains available when exactness can be traded), an
    integer-keyed equi join against the N-row order-statistic table,
    and a 1-row corpus-size broadcast."""
    from results_ingestor_spark.operators.shuffle import (
        two_level_row_number)
    t = load_tables(spark, sf_dir, ("documents",))
    # One metadata scan shared by the per-source window, the pooled
    # two-level ranking (both its branches), and the corpus count.
    # Scoped so repeated calls don't pin the blocks (ADVICE r5).
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    scope = CheckpointScope(spark)
    d = scope.checkpoint(
        t["documents"].select("doc_id", "source", "n_chars"))
    tot = d.agg(F.count("*").alias("big_n"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(ws).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n_s"))
    pooled = (two_level_row_number(
        d, F.col("n_chars"), ["n_chars", "doc_id"], out_col="k")
        .select(F.col("n_chars").alias("calib"), "k"))
    j = (ranked.crossJoin(F.broadcast(tot))
         .withColumn("k", F.expr("((2 * r - 1) * big_n) div (2 * n_s) + 1"))
         .join(pooled, "k"))
    out = j.select("doc_id", "source", "n_chars",
                   F.col("r").cast("long").alias("src_rank"), "calib")
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


# ── split-leakage audit ──────────────────────────────────────────────
# Composes the MinHash+LSH near-dup pipeline (plans/dedup_q.py) with
# the hash split rule above: near-duplicate pairs that CROSS a
# train/val/test boundary are leakage — the held-out metric silently
# becomes a memorization test.  Distinct from decontamination_filter
# (external eval sets); this audits the pipeline's OWN split.

def _split_leakage_oracle() -> str:
    from results_ingestor_spark.plans.dedup_q import _minhash_sql
    return f"""
WITH sigk AS ({_minhash_sql()}),
keyedk AS (
  SELECT doc_id, sh,
    unnest([band0, band1, band2, band3]) AS bkey,
    unnest([0, 1, 2, 3]) AS bidx
  FROM sigk),
candk AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM keyedk l JOIN keyedk r
    ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
verk AS (
  SELECT id_a, id_b, CAST(floor((j) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS j FROM (
    SELECT id_a, id_b,
      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
    FROM candk
    JOIN sigk a ON a.doc_id = id_a
    JOIN sigk b ON b.doc_id = id_b)
  WHERE j >= 0.5),
sp AS (
  SELECT doc_id,
    CASE WHEN {_DOC_HASH_SQL} % 100 < 80 THEN 'train'
         WHEN {_DOC_HASH_SQL} % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents),
lk AS (
  SELECT least(sa.split, sb.split) AS split_a,
    greatest(sa.split, sb.split) AS split_b,
    CASE WHEN sa.split <= sb.split THEN id_a ELSE id_b END AS doc_lo,
    CASE WHEN sa.split <= sb.split THEN id_b ELSE id_a END AS doc_hi,
    j
  FROM verk
  JOIN sp sa ON sa.doc_id = id_a
  JOIN sp sb ON sb.doc_id = id_b
  WHERE sa.split <> sb.split)
SELECT split_a, split_b,
  CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs,
  CAST(COUNT(DISTINCT doc_lo) AS BIGINT) AS n_docs_a,
  CAST(COUNT(DISTINCT doc_hi) AS BIGINT) AS n_docs_b,
  CAST(floor((MAX(j)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS max_jaccard
FROM lk GROUP BY split_a, split_b"""


@query("dedup_split_leakage", oracle=_split_leakage_oracle())
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: every VERIFIED near-duplicate pair
    (MinHash band candidates → exact Jaccard ≥ 0.5, the
    dedup_minhash_lsh pipeline) whose two documents land in DIFFERENT
    splits of the deterministic 80/10/10 hash split, rolled up per
    split-boundary with pair counts, distinct leaked docs on each side,
    and the worst Jaccard.  A non-empty report means dedup must run
    BEFORE splitting (or splits must be cluster-aware) — held-out
    numbers are otherwise inflated by memorized near-copies.  The
    split names in each pair are ordered lexicographically so a
    boundary appears exactly once.

    Scale: inherits the LSH budget (band-key equi-join, no all-pairs);
    split membership is a map-side hash expression joined by doc_id —
    the audit costs one extra broadcast-sized projection over the
    near-dup pair set."""
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
    ver = (pairs.join(a, "id_a").join(b, "id_b")
           .where(j >= 0.5)
           .select("id_a", "id_b", exact.snap_double_col(j, 9).alias("j")))
    h = F.expr(_DOC_HASH) % 100
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    sp = t["documents"].select("doc_id", split.alias("split"))
    sa = sp.select(F.col("doc_id").alias("id_a"),
                   F.col("split").alias("split_sa"))
    sb = sp.select(F.col("doc_id").alias("id_b"),
                   F.col("split").alias("split_sb"))
    lk = (ver.join(sa, "id_a").join(sb, "id_b")
          .where(F.col("split_sa") != F.col("split_sb"))
          .select(
              F.least("split_sa", "split_sb").alias("split_a"),
              F.greatest("split_sa", "split_sb").alias("split_b"),
              F.when(F.col("split_sa") <= F.col("split_sb"),
                     F.col("id_a")).otherwise(F.col("id_b"))
              .alias("doc_lo"),
              F.when(F.col("split_sa") <= F.col("split_sb"),
                     F.col("id_b")).otherwise(F.col("id_a"))
              .alias("doc_hi"),
              "j"))
    out = (lk.groupBy("split_a", "split_b")
           .agg(F.count("*").alias("n_leaked_pairs"),
                F.countDistinct("doc_lo").alias("n_docs_a"),
                F.countDistinct("doc_hi").alias("n_docs_b"),
                exact.snap_double_col(F.max("j"), 9).alias("max_jaccard")))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _cluster_split_oracle() -> str:
    from results_ingestor_spark.plans.dedup_q import _minhash_sql
    rep_hash = _DOC_HASH_SQL.replace("doc_id", "rep")
    return f"""
WITH RECURSIVE lshp AS (
  WITH sigs AS ({_minhash_sql()}),
  keyeds AS (
    SELECT doc_id, sh,
      unnest([band0, band1, band2, band3]) AS bkey,
      unnest([0, 1, 2, 3]) AS bidx
    FROM sigs),
  cands AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM keyeds l JOIN keyeds r
      ON l.bidx = r.bidx AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
  SELECT id_a, id_b
  FROM cands
  JOIN sigs a ON a.doc_id = id_a
  JOIN sigs b ON b.doc_id = id_b
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM lshp
          UNION SELECT id_b, id_a FROM lshp),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
reps AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
  FROM reach GROUP BY a),
asg AS (
  SELECT d.doc_id, d.lang, len({_TOKS}) AS n_tokens,
    coalesce(r.cluster_rep, d.doc_id) AS rep
  FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id),
hs AS (
  SELECT lang, n_tokens,
    {rep_hash} % 100 AS h_rep,
    {_DOC_HASH_SQL} % 100 AS h_self
  FROM asg),
cls AS (
  SELECT lang, n_tokens,
    CASE WHEN h_rep < 80 THEN 'train' WHEN h_rep < 90 THEN 'val'
         ELSE 'test' END AS split,
    CASE WHEN h_self < 80 THEN 'train' WHEN h_self < 90 THEN 'val'
         ELSE 'test' END AS self_split
  FROM hs)
SELECT lang, split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(count_if(split <> self_split) AS BIGINT) AS n_moved
FROM cls GROUP BY lang, split"""


@query("sampling_cluster_aware_split", oracle=_cluster_split_oracle())
def sampling_cluster_aware_split(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The FIX for dedup_split_leakage: split membership is decided by
    the hash of the document's near-dup CLUSTER REPRESENTATIVE (the
    dedup_clusters min-label components), not its own id — an entire
    cluster of near-copies lands in one split by construction, so no
    verified near-dup pair can ever cross a boundary.  Singletons hash
    on their own id, keeping the 80/10/10 proportions; the report
    mirrors sampling_stratified_split (per lang × split doc/token
    counts) and adds n_moved, the documents whose split changed versus
    the id-hash rule — the measured cost of leak-proofing.  The
    zero-leakage invariant is pinned in tests/test_dedup.py.

    Scale: adds the CC labeling (bounded label-propagation rounds over
    the verified-pair edge list) to the stratified-split cost; the
    split itself stays a map expression over (doc_id, rep)."""
    from results_ingestor_spark.operators.dedup import (
        checkpointed_sig, connected_components, jaccard,
        lsh_candidate_pairs, with_minhash)
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # r11: signature frame computed once (checkpointed_sig); released
    # once connected_components' own edge checkpoint cuts the lineage.
    sig, scope = checkpointed_sig(with_minhash(docs).select(
        "doc_id", "__sh", "band0", "band1", "band2", "band3"))
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("id_a"),
                   F.col("__sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("id_b"),
                   F.col("__sh").alias("sh_b"))
    verified = (pairs.join(a, "id_a").join(b, "id_b")
                .where(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
                .select("id_a", "id_b"))
    labeled = connected_components(verified, docs.select("doc_id"))
    scope.release_all_except()  # CC checkpointed the edges already
    asg = (docs.select("doc_id", "lang",
                       F.size(F.split("text", " ")).alias("n_tokens"))
           .join(labeled.withColumnRenamed("cluster_rep", "rep"), "doc_id"))
    h_rep = F.expr(_DOC_HASH.replace("doc_id", "rep")) % 100
    h_self = F.expr(_DOC_HASH) % 100
    as_split = (lambda h: F.when(h < 80, "train").when(h < 90, "val")
                .otherwise("test"))
    cls = asg.select(
        "lang", "n_tokens",
        as_split(h_rep).alias("split"),
        as_split(h_self).alias("self_split"))
    return carry_scope(cls.groupBy("lang", "split")
                       .agg(F.count("*").alias("n_docs"),
                            F.sum("n_tokens").alias("total_tokens"),
                            F.count_if(F.col("split") != F.col("self_split"))
                            .alias("n_moved")), labeled)


_BATCH = 32  # sequences per padded batch


@query("pack_batches_length_bucketed", oracle=f"""
WITH d AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
o1 AS (
  SELECT n_tokens,
    row_number() OVER (ORDER BY n_tokens, doc_id) AS rn
  FROM d),
b1 AS (
  SELECT (rn - 1) // {_BATCH} AS batch_id, COUNT(*) AS nb,
    MAX(n_tokens) AS mx, SUM(n_tokens) AS sm
  FROM o1 GROUP BY 1),
s1 AS (
  SELECT 'length_bucketed' AS strategy,
    CAST(COUNT(*) AS BIGINT) AS n_batches,
    CAST(SUM(nb) AS BIGINT) AS n_docs,
    CAST(SUM(sm) AS BIGINT) AS real_tokens,
    CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens
  FROM b1),
o2 AS (
  SELECT n_tokens,
    row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM d),
b2 AS (
  SELECT (rn - 1) // {_BATCH} AS batch_id, COUNT(*) AS nb,
    MAX(n_tokens) AS mx, SUM(n_tokens) AS sm
  FROM o2 GROUP BY 1),
s2 AS (
  SELECT 'shuffled' AS strategy,
    CAST(COUNT(*) AS BIGINT) AS n_batches,
    CAST(SUM(nb) AS BIGINT) AS n_docs,
    CAST(SUM(sm) AS BIGINT) AS real_tokens,
    CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens
  FROM b2)
SELECT strategy, n_batches, n_docs, real_tokens, padded_tokens,
  CAST(floor((CAST(padded_tokens - real_tokens AS DOUBLE) / padded_tokens) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS waste_pct
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)""")
def pack_batches_length_bucketed(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Padded-batch construction accounting: group sequences into
    32-doc batches and charge each batch n_docs × max_len padded
    tokens (every sequence pads to its batch's longest).  Two
    strategies compared in one report: LENGTH-BUCKETED (sort by
    length, so batch members have near-equal lengths — the
    bucketed-batching trick every trainer/inference server uses) vs
    SHUFFLED (md5 order — the naive random batching baseline).  The
    waste_pct gap between the rows IS the measured GPU-hours saving
    of bucketing; all token accounting is exact BIGINT with one
    terminal division.  Complements pack_sequences_* (those
    concatenate into a fixed budget; this pads to the batch max —
    the two deployment shapes for batched sequence compute).

    Scale: lengths are one narrow map; each strategy is a sort +
    fixed-size grouping.  The global row_number runs as the IMPLEMENTED
    two-level shard-rank: rows rank within 256 order-consistent shards
    and broadcast shard offsets reconstruct the exact global position
    (`operators/shuffle.py::two_level_row_number`, the
    corpus_global_shuffle technique) — no window ever sees more than
    ~1/256 of the corpus; the summary is a 5-number fold per
    strategy."""
    from results_ingestor_spark.operators.shuffle import (
        two_level_row_number)
    t = load_tables(spark, sf_dir, ("documents",))
    # Materialize the 2-long-per-doc length frame ONCE: the two-level
    # rank's shard/count branches would otherwise each re-derive
    # n_tokens from the TEXT column — three full text scans instead of
    # one at corpus scale.  (graph_q's iteration convention.)  Scoped
    # so repeated calls don't pin the blocks (ADVICE r5).
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    scope = CheckpointScope(spark)
    d = scope.checkpoint(t["documents"].select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")))

    def batched(shard_key, order_cols: list, name: str,
                static_shard=None) -> DataFrame:
        o = (two_level_row_number(d.withColumn("__k", order_cols[0]),
                                  shard_key, ["__k", "doc_id"],
                                  out_col="__rn", static_shard=static_shard)
             .select("n_tokens",
                     F.expr(f"(__rn - 1) DIV {_BATCH}").alias("batch_id")))
        b = (o.groupBy("batch_id")
             .agg(F.count("*").alias("nb"),
                  F.max("n_tokens").alias("mx"),
                  F.sum("n_tokens").alias("sm")))
        return b.agg(
            F.lit(name).alias("strategy"),
            F.count("*").alias("n_batches"),
            F.sum("nb").alias("n_docs"),
            F.sum("sm").alias("real_tokens"),
            F.sum(F.col("nb") * F.col("mx")).alias("padded_tokens"))

    s1 = batched(F.col("n_tokens"),
                 [F.col("n_tokens"), F.col("doc_id")], "length_bucketed")
    # md5 keys are uniform hex: the first byte IS an order-consistent
    # 256-way shard, so no min/max range scan is needed
    s2 = batched(None,
                 [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
                 "shuffled",
                 static_shard=F.conv(F.substring("__k", 1, 2), 16, 10))
    u = s1.unionByName(s2)
    out = u.select(
        "strategy", "n_batches", "n_docs", "real_tokens", "padded_tokens",
        exact.snap_double_col((F.col("padded_tokens") - F.col("real_tokens")) .cast("double") / F.col("padded_tokens"), 9)
        .alias("waste_pct"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("pipeline_stage_attrition", oracle=f"""
WITH base AS (
  SELECT doc_id, source, text, n_chars, len({_TOKS}) AS n_tokens
  FROM documents),
ing AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_ingested,
    CAST(count_if(n_chars < 100) AS BIGINT) AS n_fail_chars,
    CAST(count_if(n_chars >= 100 AND n_tokens < 20) AS BIGINT)
      AS n_fail_tokens
  FROM base GROUP BY source),
q AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM base WHERE n_chars >= 100 AND n_tokens >= 20),
dd AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_quality_pass,
    CAST(count_if(rn > 1) AS BIGINT) AS n_dup_dropped
  FROM q GROUP BY source)
SELECT ing.source, n_ingested, n_fail_chars, n_fail_tokens,
  n_quality_pass, n_dup_dropped,
  n_quality_pass - n_dup_dropped AS n_curated,
  CAST(floor((CAST(n_quality_pass - n_dup_dropped AS DOUBLE) / n_ingested) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS yield_pct
FROM ing JOIN dd ON ing.source = dd.source""")
def pipeline_stage_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel observability: per SOURCE, how many documents
    each stage of the pipeline_curate_end_to_end gate chain drops —
    first-failing-gate attribution for the quality rules (chars floor,
    then token floor), keep-first exact-dedup losses (attributed to
    the source of the DROPPED copy; dedup is global, so a mirror feed
    shows up here as a high n_dup_dropped), surviving doc count, and
    end-to-end yield.  The report a pipeline operator reads when a
    source's contribution collapses: WHERE the docs died, not just
    that they did.

    Scale: one scan feeding two source-keyed aggregates (the dedup
    rank is a key-partitioned window on the content hash, the same
    shuffle the dedup stage itself pays); the join is dim-sized."""
    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select(
        "doc_id", "source", "text", "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"))
    ing = base.groupBy("source").agg(
        F.count("*").alias("n_ingested"),
        F.count_if(F.col("n_chars") < 100).alias("n_fail_chars"),
        F.count_if((F.col("n_chars") >= 100) & (F.col("n_tokens") < 20))
        .alias("n_fail_tokens"))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    q = (base.where((F.col("n_chars") >= 100) & (F.col("n_tokens") >= 20))
         .select("source", F.row_number().over(w).alias("rn")))
    dd = q.groupBy("source").agg(
        F.count("*").alias("n_quality_pass"),
        F.count_if(F.col("rn") > 1).alias("n_dup_dropped"))
    cur = F.col("n_quality_pass") - F.col("n_dup_dropped")
    return (ing.join(dd, "source")
            .select("source", "n_ingested", "n_fail_chars",
                    "n_fail_tokens", "n_quality_pass", "n_dup_dropped",
                    cur.alias("n_curated"),
                    exact.snap_double_col(cur.cast("double") / F.col("n_ingested"), 9)
                    .alias("yield_pct")))


@query("privacy_dp_noisy_counts", oracle="""
WITH grp AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
draw AS (
  SELECT lang, source, n,
    (2 * ('0x' || substr(md5('dp1:' || lang || ':' || source), 1, 13))
           ::BIGINT + 1) / 9007199254740992.0 AS u
  FROM grp)
SELECT lang, source,
  CAST(floor((n - CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END * ln(1.0 - 2.0 * abs(u - 0.5))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS noisy_count
FROM draw ORDER BY lang, source""")
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epsilon-differentially-private release of the per-(lang, source)
    document counts via the Laplace mechanism (Dwork et al. 2006):
    each cell adds Laplace(b = sensitivity/epsilon) noise with
    sensitivity 1 (one document lands in exactly one cell) and
    epsilon = 1.  The draw is the inverse-CDF transform
    x = -b*sign(u-.5)*ln(1-2|u-.5|) of a uniform derived from
    md5(cell key), so the mechanism is replayable: u = (2h+1)/2^53
    with h the first 13 hex chars (52 bits) — exactly representable,
    never 0 or 1, so ln() stays finite.  A real release would use a
    fresh seed per publication; the deterministic seed here is what
    makes the gate value-checkable.

    Scale: one hash aggregate on the (lang, source) cell tuple
    (map-side combine; output bounded by the domain, not the corpus)
    and a map-only noise expression — bodies never move, and the
    mechanism adds zero shuffles."""
    t = load_tables(spark, sf_dir, ("documents",))
    grp = (t["documents"].groupBy("lang", "source")
           .agg(F.count("*").alias("n")))
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit("dp1"), F.col("lang"),
                          F.col("source"))), 1, 13), 16, 10).cast("bigint")
    u = (2 * h + 1) / F.lit(float(1 << 53))
    noise = (F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
             * F.log(1.0 - 2.0 * F.abs(u - 0.5)))
    return (grp.select("lang", "source",
                       exact.snap_double_col(F.col("n") - noise, 6).alias("noisy_count"))
            .orderBy("lang", "source"))


@query("privacy_dp_median_expmech", oracle=f"""
WITH v AS (
  SELECT {exact.cents('value')} AS val_cents,
    CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
cum AS (
  SELECT val_cents,
    SUM(c) OVER (ORDER BY val_cents ROWS UNBOUNDED PRECEDING) AS cum
  FROM v),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM v),
scored AS (
  SELECT val_cents, cum, nn,
    CAST(floor((-abs(2 * cum - nn) * 0.25 + (-ln(-ln((2 * ('0x' || substr(md5('dpq:' || CAST(val_cents AS VARCHAR)), 1, 13))::BIGINT + 1) / 9007199254740992.0)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS score
  FROM cum CROSS JOIN tot),
pick AS (
  SELECT val_cents AS dp_median_cents, abs(2 * cum - nn) AS rank_offset_x2
  FROM scored ORDER BY score DESC, val_cents LIMIT 1),
truth AS (
  SELECT MIN(val_cents) AS true_median_cents FROM cum CROSS JOIN tot
  WHERE 2 * cum >= nn)
SELECT tot.nn AS n, truth.true_median_cents, pick.dp_median_cents,
  CAST(pick.rank_offset_x2 AS BIGINT) AS rank_offset_x2
FROM tot CROSS JOIN truth CROSS JOIN pick""")
def privacy_dp_median_expmech(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epsilon-differentially-private median of the event values via
    the EXPONENTIAL MECHANISM (McSherry & Talwar 2007) — the selection
    sibling of the Laplace entry: candidates are the distinct values,
    utility u(c) = −|2·rank(c) − n| (sensitivity 2), and the draw uses
    the Gumbel-max trick — argmax of ε·u/(2Δu) + Gumbel noise IS an
    exponential-mechanism sample.  The Gumbel comes from the same
    replayable md5 inverse-CDF device as the Laplace entry, so the
    whole mechanism is value-checked; selection happens on the
    9-dp-rounded score with value tie-breaks.  Reported beside the
    exact median and the chosen candidate's doubled rank offset so the
    privacy/accuracy trade is visible.  Candidates are IEEE-exact
    integer cents (r8 DECWIRE rule — the r7 version selected and
    emitted CAST(value AS DECIMAL(12,2)), a data double→DECIMAL cast
    on a compared, SELECTED value; the seed string is now the cents
    BIGINT rendered by both engines identically).

    Scale: ranks live on the distinct-value layer (MWU contract); the
    mechanism is one map expression + one TakeOrdered(1)."""
    from pyspark.sql import Window as W
    t = load_tables(spark, sf_dir, ("events",))
    v = (t["events"]
         .groupBy(F.expr(exact.cents("value")).alias("val_cents"))
         .agg(F.count("*").cast("long").alias("c")))
    w = W.orderBy("val_cents").rowsBetween(W.unboundedPreceding, 0)
    cum = v.select("val_cents", F.sum("c").over(w).alias("cum"))
    tot = v.agg(F.sum("c").cast("long").alias("nn"))
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("dpq:"), F.col("val_cents").cast("string"))),
        1, 13), 16, 10).cast("bigint")
    u01 = (2 * h + 1) / F.lit(float(1 << 53))
    score = exact.snap_double_col(-F.abs(2 * F.col("cum") - F.col("nn")) * 0.25 + (-F.log(-F.log(u01))), 9)
    scored = (cum.crossJoin(F.broadcast(tot))
              .select("val_cents", "cum", "nn", score.alias("score")))
    pick = (scored.orderBy(F.desc("score"), F.asc("val_cents")).limit(1)
            .select(F.col("val_cents").alias("dp_median_cents"),
                    F.abs(2 * F.col("cum") - F.col("nn"))
                    .cast("long").alias("rank_offset_x2")))
    truth = (cum.crossJoin(F.broadcast(tot))
             .where(2 * F.col("cum") >= F.col("nn"))
             .agg(F.min("val_cents").alias("true_median_cents")))
    return (tot.select(F.col("nn").alias("n"))
            .crossJoin(F.broadcast(truth))
            .crossJoin(F.broadcast(pick)))


@query("privacy_randomized_response", oracle="""
WITH u AS (
  SELECT DISTINCT user_id FROM events),
truth AS (
  SELECT u.user_id,
    CASE WHEN EXISTS (SELECT 1 FROM events e
                      WHERE e.user_id = u.user_id
                        AND e.event_type = 'purchase')
         THEN 1 ELSE 0 END AS y
  FROM u),
rr AS (
  SELECT user_id, y,
    ('0x' || substr(md5('rr:' || user_id), 1, 15))::BIGINT % 4 AS coin
  FROM truth),
rep AS (
  SELECT user_id,
    CASE WHEN coin < 2 THEN y WHEN coin = 2 THEN 1 ELSE 0 END AS reported
  FROM rr),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(reported) AS BIGINT) AS n_yes,
    (SELECT CAST(SUM(y) AS BIGINT) FROM truth) AS n_true
  FROM rep)
SELECT n, n_yes, n_true,
  CAST(floor((CAST(n_true AS DOUBLE) / n) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS true_rate,
  CAST(floor(((2.0 * n_yes / n) - 0.5) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS estimated_rate
FROM c""")
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized response — LOCAL differential privacy, the
    client-side sibling of the central-DP Laplace/exponential entries:
    each user answers "did you purchase?" truthfully with probability
    1/2, else answers a fixed yes/no coin (ε = ln 3 per response).
    The debiased estimator 2·p̂_yes − 1/2 recovers the population rate
    without any row revealing its truth.  Both coins come from one
    md5 draw mod 4, so the mechanism — noise included — is
    value-checked, and the estimate sits beside the true rate so the
    privacy/accuracy trade is visible.

    Scale: one user-keyed semi-aggregate for truth, a map-only
    response stage, and a 1-row census."""
    from results_ingestor_spark.functions.hashing import md5_long
    t = load_tables(spark, sf_dir, ("events",))
    truth = (t["events"]
             .groupBy("user_id")
             .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("y")))
    coin = md5_long(F.col("user_id").cast("string"), seed="rr:") % 4
    rep = truth.select(
        "y",
        F.when(coin < 2, F.col("y"))
        .when(coin == 2, F.lit(1)).otherwise(F.lit(0)).alias("reported"))
    return (rep.agg(F.count("*").cast("long").alias("n"),
                    F.sum("reported").cast("long").alias("n_yes"),
                    F.sum("y").cast("long").alias("n_true"))
            .select("n", "n_yes", "n_true",
                    exact.snap_double_col(F.col("n_true").cast("double") / F.col("n"), 9)
                    .alias("true_rate"),
                    exact.snap_double_col(2.0 * F.col("n_yes") / F.col("n") - 0.5, 9)
                    .alias("estimated_rate")))


@query("sampling_neyman_allocation", oracle=f"""
WITH g AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS nh,
    CAST(SUM({exact.cents('value')}) AS BIGINT) AS s,
    CAST(SUM({exact.cents('value')} * {exact.cents('value')}) AS BIGINT) AS q
  FROM events GROUP BY event_type),
sd AS (
  SELECT event_type, nh,
    sqrt((CAST(q AS DOUBLE) / 10000.0 - CAST(s AS DOUBLE) / 100.0 * (CAST(s AS DOUBLE) / 100.0) / nh) / (nh - 1))
      AS sh
  FROM g),
w AS (
  SELECT event_type, nh, CAST(floor((sh) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sh,
    nh * CAST(floor((sh) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS wt,
    SUM(nh * CAST(floor((sh) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)) OVER () AS wtot
  FROM sd)
SELECT event_type, nh AS stratum_size, sh AS stratum_sd,
  CAST(floor((wt / wtot) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS alloc_share,
  CAST(floor(1000 * wt / wtot) AS BIGINT) AS n_sampled_of_1000
FROM w ORDER BY event_type""")
def sampling_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for a stratified sample of 1000 rows:
    each stratum (event type) receives budget ∝ Nₕ·Sₕ — the allocation
    minimizing the variance of the stratified mean, the design step
    survey sampling runs before `sampling_stratified_split` draws
    anything.  Strata moments are exact BIGINT cents / cents² (r11
    DECCAST migration); the standard deviation is snapped to 9 dp
    BEFORE the weight products so the share arithmetic is identical
    in both engines, and the m-row share window runs over the stratum
    domain.

    Scale: one hash aggregation to the k-row stratum table; the
    allocation is k-row arithmetic."""
    t = load_tables(spark, sf_dir, ("events",))
    vc = F.expr(exact.cents("value"))
    g = t["events"].groupBy("event_type").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum(vc).cast("long").alias("s"),
        F.sum(vc * vc).cast("long").alias("q"))
    sd_ = F.col("s").cast("double") / 100.0
    qd_ = F.col("q").cast("double") / 10000.0
    sh = exact.snap_double_col(
        F.sqrt((qd_ - sd_ * sd_ / F.col("nh")) / (F.col("nh") - 1)), 9)
    w = g.select("event_type", "nh", sh.alias("sh"),
                 (F.col("nh") * sh).alias("wt"))
    w = w.withColumn("wtot", F.sum("wt").over(Window.partitionBy()))
    return (w.select("event_type",
                     F.col("nh").alias("stratum_size"),
                     F.col("sh").alias("stratum_sd"),
                     exact.snap_double_col(F.col("wt") / F.col("wtot"), 9)
                     .alias("alloc_share"),
                     F.floor(1000 * F.col("wt") / F.col("wtot"))
                     .cast("long").alias("n_sampled_of_1000"))
            .orderBy("event_type"))


_COMPACT_SHARDS = 64


@query("layout_compaction_bins", oracle=f"""
WITH s AS (
  SELECT {_DOC_HASH_SQL} % {_COMPACT_SHARDS} AS shard,
    CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1),
tgt AS (SELECT CAST(4 * MAX(bytes) AS BIGINT) AS tgt FROM s),
b AS (
  SELECT shard, bytes,
    CAST(coalesce(SUM(bytes) OVER (ORDER BY shard
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM s),
a AS (
  SELECT shard, bytes, CAST(cum_before // tgt AS BIGINT) AS bin
  FROM b CROSS JOIN tgt)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_shards,
  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
  string_agg(CAST(shard AS VARCHAR), '|' ORDER BY shard) AS shards
FROM a GROUP BY bin ORDER BY bin""")
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the lakehouse OPTIMIZE step):
    group the 64 hash-shards of the documents table into write bins of
    roughly 4x-the-largest-shard bytes by running-sum assignment —
    shards are walked in key order and a new bin starts whenever the
    cumulative size crosses a target multiple, so each bin's inputs are
    contiguous in shard order (preserving any at-rest clustering) and
    every bin lands near the target size.  Emits the compaction
    manifest: bin id, member shards, byte totals.

    Shape: one 64-row aggregate (shard -> bytes), a 1-row broadcast for
    the target, and a prefix-sum window over the BOUNDED shard domain —
    64 rows whatever the corpus size, the pack_sequences_cumsum
    contract, so the global window is not a scale hazard.  All
    arithmetic is exact BIGINT (integer division for bin ids), so both
    engines assign identical bins."""
    t = load_tables(spark, sf_dir, ("documents",))
    s = (t["documents"]
         .select((F.expr(_DOC_HASH) % _COMPACT_SHARDS).alias("shard"),
                 "n_chars")
         .groupBy("shard")
         .agg(F.sum("n_chars").cast("long").alias("bytes")))
    tgt = s.agg((4 * F.max("bytes")).cast("long").alias("tgt"))
    w = (Window.orderBy("shard")
         .rowsBetween(Window.unboundedPreceding, -1))
    b = s.select("shard", "bytes",
                 F.coalesce(F.sum("bytes").over(w), F.lit(0))
                 .cast("long").alias("cum_before"))
    a = (b.crossJoin(F.broadcast(tgt))
         .select("shard", "bytes",
                 F.expr("CAST(cum_before DIV tgt AS BIGINT)").alias("bin")))
    return (a.groupBy("bin")
            .agg(F.count("*").cast("long").alias("n_shards"),
                 F.sum("bytes").cast("long").alias("total_bytes"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list("shard")),
                                 lambda x: x.cast("string")), "|")
                 .alias("shards"))
            .orderBy("bin"))


_PSEUDO_SPACE = 65536  # 16-bit pseudonym space


@query("privacy_pseudonym_collisions", oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
p AS (
  SELECT ('0x' || substr(md5('pseudo:' || user_id::VARCHAR), 1, 15))::BIGINT
           % {_PSEUDO_SPACE} AS pseudonym
  FROM u),
b AS (SELECT pseudonym, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM p GROUP BY pseudonym),
s AS (
  SELECT CAST(SUM(n_users) AS BIGINT) AS n_users,
    CAST(COUNT(*) AS BIGINT) AS n_pseudonyms,
    CAST(COUNT(*) FILTER (WHERE n_users >= 2) AS BIGINT) AS n_collided,
    CAST(SUM(n_users) FILTER (WHERE n_users >= 2) AS BIGINT)
      AS n_users_in_collisions,
    CAST(MAX(n_users) AS BIGINT) AS max_bucket
  FROM b)
SELECT n_users, CAST({_PSEUDO_SPACE} AS BIGINT) AS space_size,
  n_pseudonyms, n_collided,
  coalesce(n_users_in_collisions, 0) AS n_users_in_collisions, max_bucket,
  CAST(floor(({_PSEUDO_SPACE} * (1 - pow(1 - 1.0 / {_PSEUDO_SPACE}, n_users))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS expected_pseudonyms,
  CAST(floor((CAST(n_users - n_pseudonyms AS DOUBLE) / n_users) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS collision_loss_rate
FROM s""")
def privacy_pseudonym_collisions(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Pseudonymization collision audit: hash every distinct user into
    a 16-bit pseudonym space (the salted-hash tokenization a privacy
    pipeline applies before sharing event data) and census the birthday
    collisions — how many pseudonyms carry >= 2 real users, the worst
    bucket, and the loss rate (collided users become indistinguishable,
    which is GOOD for privacy but corrupts per-user analytics).  The
    observed distinct-pseudonym count is compared with the uniform-
    hashing expectation S(1 − (1−1/S)^u), so a skewed salt or broken
    hash shows up as a gap between the two columns.

    Determinism: the pseudonym is the same md5-derived integer in both
    engines (seeded 'pseudo:'), all counts are exact BIGINT, and the
    one transcendental (pow) is rounded to 6 dp.  Shape: distinct
    users, one map-side hash, a pseudonym-keyed count — the space is
    65,536 buckets so the second aggregate is bounded; at 100 TB the
    pseudonym space widens (48-64 bits) and this audit is the check
    that the chosen width keeps collision_loss_rate ~0."""
    t = load_tables(spark, sf_dir, ("events",))
    pseudo = (F.conv(F.substring(
        F.md5(F.concat(F.lit("pseudo:"), F.col("user_id").cast("string"))),
        1, 15), 16, 10).cast("bigint") % _PSEUDO_SPACE)
    b = (t["events"].select("user_id").distinct()
         .select(pseudo.alias("pseudonym"))
         .groupBy("pseudonym")
         .agg(F.count("*").cast("long").alias("n_users")))
    ge2 = F.col("n_users") >= 2
    s = b.agg(F.sum("n_users").cast("long").alias("n_users"),
              F.count("*").cast("long").alias("n_pseudonyms"),
              F.sum(ge2.cast("long")).cast("long").alias("n_collided"),
              F.sum(F.when(ge2, F.col("n_users"))).cast("long")
               .alias("n_users_in_collisions"),
              F.max("n_users").cast("long").alias("max_bucket"))
    space = float(_PSEUDO_SPACE)
    return s.select(
        "n_users", F.lit(_PSEUDO_SPACE).cast("long").alias("space_size"),
        "n_pseudonyms", "n_collided",
        F.coalesce("n_users_in_collisions", F.lit(0))
         .alias("n_users_in_collisions"),
        "max_bucket",
        exact.snap_double_col(space * (1 - F.pow(F.lit(1 - 1.0 / space), F.col("n_users"))), 6)
         .alias("expected_pseudonyms"),
        exact.snap_double_col((F.col("n_users") - F.col("n_pseudonyms")).cast("double") / F.col("n_users"), 9).alias("collision_loss_rate"))


_PRUNE_GROUPS = 32
_PRUNE_LO, _PRUNE_HI = 40, 60  # point-lookup band on n_chars


@query("layout_pruning_effectiveness", oracle=f"""
WITH b AS (SELECT CAST(MIN(n_chars) AS BIGINT) AS lo,
                  CAST(MAX(n_chars) AS BIGINT) AS hi
           FROM documents),
g AS (
  SELECT 'hash_layout' AS layout,
    {_DOC_HASH_SQL} % {_PRUNE_GROUPS} AS grp, n_chars
  FROM documents
  UNION ALL
  SELECT 'clustered_layout' AS layout,
    CAST(least(({_PRUNE_GROUPS} * (n_chars - lo)) // (hi - lo + 1),
               {_PRUNE_GROUPS - 1}) AS BIGINT) AS grp, n_chars
  FROM documents CROSS JOIN b),
mm AS (
  SELECT layout, grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(MIN(n_chars) AS BIGINT) AS mn, CAST(MAX(n_chars) AS BIGINT) AS mx
  FROM g GROUP BY layout, grp)
SELECT layout,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(COUNT(*) FILTER (WHERE mx >= {_PRUNE_LO} AND mn <= {_PRUNE_HI})
       AS BIGINT) AS n_groups_scanned,
  CAST(SUM(n_rows) FILTER (WHERE mx >= {_PRUNE_LO} AND mn <= {_PRUNE_HI})
       AS BIGINT) AS n_rows_scanned,
  CAST(SUM(n_rows) AS BIGINT) AS n_rows_total,
  CAST(floor((CAST(COUNT(*) FILTER (WHERE mx >= {_PRUNE_LO} AND mn <= {_PRUNE_HI}) AS DOUBLE) / COUNT(*)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS scan_fraction
FROM mm GROUP BY layout ORDER BY layout""")
def layout_pruning_effectiveness(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Row-group pruning simulator — the at-rest-layout decision tool:
    assign every document to one of 32 simulated row groups under two
    layouts (hash-sharded ingest order vs clustered by the filter key
    n_chars), compute each group's min/max footer statistics, and
    report how many groups a point-band predicate
    (n_chars in [40, 60]) must scan under each.  A hash layout
    leaves every group's [min,max] spanning the domain (scan_fraction
    ~1.0); the clustered layout confines the band to ~the groups that
    actually hold it — the measured argument for write-time sorting
    (zorder_cluster_key's single-key special case) before a 100 TB
    corpus lands on disk.

    Determinism: group ids are exact integer arithmetic (the clustered
    bin uses BIGINT scaled division over the corpus [lo, hi] from a
    1-row broadcast), min/max/count are exact, one double division.
    Shape: two map-side group assignments off one scan, a 64-row
    (layout, grp) aggregate, then a 2-row rollup — footer-statistics
    volume, never data volume, crosses the shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    b = d.agg(F.min("n_chars").cast("long").alias("lo"),
              F.max("n_chars").cast("long").alias("hi"))
    hash_g = d.select(
        F.lit("hash_layout").alias("layout"),
        (F.expr(_DOC_HASH) % _PRUNE_GROUPS).alias("grp"), "n_chars")
    clus_g = (d.crossJoin(F.broadcast(b))
              .select(F.lit("clustered_layout").alias("layout"),
                      F.least(
                          F.expr(f"CAST(({_PRUNE_GROUPS} * (n_chars - lo))"
                                 " DIV (hi - lo + 1) AS BIGINT)"),
                          F.lit(_PRUNE_GROUPS - 1).cast("long"))
                      .alias("grp"),
                      "n_chars"))
    mm = (hash_g.unionByName(clus_g)
          .groupBy("layout", "grp")
          .agg(F.count("*").cast("long").alias("n_rows"),
               F.min("n_chars").cast("long").alias("mn"),
               F.max("n_chars").cast("long").alias("mx")))
    hit = (F.col("mx") >= _PRUNE_LO) & (F.col("mn") <= _PRUNE_HI)
    return (mm.groupBy("layout")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum(hit.cast("long")).cast("long")
                  .alias("n_groups_scanned"),
                 F.sum(F.when(hit, F.col("n_rows"))).cast("long")
                  .alias("n_rows_scanned"),
                 F.sum("n_rows").cast("long").alias("n_rows_total"))
            .select("layout", "n_groups", "n_groups_scanned",
                    "n_rows_scanned", "n_rows_total",
                    exact.snap_double_col(F.col("n_groups_scanned").cast("double") / F.col("n_groups"), 9).alias("scan_fraction"))
            .orderBy("layout"))


def _dict_est_sql() -> str:
    per_col = []
    for col in ("lang", "source", "text"):
        per_col.append(f"""
  SELECT '{col}' AS col, CAST(COUNT(*) AS BIGINT) AS n_distinct,
    CAST(SUM(n) AS BIGINT) AS n_rows,
    CAST(SUM(len) AS BIGINT) AS dict_page_bytes,
    CAST(SUM(n * len) AS BIGINT) AS plain_bytes
  FROM (SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(length({col}) AS BIGINT) AS len
        FROM documents GROUP BY {col})""")
    return f"""
WITH s AS ({" UNION ALL ".join(per_col)}),
w AS (
  SELECT *, CASE WHEN n_distinct <= 256 THEN 1
                 WHEN n_distinct <= 65536 THEN 2
                 WHEN n_distinct <= 16777216 THEN 3 ELSE 4 END AS code_w
  FROM s)
SELECT col, n_rows, n_distinct, plain_bytes,
  dict_page_bytes + n_rows * code_w AS dict_bytes,
  CAST(floor((1.0 - CAST(dict_page_bytes + n_rows * code_w AS DOUBLE)
        / plain_bytes) * 1000000000.0 + 0.5) AS BIGINT)
    / CAST(1000000000.0 AS DOUBLE) AS saving_ratio,
  dict_page_bytes + n_rows * code_w < plain_bytes AS recommend_dict
FROM w ORDER BY col"""


@query("layout_dict_encoding_estimate", oracle=_dict_est_sql())
def layout_dict_encoding_estimate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Dictionary-encoding benefit estimator — the column-layout
    decision a lakehouse makes at write time: for each string column,
    exact cardinality and byte totals give the dictionary page size
    (Σ len over DISTINCT values) plus n_rows × code-width (1/2/3/4
    bytes by cardinality), compared against plain encoding (Σ len over
    all rows).  Low-cardinality columns (lang, source) should show
    ~99% savings; the unique-ish text column should come back
    recommend_dict = false — writing it dictionary-encoded would GROW
    the file, the mistake this report exists to prevent.

    Exact BIGINT byte accounting end-to-end, one double division per
    column.  Shape: one value-keyed aggregate per column (the exact-
    dedup shuffle class — (value-hash, count) at scale, with the text
    column's values replaced by xxhash64+length pairs since only
    lengths and cardinality are needed, never bodies) feeding a 1-row
    reduce each; three tiny rows union."""
    t = load_tables(spark, sf_dir, ("documents",))
    outs = []
    for col in ("lang", "source", "text"):
        per_val = (t["documents"]
                   .groupBy(F.col(col).alias("v"))
                   .agg(F.count("*").cast("long").alias("n"))
                   .select("n", F.length("v").cast("long").alias("len")))
        outs.append(per_val.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum("len").cast("long").alias("dict_page_bytes"),
            F.sum(F.col("n") * F.col("len")).cast("long")
             .alias("plain_bytes")))
    s = outs[0].unionByName(outs[1]).unionByName(outs[2])
    code_w = (F.when(F.col("n_distinct") <= 256, 1)
              .when(F.col("n_distinct") <= 65536, 2)
              .when(F.col("n_distinct") <= 16777216, 3)
              .otherwise(4)).cast("long")
    dict_bytes = F.col("dict_page_bytes") + F.col("n_rows") * code_w
    return (s.select("col", "n_rows", "n_distinct", "plain_bytes",
                     dict_bytes.alias("dict_bytes"),
                     exact.snap_double_col(1.0 - dict_bytes.cast("double") / F.col("plain_bytes"), 9)
                     .alias("saving_ratio"),
                     (dict_bytes < F.col("plain_bytes"))
                     .alias("recommend_dict"))
            .orderBy("col"))


@query("privacy_generalization_ladder", oracle="""
WITH qid AS (
  SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket
  FROM documents),
grp AS (
  SELECT
    CASE WHEN GROUPING(lang) = 1 THEN 'L3:none'
         WHEN GROUPING(len_bucket) = 1 THEN 'L2:lang'
         WHEN GROUPING(source) = 1 THEN 'L1:lang+len'
         ELSE 'L0:lang+source+len' END AS level,
    CAST(COUNT(*) AS BIGINT) AS k
  FROM qid
  GROUP BY GROUPING SETS ((lang, source, len_bucket),
                          (lang, len_bucket), (lang), ())
)
SELECT level,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(MIN(k) AS BIGINT) AS min_k,
  CAST(count_if(k < 5) AS BIGINT) AS n_groups_below_5,
  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
    AS n_docs_below_5,
  MIN(k) >= 5 AS satisfies_k5
FROM grp GROUP BY level ORDER BY level""")
def privacy_generalization_ladder(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: evaluate ALL coarsening
    levels of the QI tuple in ONE pass — full (lang, source,
    length-bucket), drop source, drop the length bucket, full
    suppression — and report each level's min k and sub-k=5 exposure.
    This is the decision table behind the k-anonymity audit
    (privacy_k_anonymity): instead of re-running the census per
    candidate generalization, a single GROUPING SETS aggregate yields
    the whole lattice path, and the release pipeline picks the least
    coarse level with satisfies_k5 = true.

    Determinism: levels are labeled from per-column GROUPING() bits
    (0/1 semantics identical in both engines — never the packed
    grouping id, whose bit order is engine-defined); counts exact.
    Shape: one grouping-sets hash aggregate (each input row feeds 4
    cells map-side) over the QI columns only + a 4-row rollup — the
    k_anonymity budget ×4, still bounded by the QI domain."""
    t = load_tables(spark, sf_dir, ("documents",))
    qid = t["documents"].select(
        "lang", "source",
        F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("len_bucket"))
    level = (F.when(F.grouping("lang") == 1, "L3:none")
             .when(F.grouping("len_bucket") == 1, "L2:lang")
             .when(F.grouping("source") == 1, "L1:lang+len")
             .otherwise("L0:lang+source+len"))
    grp = (qid.groupingSets(
               [["lang", "source", "len_bucket"],
                ["lang", "len_bucket"], ["lang"], []],
               "lang", "source", "len_bucket")
           .agg(level.alias("level"), F.count("*").alias("k")))
    return (grp.groupBy("level")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.min("k").cast("long").alias("min_k"),
                 F.count_if(F.col("k") < 5).cast("long")
                  .alias("n_groups_below_5"),
                 F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
                  .cast("long").alias("n_docs_below_5"),
                 (F.min("k") >= 5).alias("satisfies_k5"))
            .orderBy("level"))


_CKSUM_MOD = (1 << 61) - 1  # Mersenne prime: wrap-free BIGINT modular sum
_CKSUM_TABLES = {
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
}


def _cksum_sql() -> str:
    legs = []
    for tbl, cols in _CKSUM_TABLES.items():
        cat = "concat_ws(chr(31), " + ", ".join(cols) + ")"
        legs.append(f"""
  SELECT '{tbl}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(('0x' || substr(md5({cat}), 1, 15))::BIGINT
             % {_CKSUM_MOD})::HUGEINT % {_CKSUM_MOD} AS BIGINT)
      AS checksum
  FROM {tbl}""")
    return ("WITH u AS (" + " UNION ALL ".join(legs)
            + ") SELECT tbl, n_rows, checksum FROM u ORDER BY tbl")


@query("dq_table_checksum", oracle=_cksum_sql())
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksum — the replication /
    migration / backup-restore verifier: every row canonicalizes to a
    unit-separator-joined string, hashes to a 60-bit md5-derived
    integer, and the MODULAR SUM over the Mersenne prime 2^61−1
    collapses the whole table to one BIGINT that any row mutation,
    loss, or duplication changes (the sum is commutative, so the check
    is insensitive to row order and partitioning — exactly what a
    distributed copy needs).  Two copies match iff (n_rows, checksum)
    match per table.

    Determinism: md5 prefix → BIGINT is the repo-standard replayable
    hash; the per-row residue stays under 2^61−1 and the running sum
    accumulates in 128-bit (DECIMAL(38,0) / HUGEINT — headroom for
    ~2^65 rows) with ONE outer modulo at the end, so overflow
    semantics never differ between engines at any corpus size.  Shape: pure map + 1-row reduce per table; the cheapest
    possible full-content audit — one scan, 16 bytes of state per
    partition, runs per-partition for incremental verification."""
    t = load_tables(spark, sf_dir, tuple(_CKSUM_TABLES))
    outs = []
    for tbl, cols in _CKSUM_TABLES.items():
        row_h = (F.conv(F.substring(
            F.md5(F.concat_ws("\x1f",
                              *[F.col(c).cast("string") for c in cols])),
            1, 15), 16, 10).cast("bigint") % _CKSUM_MOD)
        outs.append(t[tbl].agg(
            F.lit(tbl).alias("tbl"),
            F.count("*").cast("long").alias("n_rows"),
            (F.sum(row_h.cast("decimal(38,0)"))
             % F.lit(_CKSUM_MOD).cast("decimal(38,0)"))
            .cast("long").alias("checksum")))
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u.orderBy("tbl")


_SKEW_PARTS = 32


def _skew_sql() -> str:
    legs = []
    for tbl, key in (("events", "user_id"), ("lineitem", "l_orderkey")):
        legs.append(f"""
  SELECT '{tbl}.{key}' AS join_key,
    ('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT
      % {_SKEW_PARTS} AS part,
    CAST(COUNT(*) AS BIGINT) AS load
  FROM {tbl} GROUP BY 1, 2""")
    return f"""
WITH loads AS ({" UNION ALL ".join(legs)})
SELECT join_key,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(SUM(load) AS BIGINT) AS n_rows,
  CAST(MAX(load) AS BIGINT) AS max_load,
  CAST(floor(({_SKEW_PARTS} * CAST(MAX(load) AS DOUBLE) / SUM(load)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS imbalance,
  CAST(floor((CAST(MAX(load) AS DOUBLE) / SUM(load)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS top_part_share
FROM loads GROUP BY join_key ORDER BY join_key"""


@query("dq_partition_skew_census", oracle=_skew_sql())
def dq_partition_skew_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Shuffle-partition skew census — the pre-flight check before a
    big keyed join: simulate hash partitioning of each candidate join
    key into 32 partitions (md5-derived bucket, a uniform-hash proxy:
    real skew comes from key MULTIPLICITY, which any uniform hash
    preserves) and report the imbalance factor max/mean and the
    hottest partition's share.  imbalance ≈ 1 means AQE can coalesce
    freely; imbalance >> 1 is the measured trigger for salting
    (operators/skew.py) or AQE skew-join on that key.

    Exact BIGINT loads; two double divisions per key.  Shape: one
    (key-hash % 32) aggregate per audited key — partition COUNTERS,
    never rows, cross the wire; the report is 2 rows."""
    t = load_tables(spark, sf_dir, ("events", "lineitem"))
    legs = []
    for tbl, key in (("events", "user_id"), ("lineitem", "l_orderkey")):
        part = (F.conv(F.substring(
            F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
            .cast("bigint") % _SKEW_PARTS)
        legs.append(
            t[tbl].groupBy(part.alias("part"))
            .agg(F.count("*").cast("long").alias("load"))
            .select(F.lit(f"{tbl}.{key}").alias("join_key"),
                    "part", "load"))
    loads = legs[0].unionByName(legs[1])
    return (loads.groupBy("join_key")
            .agg(F.count("*").cast("long").alias("n_parts"),
                 F.sum("load").cast("long").alias("n_rows"),
                 F.max("load").cast("long").alias("max_load"))
            .select("join_key", "n_parts", "n_rows", "max_load",
                    exact.snap_double_col(_SKEW_PARTS * F.col("max_load").cast("double") / F.col("n_rows"), 6).alias("imbalance"),
                    exact.snap_double_col(F.col("max_load").cast("double") / F.col("n_rows"), 9).alias("top_part_share"))
            .orderBy("join_key"))


@query("dataset_temporal_split_leakage", oracle="""
WITH b AS (
  SELECT MIN(ts) AS lo, MAX(ts) AS hi,
    MIN(ts) + (MAX(ts) - MIN(ts)) / 3 AS t1,
    MIN(ts) + 2 * ((MAX(ts) - MIN(ts)) / 3) AS t2
  FROM events),
s AS (
  SELECT user_id,
    CASE WHEN ts < t1 THEN 'train' WHEN ts < t2 THEN 'val'
         ELSE 'test' END AS split
  FROM events CROSS JOIN b),
u AS (SELECT DISTINCT user_id, split,
        CASE split WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END
          AS ord FROM s),
c AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_users FROM u GROUP BY split),
ov AS (
  SELECT a.split AS split_a, bb.split AS split_b,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM u a JOIN u bb ON a.user_id = bb.user_id AND a.ord < bb.ord
  GROUP BY 1, 2)
SELECT split_a, split_b, n_shared,
  ca.n_users AS n_users_a, cb.n_users AS n_users_b,
  CAST(floor((CAST(n_shared AS DOUBLE) / cb.n_users) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS leakage_into_b
FROM ov
JOIN c ca ON ca.split = split_a
JOIN c cb ON cb.split = split_b
ORDER BY split_a, split_b""")
def dataset_temporal_split_leakage(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Temporal train/val/test split with USER-level leakage audit:
    events split by time terciles (the honest split for behavioral
    models — a hash split would let the model memorize its test users'
    pasts), then the overlap matrix of user sets across splits.
    leakage_into_b = the share of a later split's users already seen
    earlier: near-1.0 means per-user metrics measure memorization, and
    the fix (user-disjoint or cold-start-only evaluation) is applied
    BEFORE training, which is why this audit exists as a pipeline
    gate.

    Determinism: tercile boundaries are exact timestamp arithmetic
    from a 1-row broadcast; membership and overlaps are exact counts.
    Shape: distinct (user, split) — a skinny two-column shuffle — one
    user-keyed self-join bounded by 3 splits per user, a 3-row census
    and a 3-row overlap matrix."""
    t = load_tables(spark, sf_dir, ("events",))
    b = t["events"].agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    b = b.select(
        "lo", "hi",
        F.expr("unix_micros(lo) + (unix_micros(hi) - unix_micros(lo))"
               " DIV 3").alias("t1us"),
        F.expr("unix_micros(lo) + 2 * ((unix_micros(hi)"
               " - unix_micros(lo)) DIV 3)").alias("t2us"))
    s = (t["events"].crossJoin(F.broadcast(b))
         .select("user_id",
                 F.when(F.unix_micros("ts") < F.col("t1us"), "train")
                 .when(F.unix_micros("ts") < F.col("t2us"), "val")
                 .otherwise("test").alias("split")))
    u = s.distinct()
    ordx = (F.when(F.col("split") == "train", 0)
            .when(F.col("split") == "val", 1).otherwise(2))
    c = u.groupBy("split").agg(F.count("*").cast("long").alias("n_users"))
    a = u.select("user_id", F.col("split").alias("split_a"),
                 ordx.alias("ord_a"))
    bb = u.select("user_id", F.col("split").alias("split_b"),
                  ordx.alias("ord_b"))
    ov = (a.join(bb, "user_id")
          .where(F.col("ord_a") < F.col("ord_b"))
          .groupBy("split_a", "split_b")
          .agg(F.count("*").cast("long").alias("n_shared")))
    ca = c.select(F.col("split").alias("split_a"),
                  F.col("n_users").alias("n_users_a"))
    cb = c.select(F.col("split").alias("split_b"),
                  F.col("n_users").alias("n_users_b"))
    return (ov.join(F.broadcast(ca), "split_a")
            .join(F.broadcast(cb), "split_b")
            .select("split_a", "split_b", "n_shared",
                    "n_users_a", "n_users_b",
                    exact.snap_double_col(F.col("n_shared").cast("double") / F.col("n_users_b"), 9)
                    .alias("leakage_into_b"))
            .orderBy("split_a", "split_b"))


_MUS_N = 100  # sampling points (the audit's sample-size parameter)


@query("sampling_monetary_unit", oracle=f"""
WITH o AS (
  SELECT o_orderkey,
    {exact.cents('o_totalprice')} AS cents
  FROM orders),
c AS (
  SELECT o_orderkey, cents,
    CAST(coalesce(SUM(cents) OVER (ORDER BY o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM o),
tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS t,
    CAST(SUM(cents) // {_MUS_N} AS BIGINT) AS iv
  FROM o),
st AS (
  SELECT iv, ('0x' || substr(md5('mus'), 1, 15))::BIGINT % iv AS start
  FROM tot),
pts AS (
  SELECT start + CAST(k AS BIGINT) * iv AS p
  FROM st CROSS JOIN (SELECT unnest(range(0, {_MUS_N})) AS k)),
hit AS (
  SELECT o_orderkey, cents, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM c JOIN pts ON p >= cum_before AND p < cum_before + cents
  GROUP BY o_orderkey, cents),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_selected FROM hit)
SELECT o_orderkey, cents, n_hits, n_selected
FROM hit CROSS JOIN ns
ORDER BY o_orderkey LIMIT 50""")
def sampling_monetary_unit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Monetary-unit (dollar-unit) sampling — the audit-profession
    standard: every CENT of order value is a sampling unit, so orders
    are selected with probability proportional to value, and an order
    big enough to straddle several systematic points is hit multiple
    times (its n_hits weights the audit extrapolation).  Systematic
    selection: 100 points at interval T/100 from an md5-derived
    deterministic start, intersected with each order's [cum_before,
    cum_before+value) cent range.

    Exactness: money works in integer CENTS end-to-end (no float in
    the design at all); the point set is generated from a 1-row
    (start, interval) broadcast and joined by exact integer range
    containment.  Shape: one prefix-sum window over the order ledger
    (at 100 TB: per-partition subtotals + boundary handoff — the
    pack_sequences_cumsum contract) and a 100-row broadcast range
    join; the audit sample is ~100 rows whatever the ledger size."""
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"].select(
        "o_orderkey",
        F.expr(exact.cents("o_totalprice")).alias("cents"))
    w = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, -1)
    c = o.select("o_orderkey", "cents",
                 F.coalesce(F.sum("cents").over(w), F.lit(0))
                 .cast("long").alias("cum_before"))
    tot = o.agg(F.sum("cents").cast("long").alias("t"),
                F.expr(f"CAST(SUM(cents) DIV {_MUS_N} AS BIGINT)")
                .alias("iv"))
    st = tot.select(
        "iv",
        (F.conv(F.substring(F.md5(F.lit("mus")), 1, 15), 16, 10)
         .cast("bigint") % F.col("iv")).alias("start"))
    pts = (st.select("start", "iv",
                     F.explode(F.sequence(F.lit(0), F.lit(_MUS_N - 1)))
                     .alias("k"))
           .select((F.col("start") + F.col("k").cast("long")
                    * F.col("iv")).alias("p")))
    hit = (c.join(F.broadcast(pts),
                  (F.col("p") >= F.col("cum_before"))
                  & (F.col("p") < F.col("cum_before") + F.col("cents")))
           .groupBy("o_orderkey", "cents")
           .agg(F.count("*").cast("long").alias("n_hits")))
    ns = hit.agg(F.count("*").cast("long").alias("n_selected"))
    return (hit.crossJoin(F.broadcast(ns))
            .select("o_orderkey", "cents", "n_hits", "n_selected")
            .orderBy("o_orderkey").limit(50))


def _fd_sql() -> str:
    legs = []
    for det, dep in (("source", "lang"), ("lang", "source")):
        legs.append(f"""
  SELECT '{det} -> {dep}' AS fd,
    CAST(COUNT(*) AS BIGINT) AS n_determinant_values,
    CAST(SUM(n) AS BIGINT) AS n_rows,
    CAST(SUM(n - top) AS BIGINT) AS n_violations,
    CAST(floor((1.0 - CAST(SUM(n - top) AS DOUBLE) / SUM(n)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS confidence,
    CAST(count_if(n = top) AS BIGINT) AS n_exact_groups
  FROM (
    SELECT {det}, CAST(SUM(c) AS BIGINT) AS n,
      CAST(MAX(c) AS BIGINT) AS top
    FROM (SELECT {det}, {dep}, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents GROUP BY {det}, {dep})
    GROUP BY {det})""")
    return ("WITH u AS (" + " UNION ALL ".join(legs)
            + ") SELECT * FROM u ORDER BY fd")


@query("dq_functional_dependency_strength", oracle=_fd_sql())
def dq_functional_dependency_strength(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Approximate functional-dependency profiling (the TANE-family
    question asked statistically): how close do source → lang and
    lang → source come to holding?  Confidence = 1 − (rows that would
    have to change for the FD to hold exactly)/rows — the g3 error
    measure — plus the count of determinant groups where it already
    holds exactly.  High source→lang confidence says sources are
    language-pure (lang is derivable, a candidate for normalization);
    low says multilingual sources are real and lang must stay a
    physical column.  This is the schema-design evidence a modeler
    reads before declaring dependencies.

    Exact integer counts (majority class per determinant via MAX over
    the (det, dep) census), one double division per FD.  Shape: one
    (det, dep) aggregate + one det-level rollup per direction — both
    domain-bounded, counters-only shuffles."""
    t = load_tables(spark, sf_dir, ("documents",))
    legs = []
    for det, dep in (("source", "lang"), ("lang", "source")):
        census = (t["documents"].groupBy(det, dep)
                  .agg(F.count("*").cast("long").alias("c")))
        grp = (census.groupBy(det)
               .agg(F.sum("c").cast("long").alias("n"),
                    F.max("c").cast("long").alias("top")))
        legs.append(grp.agg(
            F.lit(f"{det} -> {dep}").alias("fd"),
            F.count("*").cast("long").alias("n_determinant_values"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.col("n") - F.col("top")).cast("long")
             .alias("n_violations"),
            exact.snap_double_col(1.0 - F.sum(F.col("n") - F.col("top")).cast("double") / F.sum("n"), 9).alias("confidence"),
            F.count_if(F.col("n") == F.col("top")).cast("long")
             .alias("n_exact_groups")))
    return legs[0].unionByName(legs[1]).orderBy("fd")


_DV_SHARDS = 64
_DV_DELETE_PCT = 5  # simulated logical-delete rate


@query("layout_deletion_vector_tradeoff", oracle=f"""
WITH d AS (
  SELECT {_DOC_HASH_SQL} % {_DV_SHARDS} AS shard,
    CAST(n_chars AS BIGINT) AS bytes,
    ('0x' || substr(md5('del:' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 100 < {_DV_DELETE_PCT} AS deleted
  FROM documents),
s AS (
  SELECT shard,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
    CAST(count_if(deleted) AS BIGINT) AS n_deleted,
    CAST(SUM(CASE WHEN deleted THEN bytes ELSE 0 END) AS BIGINT)
      AS deleted_bytes
  FROM d GROUP BY shard)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_shards,
  CAST(count_if(n_deleted > 0) AS BIGINT) AS n_shards_touched,
  CAST(SUM(n_deleted) AS BIGINT) AS n_rows_deleted,
  CAST(SUM(CASE WHEN n_deleted > 0 THEN shard_bytes ELSE 0 END)
       AS BIGINT) AS cow_rewrite_bytes,
  CAST(SUM((n_rows + 7) // 8) AS BIGINT) AS dv_bytes,
  CAST(floor((CAST(SUM(CASE WHEN n_deleted > 0 THEN shard_bytes ELSE 0 END) AS DOUBLE) / SUM(CASE WHEN n_deleted > 0 THEN deleted_bytes ELSE 0 END)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS cow_write_amplification,
  CAST(floor((CAST(SUM(CASE WHEN n_deleted > 0 THEN shard_bytes ELSE 0 END) AS DOUBLE) / SUM((n_rows + 7) // 8)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS cow_over_dv_ratio
FROM s""")
def layout_deletion_vector_tradeoff(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Copy-on-write vs deletion-vector cost table — the
    Iceberg/Delta merge-on-read design decision, computed from the
    corpus: simulate a 5% hash-deterministic logical delete, then
    compare (a) COW: every TOUCHED shard rewrites whole
    (rewrite bytes / actually-deleted bytes = the write
    amplification — scattered deletes touch nearly every shard, so
    amplification explodes), against (b) DV: one bitmap bit per row
    per shard (⌈n/8⌉ bytes).  cow_over_dv_ratio is the headline: how
    many times more I/O the rewrite strategy pays at this delete
    pattern — the evidence for enabling deletion vectors before a
    GDPR-erasure or dedup-purge campaign.

    Exact integers throughout (bitmap bytes by integer ceiling);
    two double ratios.  Shape: one map-side shard/delete assignment,
    a 64-row shard aggregate, a 1-row report."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        (F.expr(_DOC_HASH) % _DV_SHARDS).alias("shard"),
        F.col("n_chars").cast("long").alias("bytes"),
        ((F.conv(F.substring(F.md5(F.concat(
            F.lit("del:"), F.col("doc_id").cast("string"))), 1, 15),
            16, 10).cast("bigint") % 100) < _DV_DELETE_PCT)
        .alias("deleted"))
    s = (d.groupBy("shard")
         .agg(F.count("*").cast("long").alias("n_rows"),
              F.sum("bytes").cast("long").alias("shard_bytes"),
              F.count_if("deleted").cast("long").alias("n_deleted"),
              F.sum(F.when(F.col("deleted"), F.col("bytes"))
                    .otherwise(0)).cast("long").alias("deleted_bytes")))
    touched = F.col("n_deleted") > 0
    cow = F.sum(F.when(touched, F.col("shard_bytes")).otherwise(0))
    dvb = F.sum(F.expr("CAST((n_rows + 7) DIV 8 AS BIGINT)"))
    return s.agg(
        F.count("*").cast("long").alias("n_shards"),
        F.count_if(touched).cast("long").alias("n_shards_touched"),
        F.sum("n_deleted").cast("long").alias("n_rows_deleted"),
        cow.cast("long").alias("cow_rewrite_bytes"),
        dvb.cast("long").alias("dv_bytes"),
        exact.snap_double_col(cow.cast("double") / F.sum(F.when(touched, F.col("deleted_bytes")) .otherwise(0)), 6)
         .alias("cow_write_amplification"),
        exact.snap_double_col(cow.cast("double") / dvb, 6).alias("cow_over_dv_ratio"))


@query("dataset_source_influence_loo", oracle="""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(n_chars) AS BIGINT) AS s
  FROM documents GROUP BY source),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss
  FROM g)
SELECT source, n AS n_docs,
  CAST(floor((CAST(ss AS DOUBLE) / nn) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS corpus_mean_chars,
  CAST(floor((CAST(ss - s AS DOUBLE) / (nn - n)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS loo_mean_chars,
  CAST(floor((CAST(ss AS DOUBLE) / nn - CAST(ss - s AS DOUBLE) / (nn - n)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS influence
FROM g CROSS JOIN tot ORDER BY source""")
def dataset_source_influence_loo(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence on the corpus mean document
    length — the cheapest data-valuation primitive: for every source,
    what the corpus-level metric becomes WITHOUT it, computed in one
    pass from totals-minus-group algebra (never 20 re-aggregations).
    A source with large positive influence drags the corpus metric up;
    the ranking is the first cut a data-buying or source-pruning
    decision reads, and the same algebra applies to any additive
    metric (quality score sums, token counts).

    Exact BIGINT group/total moments; two double divisions per row.
    Shape: one source aggregate + a 1-row totals broadcast — the LOO
    is pure arithmetic on partials, which is the whole point."""
    t = load_tables(spark, sf_dir, ("documents",))
    g = (t["documents"].groupBy("source")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum("n_chars").cast("long").alias("s")))
    tot = g.agg(F.sum("n").cast("long").alias("nn"),
                F.sum("s").cast("long").alias("ss"))
    full = F.col("ss").cast("double") / F.col("nn")
    loo = (F.col("ss") - F.col("s")).cast("double") \
        / (F.col("nn") - F.col("n"))
    return (g.crossJoin(F.broadcast(tot))
            .select("source", F.col("n").alias("n_docs"),
                    exact.snap_double_col(full, 6).alias("corpus_mean_chars"),
                    exact.snap_double_col(loo, 6).alias("loo_mean_chars"),
                    exact.snap_double_col(full - loo, 6).alias("influence"))
            .orderBy("source"))
