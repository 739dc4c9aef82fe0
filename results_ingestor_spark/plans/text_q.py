"""Text-analysis queries over ``documents`` (north-star M3).

All plans are built-in expression pipelines (no UDFs); every oracle
reproduces the token split (literal space), the md5 fingerprints, and
the exact-integer-division ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from results_ingestor_spark.operators.text import (
    LANG_MARKERS, STOPWORDS, fingerprint_canonical, lang_predict, lang_scores,
    stopword_ratio, tokens)
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables

_TOKS = "string_split(text, ' ')"


@query("text_tokens", oracle=f"""
SELECT doc_id,
  len({_TOKS}) AS n_tokens,
  len(list_distinct({_TOKS})) AS n_unique,
  length(text) AS n_chars_measured,
  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_TOKS}) AS avg_token_len
FROM documents""")
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization + distinct-type counts —
    narrow map stage, no shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = tokens()
    return t["documents"].select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_unique"),
        F.length("text").alias("n_chars_measured"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double")
         / F.size(tk)).alias("avg_token_len"))


_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@query("text_quality_score", oracle=f"""
SELECT doc_id, lang,
  CAST(floor((CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_LIST}))) AS DOUBLE) / len({_TOKS})) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS stop_ratio,
  CAST(floor((CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS ttr,
  CAST(floor((0.5 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})) + 0.3 * (1 - CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_LIST}))) AS DOUBLE) / len({_TOKS})) + 0.2 * least(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_TOKS}) / 8.0, 1.0)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS quality
FROM documents""")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + type-token ratio + length prior,
    the standard cheap pre-LLM-training document filter shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = tokens()
    stop = stopword_ratio()
    ttr = F.size(F.array_distinct(tk)).cast("double") / F.size(tk)
    avg_len = (F.length(F.regexp_replace("text", " ", "")).cast("double")
               / F.size(tk))
    quality = (F.lit(0.5) * ttr + F.lit(0.3) * (F.lit(1) - stop)
               + F.lit(0.2) * F.least(avg_len / 8.0, F.lit(1.0)))
    return t["documents"].select(
        "doc_id", "lang",
        exact.snap_double_col(stop, 9).alias("stop_ratio"),
        exact.snap_double_col(ttr, 9).alias("ttr"),
        exact.snap_double_col(quality, 9).alias("quality"))


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in sorted(LANG_MARKERS[lang]))
    return f"len(list_filter({_TOKS}, t -> t IN ({markers})))"


_LANGS = sorted(LANG_MARKERS)
_SCORES_SQL = ",\n  ".join(f"{_lang_score_sql(lg)} AS score_{lg}" for lg in _LANGS)
_BEST_SQL = "greatest(" + ", ".join(f"score_{lg}" for lg in _LANGS) + ")"
_PRED_SQL = ("CASE " + " ".join(
    f"WHEN score_{lg} = {_BEST_SQL} THEN '{lg}'" for lg in _LANGS) + " END")


@query("text_langid", oracle=f"""
SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
  {_PRED_SQL} AS predicted
FROM (SELECT doc_id, lang, {_SCORES_SQL} FROM documents)""")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language marker-token hits
    (the n-gram-profile-scoring structure; profiles are stub token sets —
    the corpus shares one synthetic vocabulary across langs)."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = t["documents"].select("doc_id", "lang", *lang_scores())
    return scored.select("doc_id", "lang",
                         *[f"score_{lg}" for lg in _LANGS],
                         lang_predict().alias("predicted"))


@query("text_fingerprint", oracle="""
SELECT doc_id,
  md5(text) AS fp_exact,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS fp_canonical
FROM documents""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact md5 + order-insensitive canonical
    fingerprint (sorted distinct token set)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        F.md5("text").alias("fp_exact"),
        fingerprint_canonical().alias("fp_canonical"))


@query("text_bigram_topk", oracle=f"""
SELECT ngram, COUNT(*) AS n FROM (
  SELECT unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS ngram
  FROM (SELECT {_TOKS} AS t FROM documents))
GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""")
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency top-k: explode bigrams (with
    multiplicity) → hash-agg → TakeOrdered.  The shuffle carries (ngram,
    partial count) thanks to map-side combine."""
    t = load_tables(spark, sf_dir, ("documents",))
    # Guarded like shingles_expr: Spark's sequence(1, 0) counts DOWN for
    # a 1-token doc (DuckDB range() is empty) — emit no bigrams instead.
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 2))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    return (t["documents"]
            .select(F.explode(bigrams).alias("ngram"))
            .groupBy("ngram").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("ngram")).limit(20))


# BPE-ish pre-tokenizer: letter runs / digit runs / punctuation runs,
# each optionally space-prefixed (the GPT-2 pattern family, minus
# lookahead — RE2 in the oracle has no lookahead).
_BPE_PAT = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@query("text_token_count_bpe", oracle=f"""
SELECT doc_id,
  len({_TOKS}) AS n_ws_tokens,
  len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens,
  CAST(floor((CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS DOUBLE) / len({_TOKS})) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS bpe_per_word
FROM documents""")
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways a training pipeline needs: whitespace
    words and a BPE-style pre-tokenizer regex (letter/digit/punct runs).
    The bpe/word ratio is the cheap compression-cost estimator used for
    data budgeting."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = tokens()
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    return t["documents"].select(
        "doc_id",
        F.size(tk).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        exact.snap_double_col(F.size(bpe).cast("double") / F.size(tk), 9).alias("bpe_per_word"))


# Winnowing (MOSS) fingerprint: char 8-gram rolling hashes, keep the
# minimum of every 4-hash window — position-robust doc fingerprints.
_KGRAM, _WINNOW = 8, 4


@query("text_winnowing_fingerprint", oracle=f"""
WITH grams AS (
  SELECT doc_id,
    [('0x' || substr(md5(substr(text, i, {_KGRAM})), 1, 15))::bigint
     for i in range(1, length(text) - {_KGRAM} + 2)] AS hs
  FROM documents),
winnowed AS (
  SELECT doc_id,
    list_sort(list_distinct(
      [list_min(hs[i:i+{_WINNOW - 1}])
       for i in range(1, len(hs) - {_WINNOW} + 2)])) AS fp
  FROM grams)
SELECT doc_id,
  array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), '|') AS fp
FROM winnowed""")
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): hash every char
    8-gram, keep each 4-window's minimum, dedupe — the position-robust
    fingerprint set used for plagiarism/near-dup detection at corpus
    scale.  Pure JVM expressions; md5-derived hashes keep the oracle
    bit-identical.  Guarded for docs shorter than the k-gram / window
    (Spark's sequence(1, 0) counts DOWN; DuckDB range() is empty), and
    the fingerprint set is emitted as a '|'-joined string so the result
    is scalar-hashable by any comparator."""
    t = load_tables(spark, sf_dir, ("documents",))
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    hs = F.expr(
        f"CASE WHEN length(text) >= {_KGRAM} THEN "
        f"transform(sequence(1, length(text) - {_KGRAM} + 1), "
        f"i -> CAST(conv(substring(md5(substring(text, i, {_KGRAM})), 1, 15), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END")
    docs = ensure_min_parallelism(t["documents"]).withColumn("hs", hs)
    fp = F.expr(
        f"CASE WHEN size(hs) >= {_WINNOW} THEN "
        f"array_sort(array_distinct(transform(sequence(1, size(hs) - {_WINNOW} + 1), "
        f"i -> array_min(slice(hs, i, {_WINNOW}))))) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END")
    fp_str = F.concat_ws("|", F.transform(fp, lambda x: x.cast("string")))
    return docs.select("doc_id", fp_str.alias("fp"))


_BIGRAMS = (f"[array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]")
_TRIGRAMS = (f"[array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]")


@query("quality_repetition_signals", oracle=f"""
WITH tk AS (
  SELECT doc_id, t.tok, t.pos
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
    LATERAL (SELECT unnest(toks) AS tok,
                    generate_subscripts(toks, 1) AS pos) AS t),
tok_top AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_tok_cnt
  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok)
  GROUP BY doc_id),
runs AS (
  SELECT doc_id, MAX(run_len) AS max_token_run FROM (
    SELECT doc_id, tok, grp, COUNT(*) AS run_len
    FROM (SELECT doc_id, tok, pos
            - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos)
            AS grp
          FROM tk)
    GROUP BY doc_id, tok, grp)
  GROUP BY doc_id),
bg AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_cnt
  FROM (SELECT doc_id, g AS gram, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({_BIGRAMS}) AS g
              FROM (SELECT doc_id, {_TOKS} AS t FROM documents))
        GROUP BY doc_id, g)
  GROUP BY doc_id),
tg AS (
  SELECT doc_id,
    len(list_distinct(tgs)) AS n_tri_distinct, len(tgs) AS n_trigrams
  FROM (SELECT doc_id, {_TRIGRAMS} AS tgs
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)))
SELECT t.doc_id,
  CAST(t.n_tokens AS BIGINT) AS n_tokens,
  CAST(floor((CAST(t.top_tok_cnt AS DOUBLE) / t.n_tokens) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS top_token_frac,
  CAST(floor((CASE WHEN coalesce(b.n_bigrams, 0) = 0 THEN 0.0 ELSE CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams END) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS top_bigram_frac,
  CAST(floor((CASE WHEN coalesce(g.n_trigrams, 0) = 0 THEN 0.0 ELSE 1.0 - CAST(g.n_tri_distinct AS DOUBLE) / g.n_trigrams END) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS dup_trigram_frac,
  CAST(r.max_token_run AS BIGINT) AS max_token_run,
  (CAST(t.top_tok_cnt AS DOUBLE) / t.n_tokens <= 0.2
   AND CASE WHEN coalesce(b.n_bigrams, 0) = 0 THEN 0.0
       ELSE CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams END <= 0.18
   AND CASE WHEN coalesce(g.n_trigrams, 0) = 0 THEN 0.0
       ELSE 1.0 - CAST(g.n_tri_distinct AS DOUBLE) / g.n_trigrams END <= 0.6
   AND r.max_token_run <= 4) AS keep
FROM tok_top t
JOIN runs r ON r.doc_id = t.doc_id
LEFT JOIN bg b ON b.doc_id = t.doc_id
LEFT JOIN tg g ON g.doc_id = t.doc_id""")
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    adapted to the corpus's single-line documents: token-level instead
    of line-level repetition.

    * ``top_token_frac`` / ``top_bigram_frac`` — mass of the most
      frequent token / bigram (boilerplate and keyword-stuffing
      detector).
    * ``dup_trigram_frac`` — 1 − distinct/total trigrams (copy-paste
      repetition inside a document).
    * ``max_token_run`` — longest consecutive same-token run, via the
      gaps-and-islands window trick (pos − per-token row_number is
      constant within a run).
    * ``keep`` — the conjunctive Gopher-style filter verdict.

    Scale shape: every explode/groupBy/window partitions by the
    high-cardinality ``doc_id`` (never by a global key), so the three
    signal families compute in parallel shuffles keyed on the same
    column and AQE coalesces the final doc_id joins; the trigram ratio
    never shuffles at all (pure array arithmetic in the scan stage)."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    tk = (docs.select("doc_id", F.posexplode(F.split("text", " "))
                      .alias("pos", "tok")))
    tok_counts = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    tok_top = (tok_counts.groupBy("doc_id")
               .agg(F.sum("c").alias("n_tokens"),
                    F.max("c").alias("top_tok_cnt")))
    w_run = Window.partitionBy("doc_id", "tok").orderBy("pos")
    runs = (tk.withColumn("grp", F.col("pos") - F.row_number().over(w_run))
            .groupBy("doc_id", "tok", "grp").agg(F.count("*").alias("run_len"))
            .groupBy("doc_id").agg(F.max("run_len").alias("max_token_run")))
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 2))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    bg = (docs.select("doc_id", F.explode(bigrams).alias("gram"))
          .groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
          .groupBy("doc_id").agg(F.sum("c").alias("n_bigrams"),
                                 F.max("c").alias("top_bigram_cnt")))
    trigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 3 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 2), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 3))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    tg = docs.select(
        "doc_id",
        F.size(F.array_distinct(trigrams)).alias("n_tri_distinct"),
        F.size(trigrams).alias("n_trigrams"))
    top_token_frac = F.col("top_tok_cnt").cast("double") / F.col("n_tokens")
    top_bigram_frac = F.when(
        F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0.0)) \
        .otherwise(F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams"))
    dup_trigram_frac = F.when(
        F.coalesce(F.col("n_trigrams"), F.lit(0)) == 0, F.lit(0.0)) \
        .otherwise(F.lit(1.0) - F.col("n_tri_distinct").cast("double")
                   / F.col("n_trigrams"))
    return (tok_top.join(runs, "doc_id")
            .join(bg, "doc_id", "left").join(tg, "doc_id", "left")
            .select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                exact.snap_double_col(top_token_frac, 9).alias("top_token_frac"),
                exact.snap_double_col(top_bigram_frac, 9).alias("top_bigram_frac"),
                exact.snap_double_col(dup_trigram_frac, 9).alias("dup_trigram_frac"),
                F.col("max_token_run").cast("long").alias("max_token_run"),
                ((top_token_frac <= 0.2) & (top_bigram_frac <= 0.18)
                 & (dup_trigram_frac <= 0.6) & (F.col("max_token_run") <= 4))
                .alias("keep")))


@query("quality_lexical_diversity", oracle="""
SELECT doc_id,
  len(t) AS n_tokens,
  len(list_distinct(t)) AS n_distinct,
  CAST(floor((CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS ttr,
  CAST(floor((CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS mean_word_len,
  CAST(floor((CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(t)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS stopword_frac,
  (CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.35
   AND CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
       / len(t) BETWEEN 0.01 AND 0.15) AS keep
FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)""")
def quality_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals (C4/Gopher family): type-token
    ratio, mean word length, stopword fraction, and a conjunctive keep
    flag (thresholds anchored at the corpus's p10/p90).  All built-in
    array expressions — one narrow map stage, no shuffle, no Python.
    The threshold comparisons sit on exact double divisions of the
    same integers in both engines, so the keep flag is bit-stable."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    n = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a"))) \
        .cast("double") / n
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        exact.snap_double_col(ttr, 9).alias("ttr"),
        exact.snap_double_col(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) .cast("double") / n, 9).alias("mean_word_len"),
        exact.snap_double_col(stop, 9).alias("stopword_frac"),
        ((ttr >= 0.35) & (stop >= 0.01) & (stop <= 0.15)).alias("keep"))


@query("tfidf_top_terms", oracle="""
WITH tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, tok),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nn AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term,
    CAST(floor((tf * ln(CAST(n AS DOUBLE) / df)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN nn)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored)
WHERE rank <= 3""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF.  Three aggregates — term
    frequency (doc×term), document frequency (term, dimension-sized,
    broadcast back), corpus size (1 row) — then a per-doc top-k window.
    Ranking happens on the ROUNDED score (6 dp): tf·ln(N/df) is
    irrational, and the two engines' libm ln() may differ in the last
    ulp — rounding before ranking keeps order and output bit-stable.
    At 100 TB the df table is vocabulary-sized (fits broadcast) and tf
    shuffles once on (doc, term)."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nn = t["documents"].agg(F.count("*").alias("n"))
    scored = (tf.join(F.broadcast(df), "term").join(F.broadcast(nn))
              .select("doc_id", "term",
                      exact.snap_double_col(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("doc_id", "term", "tfidf", "rank"))


@query("vocab_coverage_95", oracle="""
WITH counts AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok),
ranked AS (
  SELECT n,
    SUM(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(n) OVER () AS total
  FROM counts)
SELECT CAST(COUNT(*) FILTER (WHERE (cum - n) * 20 < total * 19) AS BIGINT)
         AS vocab_size_95,
       CAST(MAX(total) AS BIGINT) AS total_tokens,
       COUNT(*) AS n_distinct
FROM ranked""")
def vocab_coverage_95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary budgeting: how many distinct tokens (most-frequent
    first) cover 95% of all token occurrences.  Token counts → one
    global cumulative window over the vocabulary (vocabulary-sized
    input, fine unpartitioned) → integer threshold test
    (cum-before-token)·20 < total·19, i.e. a token is kept while
    coverage BEFORE it is still under 95% — all-bigint arithmetic,
    no float boundary."""
    t = load_tables(spark, sf_dir, ("documents",))
    counts = (t["documents"]
              .select(F.explode(F.split("text", " ")).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("n")))
    w_cum = (Window.orderBy(F.desc("n"), F.asc("tok"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    ranked = counts.select(
        "n", F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"))
    return ranked.agg(
        F.sum(F.when((F.col("cum") - F.col("n")) * 20
                     < F.col("total") * 19, 1).otherwise(0))
        .alias("vocab_size_95"),
        F.max("total").alias("total_tokens"),
        F.count("*").alias("n_distinct"))


@query("text_inverted_index", oracle=f"""
WITH tf AS (
  SELECT tok, doc_id, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok, doc_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY tok
                               ORDER BY c DESC, doc_id) AS rn
  FROM tf)
SELECT tok, COUNT(*) AS doc_freq,
  CAST(SUM(c) AS BIGINT) AS term_freq,
  string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
             '|' ORDER BY rn) AS top_postings
FROM r GROUP BY tok
HAVING COUNT(*) >= 3""")
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> document frequency, collection
    frequency, and the top-5 postings by within-doc term frequency
    (tie: doc_id) as a '|'-joined string.  Per-(term, doc) counts are
    one hash agg; the top-5 selection is a row_number window whose
    collect_list is capped at five non-null structs, so state per term
    is O(5) even for stopwords — the full postings payload never
    shuffles.  The window partition for ultra-high-DF terms is the
    classic skew point at 100 TB; real index builds shard those terms
    (doc_id range salting) or drop them — the df >= 3 floor here is
    the same pruning knob.  Driver-hashable output: postings are a
    string, never an array column."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("tok", "doc_id").agg(F.count("*").alias("c")))
    w = Window.partitionBy("tok").orderBy(F.desc("c"), F.asc("doc_id"))
    r = tf.withColumn("rn", F.row_number().over(w))
    top = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("rn") <= 5,
                       F.struct(F.col("rn"), F.col("doc_id"))))),
            lambda x: x["doc_id"].cast("string")), "|")
    return (r.groupBy("tok")
            .agg(F.count("*").alias("doc_freq"),
                 F.sum("c").alias("term_freq"),
                 top.alias("top_postings"))
            .where(F.col("doc_freq") >= 3))


@query("text_zipf_rank_frequency", oracle=f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS freq
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok),
r AS (
  SELECT tok, freq,
    row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM counts)
SELECT rank, tok, freq,
  CAST(floor((ln(rank)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS ln_rank,
  CAST(floor((ln(CAST(freq AS DOUBLE))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS ln_freq
FROM r WHERE rank <= 100""")
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency table for the top-100 vocabulary: rank vs
    frequency with per-row log coordinates (the log-log line whose
    slope ~ -1 is Zipf's law; the fit is the reader's 100-point
    reduction — a cross-term float sum would be partial-order
    nondeterministic, so it stays per-row).  The global top-100 is
    TakeOrderedAndProject over the vocabulary-sized count table — no
    total sort; the final rank window runs on 100 rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    counts = (t["documents"]
              .select(F.explode(F.split("text", " ")).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("freq")))
    top = counts.orderBy(F.desc("freq"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "tok", "freq",
                    exact.snap_double_col(F.log(F.col("rank")), 9).alias("ln_rank"),
                    exact.snap_double_col(F.log(F.col("freq").cast("double")), 9)
                    .alias("ln_freq")))


@query("text_pmi_cooccurrence", oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)),
df AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
vocab AS (
  SELECT tok, c FROM (
    SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn
    FROM df)
  WHERE rn <= 50),
vt AS (SELECT dt.doc_id, dt.tok, vocab.c
       FROM dt JOIN vocab USING (tok)),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b,
    COUNT(*) AS c_ab, MAX(a.c) AS c_a, MAX(b.c) AS c_b
  FROM vt a JOIN vt b
    ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok)
SELECT tok_a, tok_b, c_ab, c_a, c_b,
  CAST(floor((ln(CAST(c_ab AS DOUBLE) * n_docs / (CAST(c_a AS DOUBLE) * c_b))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS pmi
FROM pairs CROSS JOIN n
WHERE c_ab >= 5""")
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for token pairs co-occurring in a
    document, over the top-50-document-frequency vocabulary — the
    collocation/phrase-mining primitive.  The vocabulary restriction
    is what makes the pair join scale-safe: per-doc distinct tokens
    are semi-joined to the 50-term broadcast vocab FIRST, so the
    within-doc self-join is bounded at C(50,2) pairs per doc — never
    quadratic in document length.  PMI = ln(c_ab*N / (c_a*c_b)) is a
    single ln over an integer-valued ratio, identical cross-engine."""
    t = load_tables(spark, sf_dir, ("documents",))
    dt = (t["documents"]
          .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .distinct())
    df_t = dt.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = df_t.orderBy(F.desc("c"), F.asc("tok")).limit(50)
    vt = dt.join(F.broadcast(vocab), "tok")
    n = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    a = vt.select(F.col("doc_id"),
                  F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    b = vt.select(F.col("doc_id").alias("doc_b"),
                  F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    pairs = (a.join(b, (F.col("doc_id") == F.col("doc_b"))
                    & (F.col("tok_a") < F.col("tok_b")))
             .groupBy("tok_a", "tok_b")
             .agg(F.count("*").alias("c_ab"),
                  F.max("ca").alias("c_a"), F.max("cb").alias("c_b")))
    return (pairs.join(F.broadcast(n))
            .where(F.col("c_ab") >= 5)
            .select("tok_a", "tok_b", "c_ab", "c_a", "c_b",
                    exact.snap_double_col(F.log(F.col("c_ab").cast("double") * F.col("n_docs") / (F.col("c_a").cast("double") * F.col("c_b"))), 9).alias("pmi")))


_BM25_TERMS = ("join", "scan", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


@query("text_bm25_topk", oracle=f"""
WITH dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents),
avgdl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 COUNT(*) AS n FROM dl),
tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE tok IN ('join', 'scan', 'merge')
  GROUP BY doc_id, tok),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
    CAST(floor((SUM( ln((n - df + 0.5) / (df + 0.5) + 1) * (tf * ({_BM25_K1} + 1)) / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl)) )) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS bm25
  FROM tf
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN avgdl
  GROUP BY tf.doc_id)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id LIMIT 10""")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed term set — the IR scoring
    standard (Robertson k1=1.2, b=0.75) layered on the same aggregates
    as TF-IDF: per-doc term frequencies (filtered to the query terms
    BEFORE the shuffle, so the tf table is query-sized, not
    vocabulary-sized), df and avgdl as broadcast scalars, one
    fixed-order double expression per (doc, term), summed per doc and
    ROUNDED BEFORE RANKING (the tfidf_top_terms libm-ulp rule).
    Top-10 via TakeOrderedAndProject with doc_id tie-break.  At
    100 TB: the explode prunes to matching terms at the map side, and
    everything after the (doc, term) agg is query-term-sized."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    avgdl = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n"))
    tf = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
          .where(F.col("term").isin(*_BM25_TERMS))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    k1, b = _BM25_K1, _BM25_B
    term_score = (idf * (F.col("tf") * (k1 + 1))
                  / (F.col("tf")
                     + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    return (tf.join(F.broadcast(df), "term")
            .join(dl, "doc_id")
            .join(F.broadcast(avgdl))
            .groupBy("doc_id")
            .agg(exact.snap_double_col(F.sum(term_score), 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(10))


@query("text_winnowing_match_pairs", oracle=f"""
WITH grams AS (
  SELECT doc_id,
    [('0x' || substr(md5(substr(text, i, {_KGRAM})), 1, 15))::bigint
     for i in range(1, length(text) - {_KGRAM} + 2)] AS hs
  FROM documents),
winnowed AS (
  SELECT doc_id,
    list_sort(list_distinct(
      [list_min(hs[i:i+{_WINNOW - 1}])
       for i in range(1, len(hs) - {_WINNOW} + 2)])) AS fp
  FROM grams),
flat AS (SELECT doc_id, unnest(fp) AS f FROM winnowed),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM flat a JOIN flat b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared
FROM pairs WHERE shared >= 20 ORDER BY id_a, id_b""")
def text_winnowing_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document copy detection (MOSS): documents sharing ≥20
    winnowing fingerprints.  The pairing is an INVERTED-INDEX JOIN —
    explode fingerprints, equi-join on the fingerprint hash, count per
    pair — never an all-pairs comparison, so cost is Σ postings² per
    fingerprint (rare-hash buckets), the same scale shape as LSH band
    joins.  Reuses text_winnowing_fingerprint's hash pipeline
    bit-for-bit; counts are exact integers."""
    t = load_tables(spark, sf_dir, ("documents",))
    hs = F.expr(
        f"CASE WHEN length(text) >= {_KGRAM} THEN "
        f"transform(sequence(1, length(text) - {_KGRAM} + 1), "
        f"i -> CAST(conv(substring(md5(substring(text, i, {_KGRAM})), 1, 15), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END")
    fp = F.expr(
        f"CASE WHEN size(hs) >= {_WINNOW} THEN "
        f"array_sort(array_distinct(transform(sequence(1, size(hs) - {_WINNOW} + 1), "
        f"i -> array_min(slice(hs, i, {_WINNOW}))))) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END")
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    flat = (ensure_min_parallelism(t["documents"])
            .withColumn("hs", hs).select("doc_id", F.explode(fp).alias("f")))
    b = flat.select(F.col("doc_id").alias("id_b"), F.col("f").alias("fb"))
    return (flat.select(F.col("doc_id").alias("id_a"), "f")
            .join(b, (F.col("f") == F.col("fb"))
                  & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("shared"))
            .where(F.col("shared") >= 20)
            .orderBy("id_a", "id_b"))


_CMS_D = 4     # sketch depth (independent hash rows)
_CMS_W = 512   # buckets per row


def _cms_oracle() -> str:
    bkt = ("(('0x' || substr(md5('cms' || d::varchar || ':' || tok), 1, 15))"
           f"::BIGINT) % {_CMS_W}")
    return f"""
WITH tk AS (SELECT unnest({_TOKS}) AS tok FROM documents),
exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM tk GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20),
hashed AS (
  SELECT tok, d, {bkt} AS bkt
  FROM tk CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS d)),
cms AS (
  SELECT d, bkt, CAST(COUNT(*) AS BIGINT) AS c
  FROM hashed GROUP BY d, bkt),
probes AS (
  SELECT e.tok, h.d, h.bkt
  FROM exact e
  CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS d) hd,
  LATERAL (SELECT hd.d AS d,
    (('0x' || substr(md5('cms' || hd.d::varchar || ':' || e.tok), 1, 15))
      ::BIGINT) % {_CMS_W} AS bkt) h),
est AS (
  SELECT p.tok, MIN(cms.c) AS n_est
  FROM probes p JOIN cms ON cms.d = p.d AND cms.bkt = p.bkt
  GROUP BY p.tok)
SELECT e.tok, e.n_exact, est.n_est,
  est.n_est >= e.n_exact AS overestimates
FROM exact e JOIN est ON est.tok = e.tok"""


@query("heavy_hitters_countmin", oracle=_cms_oracle())
def heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a Count-Min sketch (4 x 512
    md5-derived hash rows): estimate the corpus's top-20 token counts
    from the sketch and report them against the exact counts, with the
    CMS one-sided-error guarantee (estimate >= truth) surfaced as a
    checked column.

    Why this operator matters at 100 TB: the sketch table is D x W rows
    REGARDLESS of corpus size, built with one map-side-combining
    aggregation per hash row, and sketches from different shards/days
    merge by cell-wise addition — the mergeable-summary algebra
    (same contract as sketch_merge_shards' HLL/KLL).  The md5-derived
    bucketing makes the whole sketch bit-reproducible in SQL, so the
    estimates themselves are value-checked, not just bounded."""
    from results_ingestor_spark.functions.hashing import md5_long
    t = load_tables(spark, sf_dir, ("documents",))
    tk = t["documents"].select(F.explode(F.split("text", " ")).alias("tok"))
    truth = (tk.groupBy("tok").agg(F.count("*").alias("n_exact"))
             .orderBy(F.desc("n_exact"), F.asc("tok")).limit(20))

    def bkt(d: int, col: str) -> F.Column:
        return md5_long(F.concat(F.lit(f"cms{d}:"), F.col(col))) % _CMS_W

    hashed = tk.select("tok", F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"), bkt(d, "tok").alias("bkt"))
        for d in range(_CMS_D)])).alias("h")).select("h.d", "h.bkt")
    cms = hashed.groupBy("d", "bkt").agg(F.count("*").alias("c"))
    probes = truth.select("tok", "n_exact", F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"), bkt(d, "tok").alias("bkt"))
        for d in range(_CMS_D)])).alias("h")).select(
            "tok", "n_exact", "h.d", "h.bkt")
    est = (probes.join(F.broadcast(cms), ["d", "bkt"])
           .groupBy("tok", "n_exact").agg(F.min("c").alias("n_est")))
    return est.select(
        "tok", "n_exact", "n_est",
        (F.col("n_est") >= F.col("n_exact")).alias("overestimates"))


# Wilson 95% interval, one shared expression text (z inlined to the
# double literal both engines parse identically).
_WILSON_Z = "1.959963984540054"
_WILSON = f"""CAST(floor(((p + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
         {{sign}} {_WILSON_Z} * sqrt(p * (1 - p) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
        / (1 + {_WILSON_Z} * {_WILSON_Z} / n)) * 1000000000.0 + 0.5)
  AS BIGINT) / CAST(1000000000.0 AS DOUBLE)"""


@query("quality_blocklist_rate", oracle=f"""
WITH d AS (
  SELECT source,
    CAST(CASE WHEN ' ' || text || ' ' LIKE '% slow %'
               OR ' ' || text || ' ' LIKE '% dup %'
         THEN 1 ELSE 0 END AS BIGINT) AS hit
  FROM documents),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(hit) AS BIGINT) AS hits,
    CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS p
  FROM d GROUP BY source)
SELECT source, n, hits, CAST(floor((p) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS rate,
  {_WILSON.format(sign='-')} AS ci_lo,
  {_WILSON.format(sign='+')} AS ci_hi
FROM g""")
def quality_blocklist_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-hit rate per source with a Wilson 95% interval — the
    safety-audit shape: when deciding whether a SOURCE (not a document)
    is contaminated, the raw rate misleads at small n, and Wilson is
    the interval that behaves at p≈0 where the normal approximation
    collapses.  The blocklist here is the token set {slow, dup} (the
    corpus's stand-in flagged terms); membership is a whole-token
    match, not substring.

    Exactness: hit flags and counts are integers; p is one division;
    the Wilson bound is ONE expression text compiled by both engines.
    Scale: flagging is a map stage over the scan (at a real blocklist
    size it becomes one broadcast-join against the term set), then a
    source-keyed hash agg — counts only cross the shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hit = (padded.like("% slow %") | padded.like("% dup %")) \
        .cast("long").alias("hit")
    g = (t["documents"].select("source", hit)
         .groupBy("source")
         .agg(F.count("*").alias("n"), F.sum("hit").alias("hits"),
              (F.sum("hit").cast("double") / F.count("*")).alias("p")))
    return g.select(
        "source", "n", "hits", exact.snap_double_col("p", 9).alias("rate"),
        F.expr(_WILSON.format(sign='-')).alias("ci_lo"),
        F.expr(_WILSON.format(sign='+')).alias("ci_hi"))


@query("text_heaps_law_fit", oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents),
doc_tokens AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM tok GROUP BY doc_id),
first_occ AS (
  SELECT w, MIN(doc_id) AS first_doc FROM tok GROUP BY w),
new_types AS (
  SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_v
  FROM first_occ GROUP BY first_doc),
curve AS (
  SELECT d.doc_id,
    CAST(SUM(d.n_tok) OVER w AS BIGINT) AS cum_tokens,
    CAST(SUM(coalesce(nv.new_v, 0)) OVER w AS BIGINT) AS vocab
  FROM doc_tokens d LEFT JOIN new_types nv ON nv.doc_id = d.doc_id
  WINDOW w AS (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)),
pts AS (
  SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
    ln(CAST(vocab AS DOUBLE)) AS y
  FROM curve),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(floor((SUM(x)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sx, CAST(floor((SUM(y)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sy,
    CAST(floor((SUM(x * y)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sxy, CAST(floor((SUM(x * x)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS sxx
  FROM pts)
SELECT n AS n_points,
  CAST(floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS beta,
  CAST(floor((exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS k
FROM s""")
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(N) = k·N^β for the corpus: how fast the
    vocabulary grows with tokens read — the planning number behind
    tokenizer vocab sizing and dedup-memory budgets (β≈0.5 typical;
    β→1 smells like unique noise/IDs flooding the vocab).

    The trick that makes the growth curve CHEAP: a token contributes a
    new type exactly at its min(doc_id), so V(N) is the running sum of
    a first-occurrence histogram — no running-distinct state.  The
    log-log OLS slope comes from moment sums; doubles appear in the
    shared final expression only.  (Zipf rank-frequency is the
    companion entry; Heaps is its integral view.)

    Scale: two token-keyed aggs (first-occurrence, doc lengths) and a
    window over the DOCUMENT layer, ordered by ingest id."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = (t["documents"]
           .select("doc_id", F.explode(F.split("text", " ")).alias("w")))
    doc_tokens = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    new_types = (tok.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
                 .groupBy("doc_id").agg(F.count("*").alias("new_v")))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (doc_tokens.join(new_types, "doc_id", "left")
             .select("doc_id",
                     F.sum("n_tok").over(w).cast("long")
                     .alias("cum_tokens"),
                     F.sum(F.coalesce("new_v", F.lit(0))).over(w)
                     .cast("long").alias("vocab")))
    pts = curve.select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"))
    # 9-dp snap on the moment sums: double-summation order is the
    # only cross-engine wiggle (~1e-13 relative), and snapping before
    # the division kills it at the source
    s = pts.agg(F.count("*").alias("n"),
                exact.snap_double_col(F.sum("x"), 9).alias("sx"),
                exact.snap_double_col(F.sum("y"), 9).alias("sy"),
                exact.snap_double_col(F.sum(F.col("x") * F.col("y")), 9).alias("sxy"),
                exact.snap_double_col(F.sum(F.col("x") * F.col("x")), 9).alias("sxx"))
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(
        F.col("n").alias("n_points"),
        exact.snap_double_col(beta, 6).alias("beta"),
        exact.snap_double_col(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6)
        .alias("k"))


@query("source_vocab_overlap", oracle="""
WITH tok AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
  FROM documents),
vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM tok
       GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(COUNT(*) AS BIGINT) AS n_common
  FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, n_common,
  CAST(floor((CAST(n_common AS DOUBLE) / (va.v + vb.v - n_common)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS vocab_jaccard
FROM inter
JOIN vs va ON va.source = source_a
JOIN vs vb ON vb.source = source_b
ORDER BY source_a, source_b""")
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the LEXICAL
    companion to the cross-source dup matrix: two feeds can share no
    documents yet write in the same vocabulary (same domain/register),
    or share documents while one is a translation (dup matrix hot,
    vocab overlap cold).  Both views together triage where diversity
    actually comes from.

    Scale: the (source, token) projection is the inverted index —
    co-occurrence pairs come from a token-keyed equi-join (postings ×
    postings per token, bounded by sources-per-token, NEVER all-pairs
    of documents), then a source-pair-domain rollup."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = (t["documents"]
           .select("source", F.explode(F.split("text", " ")).alias("w"))
           .distinct())
    vs = tok.groupBy("source").agg(F.count("*").alias("v"))
    a = tok.select(F.col("source").alias("source_a"), "w")
    b = tok.select(F.col("source").alias("source_b"), "w")
    inter = (a.join(b, "w")
             .where(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count("*").alias("n_common")))
    va = vs.select(F.col("source").alias("source_a"),
                   F.col("v").alias("va"))
    vb = vs.select(F.col("source").alias("source_b"),
                   F.col("v").alias("vb"))
    return (inter.join(F.broadcast(va), "source_a")
            .join(F.broadcast(vb), "source_b")
            .select("source_a", "source_b", "n_common",
                    exact.snap_double_col(F.col("n_common").cast("double") / (F.col("va") + F.col("vb") - F.col("n_common")), 9)
                    .alias("vocab_jaccard"))
            .orderBy("source_a", "source_b"))


# ── code-switching / mixed-language detection ────────────────────────
_CS_CHUNK = 32  # tokens per non-overlapping chunk


def _cs_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in sorted(LANG_MARKERS[lang]))
    return (f"len(list_filter(t[s + 1 : s + {_CS_CHUNK}], "
            f"x -> x IN ({markers}))) AS score_{lang}")


@query("text_code_switching", oracle=f"""
WITH tk AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
ch AS (
  SELECT doc_id, lang, t,
    unnest(range(0, len(t), {_CS_CHUNK})) AS s
  FROM tk),
sc AS (
  SELECT doc_id, lang,
    {", ".join(_cs_score_sql(lg) for lg in _LANGS)}
  FROM ch),
pr AS (SELECT doc_id, lang, {_PRED_SQL} AS chunk_lang FROM sc),
cl AS (
  SELECT doc_id, lang, chunk_lang, COUNT(*) AS c
  FROM pr GROUP BY doc_id, lang, chunk_lang),
dom AS (
  SELECT doc_id, chunk_lang AS dominant_lang FROM (
    SELECT doc_id, chunk_lang, row_number() OVER (
      PARTITION BY doc_id ORDER BY c DESC, chunk_lang ASC) AS rn
    FROM cl) WHERE rn = 1),
agg AS (
  SELECT doc_id, lang,
    CAST(SUM(c) AS BIGINT) AS n_chunks,
    CAST(COUNT(*) AS INT) AS n_langs,
    CAST(MAX(c) AS BIGINT) AS max_c,
    CAST(floor((log2(CAST(SUM(c) AS DOUBLE)) - SUM(c * log2(CAST(c AS DOUBLE))) / SUM(c)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS entropy_bits
  FROM cl GROUP BY doc_id, lang)
SELECT agg.doc_id, lang, n_chunks, n_langs, dominant_lang,
  CAST(floor((CAST(max_c AS DOUBLE) / n_chunks) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS dominant_share,
  entropy_bits,
  (n_langs >= 2 AND 5 * max_c <= 4 * n_chunks) AS is_mixed
FROM agg JOIN dom ON agg.doc_id = dom.doc_id""")
def text_code_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / mixed-language detection: language-ID applied
    per NON-OVERLAPPING 32-token chunk, rolled up to a per-document
    mixing report — chunk-language entropy, dominant-language share,
    and a mixed flag.  Doc-level language ID (text_langid) averages
    away a bilingual document; the chunk-level distribution is the
    curation signal that catches it (mixed docs poison monolingual
    training mixes and break per-language token budgets).  The mixed
    verdict compares exact integers (5·max_c ≤ 4·n_chunks ⇔ dominant
    share ≤ 0.8), so the decision never sits on a float boundary;
    entropy uses the aggregation-friendly H = log2(n) − Σc·log2(c)/n
    identity (events_user_entropy contract, 6 dp).  The dominant
    language is a (count DESC, lang ASC) argmax — min_by over a
    (−c, lang) struct here, the same rule as windowed row_number in
    the oracle.

    Scale: chunking + scoring is map-only (the chunk never
    materializes as text — marker filters run on the token-array
    slice); then two doc_id-keyed hash aggs over the ≤|langs|-per-doc
    chunk-language layer.  One shuffle of (doc_id, lang, chunk_lang)
    rows bounded by chunks, not tokens."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "doc_id", "lang", F.split("text", " ").alias("t"))
    ch = d.select(
        "doc_id", "lang", "t",
        F.explode(F.expr(f"sequence(0, size(t) - 1, {_CS_CHUNK})"))
        .alias("s"))
    score_cols = []
    for lg in _LANGS:
        markers = ", ".join(f"'{m}'" for m in sorted(LANG_MARKERS[lg]))
        score_cols.append(
            F.expr(f"size(filter(slice(t, s + 1, {_CS_CHUNK}), "
                   f"x -> x IN ({markers})))").alias(f"score_{lg}"))
    pr = (ch.select("doc_id", "lang", *score_cols)
          .select("doc_id", "lang", lang_predict().alias("chunk_lang")))
    cl = (pr.groupBy("doc_id", "lang", "chunk_lang")
          .agg(F.count("*").alias("c")))
    n = F.sum("c")
    per = cl.groupBy("doc_id", "lang").agg(
        n.alias("n_chunks"),
        F.count("*").cast("int").alias("n_langs"),
        F.max("c").alias("max_c"),
        F.min_by("chunk_lang",
                 F.struct(F.negate(F.col("c")).alias("nc"),
                          F.col("chunk_lang").alias("l")))
        .alias("dominant_lang"),
        exact.snap_double_col(F.log2(n.cast("double")) - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / n, 6).alias("entropy_bits"))
    return per.select(
        "doc_id", "lang", "n_chunks", "n_langs", "dominant_lang",
        exact.snap_double_col(F.col("max_c").cast("double") / F.col("n_chunks"), 9)
        .alias("dominant_share"),
        "entropy_bits",
        ((F.col("n_langs") >= 2)
         & (5 * F.col("max_c") <= 4 * F.col("n_chunks"))).alias("is_mixed"))


@query("tokenizer_fertility_by_lang", oracle=f"""
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len({_TOKS})) AS BIGINT) AS n_words,
  CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
    AS n_bpe_tokens,
  CAST(floor((CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS DOUBLE) / SUM(len({_TOKS}))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS fertility,
  CAST(floor((CAST(SUM(length(text)) AS DOUBLE) / SUM(len(regexp_extract_all(text, '{_BPE_PAT}')))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS chars_per_token
FROM documents GROUP BY lang""")
def tokenizer_fertility_by_lang(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per whitespace
    word and characters per token, from the BPE-style pre-tokenizer
    regex (`text_token_count_bpe`'s per-doc counts rolled up to the
    language layer).  Fertility is THE per-language tokenizer-quality
    number — a language whose fertility is 2× another's pays 2× the
    sequence length (and attention cost) for the same text, which is
    exactly what vocabulary allocation and temperature sampling have
    to compensate for.  All sums are exact integers; the two ratios
    are one terminal division each.

    Scale: a pure map stage (two size() calls per doc) into a
    language-domain hash agg — partial aggregation makes the shuffle
    carry one row per (partition, lang)."""
    t = load_tables(spark, sf_dir, ("documents",))
    tk = tokens()
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    per_doc = t["documents"].select(
        "lang", F.size(tk).alias("w"), F.size(bpe).alias("b"),
        F.length("text").alias("c"))
    return (per_doc.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("w").alias("n_words"),
                 F.sum("b").alias("n_bpe_tokens"),
                 exact.snap_double_col(F.sum("b").cast("double") / F.sum("w"), 6)
                 .alias("fertility"),
                 exact.snap_double_col(F.sum("c").cast("double") / F.sum("b"), 6)
                 .alias("chars_per_token")))


@query("text_rake_keywords", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk),
ns AS (
  SELECT doc_id, t[i] AS w, i,
    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM pos WHERE t[i] NOT IN ({_STOP_LIST})),
phr AS (
  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS plen,
    string_agg(w, ' ' ORDER BY i) AS ptext
  FROM ns GROUP BY doc_id, grp
  HAVING COUNT(*) <= 4),
inst AS (SELECT ns.w, phr.plen FROM ns
         JOIN phr ON ns.doc_id = phr.doc_id AND ns.grp = phr.grp),
ws AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(plen) AS BIGINT) AS deg
  FROM inst GROUP BY w),
dist AS (
  SELECT ptext, plen, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM phr GROUP BY ptext, plen),
pw AS (SELECT ptext, unnest(string_split(ptext, ' ')) AS w FROM dist),
terms AS (
  SELECT pw.ptext, CAST(ws.deg AS DOUBLE) / ws.freq AS term
  FROM pw JOIN ws ON pw.w = ws.w),
scored AS (
  SELECT ptext,
    CAST(floor((list_reduce(list_sort(list(term)), (a, b) -> a + b)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
      AS rake_score
  FROM terms GROUP BY ptext)
SELECT d.ptext AS keyword, d.plen, d.n_occ, s.rake_score
FROM dist d JOIN scored s ON d.ptext = s.ptext
ORDER BY rake_score DESC, keyword LIMIT 50""")
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (length <= 4); each word
    scores deg(w)/freq(w) — degree counts co-membership weight (sum of
    phrase lengths it appears in), frequency its raw instance count —
    and a phrase scores the sum over its words.  Top-50 corpus
    keywords by score.  The per-phrase double sum folds LEFT over the
    SORTED term list in both engines (Spark ``aggregate`` /
    DuckDB ``list_reduce``), so the float accumulation order is
    pinned; terms themselves are one exact-integer division each.

    Scale: phrase assembly is a per-doc window (doc-bounded
    partitions), word stats are hash aggregates on the vocabulary, and
    the phrase-word join is vocabulary-keyed — no step carries
    unbounded state, and the final top-50 is TakeOrdered.

    r11 restructure (guide §2.4): the phrase table is checkpointed
    once and word instances come from exploding the assembled phrase
    text itself — the old shape computed the per-doc window TWICE (the
    phrase groupBy and the instance side of an ns⋈phr join) and paid
    that (doc_id, grp)-keyed join just to re-attach plen to each word
    instance, which the phrase row already carries.  The word-instance
    multiset is identical (each kept phrase contributes exactly its
    token occurrences), so freq/deg and every downstream value are
    unchanged — A/B at sf0.1: min 1.53 s vs 2.13 s, identical rows."""
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    t = load_tables(spark, sf_dir, ("documents",))
    tk = t["documents"].select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w"))
    wseq = Window.partitionBy("doc_id").orderBy("i")
    ns = (tk.where(~F.col("w").isin(*sorted(STOPWORDS)))
          .withColumn("grp", F.col("i") - F.row_number().over(wseq)))
    scope = CheckpointScope(spark)
    phr = scope.checkpoint(
        ns.groupBy("doc_id", "grp")
        .agg(F.count("*").alias("plen"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("i", "w"))),
                     lambda s: s["w"]), " ").alias("ptext"))
        .where(F.col("plen") <= 4))
    inst = phr.select("plen", F.explode(F.split("ptext", " ")).alias("w"))
    ws = (inst.groupBy("w")
          .agg(F.count("*").alias("freq"),
               F.sum("plen").cast("long").alias("deg")))
    dist = (phr.groupBy("ptext", "plen")
            .agg(F.count("*").alias("n_occ")))
    pw = dist.select("ptext", F.explode(F.split("ptext", " ")).alias("w"))
    terms = pw.join(ws, "w").select(
        "ptext", (F.col("deg").cast("double") / F.col("freq")).alias("term"))
    scored = (terms.groupBy("ptext")
              .agg(exact.snap_double_col(F.aggregate(F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x), 6)
                  .alias("rake_score")))
    out = (dist.join(scored, "ptext")
           .select(F.col("ptext").alias("keyword"), "plen", "n_occ",
                   "rake_score")
           .orderBy(F.desc("rake_score"), "keyword").limit(50))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


@query("text_langid_confusion", oracle=f"""
WITH pred AS (
  SELECT lang, {_PRED_SQL} AS predicted
  FROM (SELECT lang, {_SCORES_SQL} FROM documents)),
cell AS (
  SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, predicted),
tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS support FROM cell GROUP BY lang)
SELECT c.lang, c.predicted, c.n, t.support,
  CAST(floor((CAST(c.n AS DOUBLE) / t.support) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS row_share,
  c.lang = c.predicted AS on_diagonal
FROM cell c JOIN tot t ON c.lang = t.lang
ORDER BY c.lang, c.predicted""")
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID heuristic: true label
    (the corpus `lang` column) vs the marker-score argmax prediction,
    with per-true-language support and row share — the evaluation
    artifact that turns text_langid from a scorer into a measured
    classifier (which languages bleed into which, and how hard).
    Counts are exact integers; the one ratio divides once.

    Scale: the classifier is a map-only expression; the matrix is a
    hash aggregate bounded by langs² cells, and the support join is a
    broadcast of the lang-domain totals."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = t["documents"].select("lang", *lang_scores())
    pred = scored.select("lang", lang_predict().alias("predicted"))
    cell = (pred.groupBy("lang", "predicted")
            .agg(F.count("*").alias("n")))
    tot = cell.groupBy(F.col("lang").alias("lg")).agg(
        F.sum("n").cast("long").alias("support"))
    return (cell.join(F.broadcast(tot), cell.lang == tot.lg)
            .select("lang", "predicted", "n", "support",
                    exact.snap_double_col(F.col("n").cast("double") / F.col("support"), 6).alias("row_share"),
                    (F.col("lang") == F.col("predicted"))
                    .alias("on_diagonal"))
            .orderBy("lang", "predicted"))


_COMPRESS_SCHEMA = ("doc_id long, n_chars long, n_compressed long, "
                    "compression_ratio double")


# ROWS-ONLY (census 6/6): zlib DEFLATE has no DuckDB surface;
# compensating EXACT gate: plain-Python zlib recompute pins every
# byte count cell-for-cell in tests/test_round4e.py.
@query("quality_compression_ratio")
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressibility quality signal (the Gopher/C4 heuristic:
    text that compresses too well is repetitive boilerplate; too
    poorly, likely binary junk): per-doc DEFLATE ratio through an
    Arrow `mapInPandas` kernel batching zlib level-6 over the column.

    Rows-only by necessity — DuckDB has no DEFLATE surface — with the
    compensating exact gate the policy requires: zlib is
    deterministic for a fixed level, so `tests/test_round4e.py`
    recomputes every byte count in plain Python and pins the output
    cell-for-cell (a stronger check than the oracle would be, just
    not cross-engine).

    Scale: map-only Arrow stage — the canonical "Python only where
    the JVM genuinely can't" case; ~10 MB/s/core for zlib-6 is the
    budget, and the stage pipelines with the scan."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    def kernel(batches):
        import zlib
        import pandas as pd
        for b in batches:
            comp = b["text"].map(
                lambda s: len(zlib.compress(s.encode("utf-8"), 6)))
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "n_chars": b["text"].str.len().astype("int64"),
                "n_compressed": comp.astype("int64"),
                "compression_ratio": (b["text"].str.len()
                                      / comp).round(6)})

    t = load_tables(spark, sf_dir, ("documents",))
    return (t["documents"].select("doc_id", "text")
            .mapInPandas(kernel, _COMPRESS_SCHEMA))


@query("text_dispersion_gries_dp", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
c AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token),
dt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dtot FROM c GROUP BY doc_id),
ct AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ctot,
         CAST(COUNT(*) AS BIGINT) AS ndocs
       FROM c GROUP BY token),
tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c),
term AS (
  SELECT c.token,
    {exact.snap_n9("abs(CAST(c.c AS DOUBLE) / ct.ctot"
                   " - CAST(dt.dtot AS DOUBLE) / tt.t)")} AS term_n9,
    {exact.snap_n9("CAST(dt.dtot AS DOUBLE) / tt.t")} AS w_n9
  FROM c JOIN dt USING (doc_id) JOIN ct USING (token) CROSS JOIN tt),
dp AS (
  SELECT token,
    CAST(CAST(SUM(term_n9) AS BIGINT) - CAST(SUM(w_n9) AS BIGINT)
         + 1000000000 AS DOUBLE) / 2000000000.0 AS dp
  FROM term GROUP BY token)
SELECT dp.token, ct.ctot AS n_occurrences, ct.ndocs AS n_docs, dp.dp
FROM dp JOIN ct USING (token)
ORDER BY dp.dp DESC, dp.token LIMIT 20""")
def text_dispersion_gries_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation-of-proportions dispersion per token — the
    corpus-linguistics burstiness measure a curation pipeline uses to
    separate evenly-spread vocabulary from document-clumped tokens
    (DP near 0 = the token's occurrences follow the document sizes;
    near 1 = concentrated in few docs): DP = ½·Σ_d |share_d − w_d|,
    with the absent-document mass folded in as 1 − Σ_present w_d.
    Per-(token, doc) terms snap to integer 10^-9 units via the
    shared-IEEE device ``floor(x·1e9 + 0.5)`` (bit-identical in both
    engines for the identical double x) and sum as BIGINT, so
    DP = (Σterm_n9 − Σw_n9 + 1e9) / 2e9 is ONE exact-integer ratio —
    the wire carries the same double in both engines with no round()
    anywhere (r8: the lottery-corpus sweep caught a 1-ulp
    ``round(x, 9)`` straddle here — the pinned shortest-repr vs
    binary-scale divergence — on exactly one of 20 rows).  The top-20
    ranks on that exact DP with token tie-breaks.

    Scale: the inverted (token, doc) index is the only corpus-sized
    table; doc weights and token totals are domain-sized broadcasts."""
    from results_ingestor_spark.operators.text import tokens
    t = load_tables(spark, sf_dir, ("documents",))
    c = (t["documents"]
         .select("doc_id", F.explode(tokens()).alias("token"))
         .groupBy("doc_id", "token")
         .agg(F.count("*").cast("long").alias("c")))
    dt = c.groupBy("doc_id").agg(F.sum("c").cast("long").alias("dtot"))
    ct = c.groupBy("token").agg(F.sum("c").cast("long").alias("ctot"),
                                F.count("*").cast("long").alias("ndocs"))
    tt = c.agg(F.sum("c").cast("long").alias("t"))
    term = (c.join(F.broadcast(dt), "doc_id")
            .join(ct.select("token", "ctot"), "token")
            .crossJoin(F.broadcast(tt))
            .select("token",
                    F.expr(exact.snap_n9(
                        "abs(CAST(c AS DOUBLE) / ctot"
                        " - CAST(dtot AS DOUBLE) / t)")).alias("term_n9"),
                    F.expr(exact.snap_n9("CAST(dtot AS DOUBLE) / t"))
                    .alias("w_n9")))
    dp = (term.groupBy("token")
          .agg(((F.sum("term_n9") - F.sum("w_n9") + 1_000_000_000)
                .cast("double") / 2_000_000_000.0).alias("dp")))
    return (dp.join(ct, "token")
            .select("token", F.col("ctot").alias("n_occurrences"),
                    F.col("ndocs").alias("n_docs"), "dp")
            .orderBy(F.desc("dp"), F.asc("token"))
            .limit(20))


@query("text_novelty_unique_ngrams", oracle=f"""
WITH g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
      unnest([array_to_string(t[i:i+3], ' ')
              for i in range(1, len(t) - 2)]) AS gram
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents))),
df AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY gram),
nov AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(COUNT(*) FILTER (WHERE df = 1) AS BIGINT) AS n_unique
  FROM g JOIN df USING (gram) GROUP BY doc_id)
SELECT d.source, COUNT(*) AS n_docs,
  CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
  CAST(SUM(n_unique) AS BIGINT) AS sum_unique,
  CAST(floor((CAST(SUM(n_unique) AS DOUBLE) / SUM(n_grams)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS novelty_micro,
  CAST(COUNT(*) FILTER (WHERE n_unique = n_grams) AS BIGINT)
    AS n_fully_novel
FROM nov JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source""")
def text_novelty_unique_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty census: per source, what fraction of documents'
    word-4-grams occur nowhere else in the corpus (document frequency
    exactly 1)?  Low novelty marks template/boilerplate-heavy sources a
    pretraining mix would down-weight; the per-doc variant (n_unique ==
    n_grams) counts documents that share no 4-gram with any other.
    The micro-average is the ratio of two exact BIGINT sums — one
    double division, so both engines emit the identical bit pattern
    (the summation-order rule: never average per-row doubles).

    Shape (r11 restructure, guide §2.3/§2.4 — ONE corpus-sized exchange
    where there were three plus a corpus-sized join):
    * per-doc grams are ``array_distinct``-ed INSIDE the document row,
      so (doc, gram) is globally distinct BY CONSTRUCTION (doc_id
      differs across rows) — the explode+distinct exchange disappears
      and ``n_grams`` per doc is just ``size(grams)``;
    * the exploded rows are explicitly hash-repartitioned by gram ONCE;
      both consumers — the df aggregate (no further exchange: the
      partitioning already satisfies groupBy(gram)) and the per-doc
      relation (partial-agg collapses to one row per doc per partition
      before its doc-keyed exchange) — reuse that single shuffle stage,
      so the expensive gram construction runs once;
    * the df aggregate also carries ``min(doc_id)`` (BIGINT, so the
      aggregate stays a HashAggregate): when df = 1 that min IS the
      unique gram's owner, so ``n_unique`` per doc is a doc-keyed count
      over the df=1 rows — the corpus-sized g⋈df join-back is gone
      (the remaining joins are doc-sized ⋈ doc-sized);
    * ``n_grams`` per doc is ``count(*)`` over the same shuffle output
      (g holds each doc's grams exactly once), and ``source`` comes
      from a doc-sized join against documents.
    Equivalence: df over distinct (doc, gram) is unchanged; a df=1 gram
    has exactly one (doc, gram) row, so min(doc_id) is its owner and
    the per-doc df=1 count equals the old sum(df=1) after the join;
    count(*) per doc over distinct grams equals the old n_grams.
    At 100 TB grams are xxhash64-ed before the shuffle; df=1 detection
    is hash-exact since a collision only ever lowers novelty."""
    t = load_tables(spark, sf_dir, ("documents",))
    grams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 4 THEN "
        "array_distinct(transform(sequence(1, size(split(text, ' ')) - 3), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 4)))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    # r12 (VERDICT r11 item 3): the shuffle key is xxhash64(gram), not
    # the 4-gram STRING — gram identity is all the df aggregate needs,
    # and a BIGINT key shuffles ~4x fewer bytes and hash-aggregates
    # without string comparisons on the biggest exec-dominated text
    # head.
    # CONTRACT: df=1 is hash-exact — a gram's identity IS its xxhash64.
    # A collision merges two distinct grams into one key with df >= 2,
    # so it can only LOWER n_unique / novelty (never raise it), by at
    # most two grams per colliding pair.  Expected colliding pairs among
    # n distinct grams are n^2/2^65 (birthday bound, 64-bit keys).
    # Measured distinct 4-grams: sf0.001 24,713 (1.7e-11 expected
    # collisions), sf0.01 24,121 (1.6e-11), sf0.1 210,645 (1.2e-9) — the
    # oracle (string identity) agrees at every tested SF.  At the
    # declared 100 TB (~1e14 text bytes, ~1e10 distinct grams by Heaps'
    # law saturation) the bound is ~2.7 pairs: ~5 grams misjudged out of
    # ~1e13 gram rows, a ~1e-12 one-sided drift in novelty_micro.
    g = (t["documents"]
         .select("doc_id", F.explode(grams).alias("gram"))
         .select("doc_id", F.xxhash64("gram").alias("gram"))
         .repartition("gram"))
    per_gram = (g.groupBy("gram")
                .agg(F.count("*").cast("long").alias("df"),
                     F.min("doc_id").alias("doc_id")))
    uniq = (per_gram.where(F.col("df") == 1)
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_unique")))
    nov = (g.groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_grams"))
           .join(uniq, "doc_id", "left")
           .withColumn("n_unique", F.coalesce("n_unique", F.lit(0)
                                              .cast("long")))
           .join(t["documents"].select("doc_id", "source"), "doc_id"))
    return (nov.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_grams").cast("long").alias("sum_grams"),
                 F.sum("n_unique").cast("long").alias("sum_unique"),
                 F.sum(F.when(F.col("n_unique") == F.col("n_grams"), 1)
                       .otherwise(0)).cast("long").alias("n_fully_novel"))
            .select("source", "n_docs", "sum_grams", "sum_unique",
                    exact.snap_double_col(F.col("sum_unique").cast("double") / F.col("sum_grams"), 9).alias("novelty_micro"),
                    "n_fully_novel")
            .orderBy("source"))


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


@query("quality_gopher_rules", oracle=f"""
WITH d AS (
  SELECT doc_id, source, {_TOKS} AS t,
    len({_TOKS}) AS n,
    length(replace(text, ' ', '')) AS c,
    length(text) - length(replace(text, '#', '')) AS n_hash
  FROM documents),
f AS (
  SELECT source,
    NOT (n BETWEEN 50 AND 100000) AS fail_wc,
    NOT (c >= 3 * n AND c <= 10 * n) AS fail_mwl,
    len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 10 < n * 8
      AS fail_alpha,
    len(list_intersect(list_distinct(t),
        [{", ".join(f"'{w}'" for w in _GOPHER_STOPS)}])) < 2 AS fail_stop,
    n_hash * 10 > n AS fail_symbol
  FROM d)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) FILTER (WHERE fail_wc) AS BIGINT) AS n_fail_word_count,
  CAST(COUNT(*) FILTER (WHERE fail_mwl) AS BIGINT) AS n_fail_mean_word_len,
  CAST(COUNT(*) FILTER (WHERE fail_alpha) AS BIGINT) AS n_fail_alpha_frac,
  CAST(COUNT(*) FILTER (WHERE fail_stop) AS BIGINT) AS n_fail_stopwords,
  CAST(COUNT(*) FILTER (WHERE fail_symbol) AS BIGINT) AS n_fail_symbol,
  CAST(COUNT(*) FILTER (WHERE NOT (fail_wc OR fail_mwl OR fail_alpha
                                   OR fail_stop OR fail_symbol)) AS BIGINT)
    AS n_keep,
  CAST(COUNT(*) FILTER (WHERE NOT (fail_wc OR fail_mwl OR fail_alpha
                                   OR fail_symbol)) AS BIGINT)
    AS n_keep_ex_stopword,
  CAST(floor((CAST(COUNT(*) FILTER (WHERE NOT (fail_wc OR fail_mwl OR fail_alpha OR fail_stop OR fail_symbol)) AS DOUBLE) / COUNT(*)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS keep_rate
FROM f GROUP BY source ORDER BY source""")
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText rule-based quality filter (Rae et al.
    2021, published thresholds): word count in [50, 100000], mean word
    length in [3, 10], >=80% of words containing an alphabetic
    character, at least 2 of the 8 designated English stopwords
    present, and a symbol(#)-to-word ratio <= 0.1.  Emits the
    per-source failure census — which rule fires how often decides
    whether a source is worth keeping in the pretraining mix.  On the
    synthetic corpus the stopword rule fires on EVERY document (its
    vocabulary contains only "the" from the 8-word list) — the rule
    working as designed on non-English-prose text — so the census also
    reports n_keep_ex_stopword, the keep count under the four
    prose-agnostic rules, which does discriminate here.

    Every rule is an EXACT integer comparison (bounds cross-multiplied:
    ``c >= 3n AND c <= 10n`` instead of ``c/n BETWEEN 3 AND 10``;
    ``alpha*10 < n*8`` instead of ``alpha/n < 0.8``), so no float sits
    under a threshold and both engines flag identical documents.  One
    narrow map stage of array expressions and a 20-group aggregate —
    no Python, one tiny shuffle; at 100 TB the per-doc flags pipeline
    into the same scan as the other quality signals."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    n = F.size(toks)
    c = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_hash = (F.length("text")
              - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in _GOPHER_STOPS])))
    fails = {
        "fail_wc": ~n.between(50, 100000),
        "fail_mwl": ~((c >= 3 * n) & (c <= 10 * n)),
        "fail_alpha": n_alpha * 10 < n * 8,
        "fail_stop": n_stop < 2,
        "fail_symbol": n_hash * 10 > n,
    }
    keep_ex = ~fails["fail_wc"] & ~fails["fail_mwl"] \
        & ~fails["fail_alpha"] & ~fails["fail_symbol"]
    keep = keep_ex & ~fails["fail_stop"]
    d = t["documents"].select(
        "source", keep.alias("keep"), keep_ex.alias("keep_ex"),
        *[v.alias(k) for k, v in fails.items()])
    cnt = [F.sum(F.col(k).cast("long")).cast("long").alias(a)
           for k, a in [("fail_wc", "n_fail_word_count"),
                        ("fail_mwl", "n_fail_mean_word_len"),
                        ("fail_alpha", "n_fail_alpha_frac"),
                        ("fail_stop", "n_fail_stopwords"),
                        ("fail_symbol", "n_fail_symbol")]]
    return (d.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"), *cnt,
                 F.sum(F.col("keep").cast("long")).cast("long")
                 .alias("n_keep"),
                 F.sum(F.col("keep_ex").cast("long")).cast("long")
                 .alias("n_keep_ex_stopword"))
            .select("source", "n_docs", "n_fail_word_count",
                    "n_fail_mean_word_len", "n_fail_alpha_frac",
                    "n_fail_stopwords", "n_fail_symbol", "n_keep",
                    "n_keep_ex_stopword",
                    exact.snap_double_col(F.col("n_keep").cast("double") / F.col("n_docs"), 9).alias("keep_rate"))
            .orderBy("source"))


_MATTR_W = 25


@query("text_mattr_diversity", oracle=f"""
WITH d AS (
  SELECT doc_id, source, {_TOKS} AS t, len({_TOKS}) AS n FROM documents),
m AS (
  SELECT doc_id, source, n,
    CASE WHEN n >= {_MATTR_W} THEN
      [len(list_distinct(t[s:s + {_MATTR_W - 1}]))
       for s in range(1, n - {_MATTR_W} + 2)]
    ELSE [len(list_distinct(t))] END AS dw
  FROM d),
p AS (
  SELECT doc_id, source, n,
    CAST(len(dw) AS BIGINT) AS n_windows,
    CAST(list_sum(dw) AS BIGINT) AS sum_distinct,
    CASE WHEN n >= {_MATTR_W} THEN {_MATTR_W} ELSE n END AS w_eff
  FROM m)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_windows) AS BIGINT) AS sum_windows,
  CAST(SUM(sum_distinct) AS BIGINT) AS sum_distinct,
  CAST(floor((CAST(SUM(CASE WHEN n >= {_MATTR_W} THEN sum_distinct END) AS DOUBLE) / ({_MATTR_W} * SUM(CASE WHEN n >= {_MATTR_W} THEN n_windows END))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mattr_micro
FROM p GROUP BY source ORDER BY source""")
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington & McFall
    2010): slide a 25-token window over each document, count distinct
    types per window, and average — the lexical-diversity measure that,
    unlike raw TTR (quality_lexical_diversity), does NOT shrink with
    document length, so sources of different lengths are comparable.
    Documents shorter than the window fall back to whole-doc TTR and
    are EXCLUDED from the micro-average (their single window has a
    different denominator); their windows still count in sum_windows.

    Shape: the whole computation is per-row array expressions —
    transform(sequence) over slices, no explode, no shuffle before the
    20-group rollup — and every quantity is an exact BIGINT until the
    single final division.  Cost is O(n_tokens × 25) comparisons per
    doc, JVM-side; at 100 TB one caps the scan at the first ~2k tokens
    per doc (the diversity estimate saturates long before that), which
    keeps the per-row cost constant."""
    t = load_tables(spark, sf_dir, ("documents",))
    w = _MATTR_W
    toks = F.split("text", " ")
    n = F.size(toks)
    dw = F.when(
        n >= w,
        F.transform(F.sequence(F.lit(1), n - w + 1),
                    lambda s: F.size(F.array_distinct(
                        F.slice(toks, s, w))))
    ).otherwise(F.array(F.size(F.array_distinct(toks))))
    p = t["documents"].select(
        "source", n.alias("n"),
        F.size(dw).cast("long").alias("n_windows"),
        F.aggregate(dw, F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("sum_distinct"))
    long_doc = F.col("n") >= w
    return (p.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_windows").cast("long").alias("sum_windows"),
                 F.sum("sum_distinct").cast("long").alias("sum_distinct"),
                 exact.snap_double_col(F.sum(F.when(long_doc, F.col("sum_distinct"))) .cast("double") / (w * F.sum(F.when(long_doc, F.col("n_windows")))), 9).alias("mattr_micro"))
            .orderBy("source"))


_MCNEMAR_CRIT_DF1 = 3.8414588207  # chi-square upper 5% critical, df=1


@query("quality_rater_agreement", oracle=f"""
WITH d AS (
  SELECT {_TOKS} AS t, len({_TOKS}) AS n,
    length(replace(text, ' ', '')) AS c,
    length(text) - length(replace(text, '#', '')) AS n_hash
  FROM documents),
r AS (
  SELECT
    (len(list_distinct(t)) * 100 >= n * 35
     AND len(list_filter(t, x -> x = 'the' OR x = 'a')) * 100 >= n
     AND len(list_filter(t, x -> x = 'the' OR x = 'a')) * 100 <= n * 15)
      AS rater_a,
    (n BETWEEN 50 AND 100000 AND c >= 3 * n AND c <= 10 * n
     AND len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 10
         >= n * 8
     AND n_hash * 10 <= n) AS rater_b
  FROM d),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(*) FILTER (WHERE rater_a AND rater_b) AS BIGINT) AS n11,
    CAST(COUNT(*) FILTER (WHERE rater_a AND NOT rater_b) AS BIGINT) AS n10,
    CAST(COUNT(*) FILTER (WHERE NOT rater_a AND rater_b) AS BIGINT) AS n01,
    CAST(COUNT(*) FILTER (WHERE NOT rater_a AND NOT rater_b) AS BIGINT)
      AS n00
  FROM r)
SELECT n AS n_docs, n11, n10, n01, n00,
  CAST(floor((CAST(n11 + n00 AS DOUBLE) / n) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS po,
  CAST(floor((CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS pe,
  CAST(floor(((CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)) / (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS kappa,
  CAST(floor((CASE WHEN n10 + n01 > 0 THEN CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE) / (n10 + n01) ELSE 0.0 END) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS mcnemar_stat,
  CASE WHEN n10 + n01 > 0 THEN
    CAST(floor((CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE) / (n10 + n01)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) > {_MCNEMAR_CRIT_DF1}
  ELSE FALSE END AS raters_differ
FROM m""")
def quality_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement between the two rule-based quality
    filters this repo ships — rater A = the lexical-diversity keep rule
    (quality_lexical_diversity), rater B = the prose-agnostic Gopher
    rules (quality_gopher_rules ex-stopword) — as Cohen's kappa plus
    McNemar's paired test (continuity-corrected) on the disagreement
    cells.  This is the annotation-pipeline question "do two labelers
    systematically disagree, and in which direction?" asked of
    automated labelers; kappa near 0 means the filters capture
    independent signals (both worth running), McNemar rejecting means
    one filter is systematically stricter.

    Determinism: both raters are exact integer-comparison rules
    (thresholds cross-multiplied, e.g. ``distinct*100 >= n*35`` for
    TTR >= 0.35), the 2x2 confusion matrix is exact BIGINT, and kappa
    is computed from the n²-scaled identity
    (n·agree − chance) / (n² − chance) — ONE double division.  One
    narrow map + a 1-row reduce; nothing here shuffles more than four
    counters at any corpus size."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    n = F.size(toks)
    c = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_hash = (F.length("text")
              - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
    n_stop = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a")))
    rater_a = ((F.size(F.array_distinct(toks)) * 100 >= n * 35)
               & (n_stop * 100 >= n) & (n_stop * 100 <= n * 15))
    rater_b = (n.between(50, 100000) & (c >= 3 * n) & (c <= 10 * n)
               & (F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
                  * 10 >= n * 8)
               & (n_hash * 10 <= n))
    r = t["documents"].select(rater_a.alias("ra"), rater_b.alias("rb"))
    cell = (lambda p: F.sum(p.cast("long")).cast("long"))
    m = r.agg(F.count("*").cast("long").alias("n"),
              cell(F.col("ra") & F.col("rb")).alias("n11"),
              cell(F.col("ra") & ~F.col("rb")).alias("n10"),
              cell(~F.col("ra") & F.col("rb")).alias("n01"),
              cell(~F.col("ra") & ~F.col("rb")).alias("n00"))
    nn, n11, n10 = F.col("n"), F.col("n11"), F.col("n10")
    n01, n00 = F.col("n01"), F.col("n00")
    chance = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    diff = F.abs(n10 - n01)
    mcn = F.when(n10 + n01 > 0,
                 exact.snap_double_col(((diff - 1) * (diff - 1)).cast("double") / (n10 + n01), 9)).otherwise(F.lit(0.0))
    return m.select(
        nn.alias("n_docs"), "n11", "n10", "n01", "n00",
        exact.snap_double_col((n11 + n00).cast("double") / nn, 9).alias("po"),
        exact.snap_double_col(chance.cast("double") / (nn * nn), 9).alias("pe"),
        exact.snap_double_col((nn * (n11 + n00) - chance).cast("double") / (nn * nn - chance), 9).alias("kappa"),
        mcn.alias("mcnemar_stat"),
        F.when(n10 + n01 > 0, mcn > _MCNEMAR_CRIT_DF1)
         .otherwise(F.lit(False)).alias("raters_differ"))


@query("text_term_burstiness", oracle=f"""
WITH tf AS (
  SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS ctf,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
SELECT term, ctf, df,
  CAST(floor((n * (1 - exp(-(CAST(ctf AS DOUBLE) / n)))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS expected_df,
  CAST(floor((CAST(df AS DOUBLE) / (n * (1 - exp(-(CAST(ctf AS DOUBLE) / n))))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS burstiness
FROM tf CROSS JOIN nn
WHERE ctf >= 20
ORDER BY burstiness, term LIMIT 20""")
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): compare each term's
    observed document frequency with the Poisson-unigram expectation
    E[df] = N(1 − e^(−ctf/N)).  Terms whose occurrences CLUMP into few
    documents (df far below expected, ratio << 1) are topical/keyword
    terms; ratio ≈ 1 marks function words spread evenly.  Returns the
    20 burstiest terms with collection frequency >= 20 — the corpus
    diagnostic that finds boilerplate keys and topic markers without
    any labels.

    Determinism: ctf, df, N are exact BIGINTs; ctf/N is one exact
    double division, and the single transcendental (exp) can differ in
    the last ulp between libm and the JVM, so BOTH the expectation and
    the ratio are rounded to 6 dp before the rank — the ordering key is
    bit-identical across engines (the tfidf_top_terms rule).  Shape:
    one (doc,term)-distinct-capable aggregate for (ctf, df) — partial
    map-side combine, term-keyed shuffle of counters only — a 1-row N
    broadcast, and a TakeOrdered top-20."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("term")
          .agg(F.count("*").cast("long").alias("ctf"),
               F.countDistinct("doc_id").cast("long").alias("df")))
    nn = t["documents"].agg(F.count("*").cast("long").alias("n"))
    e_df = F.col("n") * (1 - F.exp(-(F.col("ctf").cast("double")
                                     / F.col("n"))))
    return (tf.where(F.col("ctf") >= 20)
            .join(F.broadcast(nn))
            .select("term", "ctf", "df",
                    exact.snap_double_col(e_df, 6).alias("expected_df"),
                    exact.snap_double_col(F.col("df").cast("double") / e_df, 6)
                    .alias("burstiness"))
            .orderBy("burstiness", "term").limit(20))


@query("text_vocab_concentration", oracle=f"""
WITH tf AS (
  SELECT source, tok AS term, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY source, tok),
s AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS vocab,
    CAST(SUM(f) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT) AS n_hapax,
    CAST(SUM(f * (f - 1)) AS BIGINT) AS coll2
  FROM tf GROUP BY source)
SELECT source, vocab, n_tokens, n_hapax,
  CAST(floor((CAST(n_hapax AS DOUBLE) / vocab) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS hapax_ratio,
  CAST(floor((CAST(coll2 AS DOUBLE) / (n_tokens * (n_tokens - 1))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS simpson_lambda,
  CAST(floor((CAST(n_tokens AS DOUBLE) * (n_tokens - 1) / coll2) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS effective_vocab
FROM s ORDER BY source""")
def text_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary concentration: hapax-legomena ratio (the
    share of a source's vocabulary used exactly once — high for fresh
    prose, low for templated output) and the unbiased Simpson index
    λ = Σf(f−1) / (F(F−1)) — the probability two tokens drawn WITHOUT
    replacement are the same type, whose reciprocal is the "effective
    vocabulary size".  Together with Zipf/Heaps/entropy these place
    each source on the boilerplate-vs-diverse axis for mixture
    weighting; λ is also exactly the per-source 2-gram collision rate
    dedup candidate volume scales with.

    Determinism: the collision count Σf(f−1) is exact BIGINT (the
    KMV/birthday trick — no per-term p_i² doubles are ever summed, so
    no float summation order exists); each output is ONE double
    division.  Shape: one (source, term)-keyed aggregate with map-side
    combine, then a 20-group rollup — counters only in the shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select("source", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("source", "term")
          .agg(F.count("*").cast("long").alias("f")))
    s = (tf.groupBy("source")
         .agg(F.count("*").cast("long").alias("vocab"),
              F.sum("f").cast("long").alias("n_tokens"),
              F.sum((F.col("f") == 1).cast("long")).cast("long")
               .alias("n_hapax"),
              F.sum(F.col("f") * (F.col("f") - 1)).cast("long")
               .alias("coll2")))
    nt = F.col("n_tokens")
    return s.select(
        "source", "vocab", "n_tokens", "n_hapax",
        exact.snap_double_col(F.col("n_hapax").cast("double") / F.col("vocab"), 9)
         .alias("hapax_ratio"),
        exact.snap_double_col(F.col("coll2").cast("double") / (nt * (nt - 1)), 9)
         .alias("simpson_lambda"),
        exact.snap_double_col(nt.cast("double") * (nt - 1) / F.col("coll2"), 6)
         .alias("effective_vocab")).orderBy("source")


_KEYNESS_SRC = "src0"


@query("text_keyness_dunning", oracle=f"""
WITH tok AS (
  SELECT source = '{_KEYNESS_SRC}' AS focus, unnest({_TOKS}) AS term
  FROM documents),
c AS (
  SELECT term,
    CAST(count_if(focus) AS BIGINT) AS a,
    CAST(count_if(NOT focus) AS BIGINT) AS b
  FROM tok GROUP BY term),
tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
  FROM c),
g AS (
  SELECT term, a, b,
    CAST(floor((2.0 * ( CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE) * (ta + tb) / (CAST(ta AS DOUBLE) * (a + b))) ELSE 0.0 END + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE) * (ta + tb) / (CAST(tb AS DOUBLE) * (a + b))) ELSE 0.0 END)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS g2,
    CAST(a AS DOUBLE) * tb > CAST(b AS DOUBLE) * ta AS overused
  FROM c CROSS JOIN tot
  WHERE a + b >= 10)
SELECT term, a AS n_focus, b AS n_rest, g2, overused
FROM g ORDER BY g2 DESC, term LIMIT 20""")
def text_keyness_dunning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness by Dunning's log-likelihood ratio (Dunning 1993) — the
    corpus-linguistics standard for "which terms characterize THIS
    source against the rest": per term, the G² statistic of the 2×2
    (focus vs rest) × (term vs other-tokens) table, reported with the
    direction (over/under-used in the focus source 'src0').
    Unlike raw frequency ratios, G² is stable for rare terms and,
    unlike PMI, doesn't explode on hapaxes — which is why keyword
    lists in corpus studies use it.

    Determinism: counts exact BIGINT; each G² is one fixed-shape
    double expression (two ln calls on exact-integer ratios), snapped
    to 6 dp BEFORE ranking (the tfidf rule); the direction flag is an
    exact integer cross-product comparison.  Shape: one term-keyed
    count aggregate with map-side combine, a 1-row totals broadcast,
    TakeOrdered top-20."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = t["documents"].select(
        (F.col("source") == _KEYNESS_SRC).alias("focus"),
        F.explode(F.split("text", " ")).alias("term"))
    c = (tok.groupBy("term")
         .agg(F.count_if("focus").cast("long").alias("a"),
              F.count_if(~F.col("focus")).cast("long").alias("b")))
    tot = c.agg(F.sum("a").cast("long").alias("ta"),
                F.sum("b").cast("long").alias("tb"))
    a, b = F.col("a"), F.col("b")
    ta, tb = F.col("ta"), F.col("tb")
    term1 = F.when(a > 0, a * F.log(a.cast("double") * (ta + tb)
                                    / (ta.cast("double") * (a + b)))) \
        .otherwise(F.lit(0.0))
    term2 = F.when(b > 0, b * F.log(b.cast("double") * (ta + tb)
                                    / (tb.cast("double") * (a + b)))) \
        .otherwise(F.lit(0.0))
    return (c.where(a + b >= 10)
            .join(F.broadcast(tot))
            .select("term", a.alias("n_focus"), b.alias("n_rest"),
                    exact.snap_double_col(2.0 * (term1 + term2), 6).alias("g2"),
                    (a.cast("double") * tb > b.cast("double") * ta)
                    .alias("overused"))
            .orderBy(F.desc("g2"), F.asc("term")).limit(20))


@query("text_vocabulary_richness", oracle=f"""
WITH tf AS (
  SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS r
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY tok),
fof AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf GROUP BY r),
tot AS (
  SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
    CAST(SUM(n_r) AS BIGINT) AS v_obs,
    CAST(coalesce(SUM(n_r) FILTER (WHERE r = 1), 0) AS BIGINT) AS n1,
    CAST(coalesce(SUM(n_r) FILTER (WHERE r = 2), 0) AS BIGINT) AS n2
  FROM fof)
SELECT n_tokens, v_obs, n1, n2,
  CAST(floor((CAST(n1 AS DOUBLE) / n_tokens) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS gt_missing_mass,
  CAST(floor((CASE WHEN n2 > 0 THEN v_obs + CAST(n1 AS DOUBLE) * n1 / (2.0 * n2) ELSE v_obs + CAST(n1 AS DOUBLE) * (n1 - 1) / 2.0 END) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS chao1_estimate,
  CAST(floor((CASE WHEN n1 > 0 THEN 2.0 * n2 / n1 ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS gt_adjusted_r1
FROM tot""")
def text_vocabulary_richness(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Vocabulary-richness estimators from the frequency-of-frequencies
    table: the Good-Turing missing mass n₁/N (the probability the NEXT
    token is an unseen type — how much more corpus is worth collecting
    for vocabulary coverage), the Good-Turing adjusted count for
    singletons r₁* = 2n₂/n₁ (the smoothing kernel under Katz/KN
    backoff), and the Chao1 lower bound on TRUE vocabulary size
    V + n₁²/2n₂ (the species-richness estimator applied to types).
    Together these answer "how much vocabulary is this corpus still
    missing" — the tokenizer-sizing and corpus-collection planning
    numbers, complementing the Heaps-law growth fit.

    Determinism: the term-count and frequency-of-frequency layers are
    exact BIGINT; each estimator is one fixed-shape double expression
    (bias-corrected Chao1 branch when n₂ = 0, stated).  Shape: two
    chained aggregates (term counts → count histogram, both map-side
    combining) and a 1-row report."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select(F.explode(F.split("text", " ")).alias("term"))
          .groupBy("term").agg(F.count("*").cast("long").alias("r")))
    fof = tf.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("v_obs"),
        F.coalesce(F.sum(F.when(F.col("r") == 1, F.col("n_r"))),
                   F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum(F.when(F.col("r") == 2, F.col("n_r"))),
                   F.lit(0)).cast("long").alias("n2"))
    n1, n2 = F.col("n1"), F.col("n2")
    chao1 = F.when(n2 > 0,
                   F.col("v_obs") + n1.cast("double") * n1 / (2.0 * n2)) \
        .otherwise(F.col("v_obs")
                   + n1.cast("double") * (n1 - 1) / 2.0)
    return tot.select(
        "n_tokens", "v_obs", "n1", "n2",
        exact.snap_double_col(n1.cast("double") / F.col("n_tokens"), 9)
         .alias("gt_missing_mass"),
        exact.snap_double_col(chao1, 6).alias("chao1_estimate"),
        exact.snap_double_col(F.when(n1 > 0, 2.0 * n2 / n1).otherwise(F.lit(0.0)), 6)
         .alias("gt_adjusted_r1"))


@query("text_bigram_entropy_rate", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk)),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg
       GROUP BY w1, w2),
cc AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cx FROM bc GROUP BY w1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v_bigrams FROM bc),
hj AS (
  SELECT SUM(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
    AS h_joint
  FROM bc CROSS JOIN tot),
hc AS (
  SELECT SUM(-(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n))
    AS h_context
  FROM cc CROSS JOIN tot)
SELECT n AS n_bigrams, v_bigrams,
  CAST(floor((h_joint) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS h_joint_nats,
  CAST(floor((h_context) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS h_context_nats,
  CAST(floor((h_joint - h_context) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS h_conditional_nats,
  CAST(floor((exp(h_joint - h_context)) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS perplexity_per_token
FROM tot CROSS JOIN hj CROSS JOIN hc""")
def text_bigram_entropy_rate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Entropy rate of the corpus under a bigram model (Shannon's
    estimate of language information content): the conditional entropy
    H(W₂|W₁) = H(W₁,W₂) − H(W₁) over adjacent-token pairs, with its
    per-token perplexity e^H — the compressibility floor a bigram
    coder can reach, and the single number that separates repetitive/
    templated corpora (low rate) from diverse prose (high).  Pairs
    with the Kneser-Ney and perplexity entries: those SCORE documents
    under a model; this measures the corpus's own rate.

    The entropy sums run over the bigram-type table (unordered float
    aggregation — per-term values are identical in both engines, the
    summation-order noise is ~1e-13 and outputs snap at 6 dp, the
    covariance contract).  Shape: one (w1,w2) count aggregate with
    map-side combine, its w1 marginal, a 1-row N broadcast, three
    1-row reduces."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    grams = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> struct(element_at(split(text, ' '), i) AS w1, "
        "element_at(split(text, ' '), i + 1) AS w2))")
    bc = (t["documents"]
          .select(F.explode(grams).alias("g"))
          .select("g.w1", "g.w2")
          .groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c")))
    cc = bc.groupBy("w1").agg(F.sum("c").cast("long").alias("cx"))
    tot = bc.agg(F.sum("c").cast("long").alias("n"),
                 F.count("*").cast("long").alias("v_bigrams"))
    hj = (bc.crossJoin(F.broadcast(tot))
          .agg(F.sum(-(F.col("c").cast("double") / F.col("n"))
                     * F.log(F.col("c").cast("double") / F.col("n")))
               .alias("h_joint")))
    hc = (cc.crossJoin(F.broadcast(tot))
          .agg(F.sum(-(F.col("cx").cast("double") / F.col("n"))
                     * F.log(F.col("cx").cast("double") / F.col("n")))
               .alias("h_context")))
    return (tot.crossJoin(F.broadcast(hj)).crossJoin(F.broadcast(hc))
            .select(F.col("n").alias("n_bigrams"), "v_bigrams",
                    exact.snap_double_col("h_joint", 6).alias("h_joint_nats"),
                    exact.snap_double_col("h_context", 6).alias("h_context_nats"),
                    exact.snap_double_col(F.col("h_joint") - F.col("h_context"), 6)
                    .alias("h_conditional_nats"),
                    exact.snap_double_col(F.exp(F.col("h_joint") - F.col("h_context")), 6).alias("perplexity_per_token")))


_KW_CRIT_DF19 = 30.1435272056  # chi-square df=19 (20 sources), 5%


@query("source_ranking_concordance", oracle=f"""
WITH tf AS (
  SELECT source, tok AS term, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY source, tok),
met AS (
  SELECT source,
    CAST(floor((CAST(count_if(f = 1) AS DOUBLE) / COUNT(*)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS hapax_ratio,
    CAST(floor((CAST(COUNT(*) AS DOUBLE) / SUM(f)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS type_token,
    CAST(SUM(f) AS BIGINT) AS n_tokens
  FROM tf GROUP BY source),
r AS (
  SELECT source,
    row_number() OVER (ORDER BY hapax_ratio, source) AS r1,
    row_number() OVER (ORDER BY type_token, source) AS r2,
    row_number() OVER (ORDER BY n_tokens, source) AS r3
  FROM met),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sum_r2,
    CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sum_r
  FROM r)
SELECT n AS n_sources,
  CAST(floor(((12.0 * (sum_r2 - CAST(sum_r AS DOUBLE) * sum_r / n)) / (9.0 * n * (n * n - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS kendalls_w,
  CAST(floor((3 * (n - 1) * (12.0 * (sum_r2 - CAST(sum_r AS DOUBLE) * sum_r / n)) / (9.0 * n * (n * n - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS chi2,
  CAST(floor((3 * (n - 1) * (12.0 * (sum_r2 - CAST(sum_r AS DOUBLE) * sum_r / n)) / (9.0 * n * (n * n - 1))) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) > {_KW_CRIT_DF19}
    AS rankings_agree
FROM s""")
def source_ranking_concordance(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Kendall's W concordance across three independent per-source
    quality signals — hapax ratio, type-token ratio, and corpus size —
    each ranking the 20 sources: W near 1 means the signals agree on
    which sources are "good" (one can gate on any of them); W near 0
    means they measure DIFFERENT things and the mixture policy needs
    all three.  This is the meta-analysis a curation team runs before
    collapsing its signal zoo into one score; the chi-square
    m(n−1)W tests agreement against the random-rankings null.

    Determinism: metrics snap to 9 dp and ranks break ties by source
    name (exact ties of 9-dp continuous ratios are measure-zero; the
    tie-break is stated), so the rank matrix is identical in both
    engines and S = Σ(R_i)² stays exact BIGINT; W is one fixed-shape
    double.  Shape: one (source, term) aggregate, three rank windows
    over the 20-row source table, a 1-row reduce."""
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (t["documents"]
          .select("source", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("source", "term")
          .agg(F.count("*").cast("long").alias("f")))
    met = (tf.groupBy("source")
           .agg(exact.snap_double_col(F.count_if(F.col("f") == 1).cast("double") / F.count("*"), 9).alias("hapax_ratio"),
                exact.snap_double_col(F.count("*").cast("double") / F.sum("f"), 9)
                 .alias("type_token"),
                F.sum("f").cast("long").alias("n_tokens")))
    r = met.select(
        "source",
        F.row_number().over(Window.orderBy("hapax_ratio", "source"))
         .alias("r1"),
        F.row_number().over(Window.orderBy("type_token", "source"))
         .alias("r2"),
        F.row_number().over(Window.orderBy("n_tokens", "source"))
         .alias("r3"))
    rsum = F.col("r1") + F.col("r2") + F.col("r3")
    s = r.agg(F.count("*").cast("long").alias("n"),
              F.sum(rsum * rsum).cast("long").alias("sum_r2"),
              F.sum(rsum).cast("long").alias("sum_r"))
    n, sr2, sr = F.col("n"), F.col("sum_r2"), F.col("sum_r")
    w = (12.0 * (sr2 - sr.cast("double") * sr / n)) \
        / (9.0 * n * (n * n - 1))
    chi2 = exact.snap_double_col(3 * (n - 1) * w, 6)
    return s.select(n.alias("n_sources"),
                    exact.snap_double_col(w, 6).alias("kendalls_w"),
                    chi2.alias("chi2"),
                    (chi2 > _KW_CRIT_DF19).alias("rankings_agree"))


@query("text_theil_inequality_decomposition", oracle="""
WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
  FROM d),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS ng,
    CAST(SUM(x) AS BIGINT) AS sg
  FROM d GROUP BY source),
t_tot AS (
  SELECT SUM((CAST(x AS DOUBLE) * n / sx)
             * ln(CAST(x AS DOUBLE) * n / sx)) / MAX(n) AS theil
  FROM d CROSS JOIN tot),
t_btw AS (
  SELECT SUM((CAST(sg AS DOUBLE) / sx)
             * ln((CAST(sg AS DOUBLE) * n) / (CAST(ng AS DOUBLE) * sx)))
    AS theil_b
  FROM g CROSS JOIN tot)
SELECT (SELECT n FROM tot) AS n_docs,
  CAST(floor((theil) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS theil_total,
  CAST(floor((theil_b) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS theil_between,
  CAST(floor((theil - theil_b) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS theil_within,
  CAST(floor((theil_b / theil) * 1000000.0 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS between_share
FROM t_tot CROSS JOIN t_btw""")
def text_theil_inequality_decomposition(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Theil T inequality of document lengths with its EXACT
    between/within-source decomposition — the property Gini famously
    lacks: T = T_between + Σ weighted within-source T's, so
    between_share says how much of the corpus's length inequality is
    a SOURCE-mix effect (fix by re-weighting sources) versus
    within-source spread (fix by per-source length filters).  The
    additive split is the actionable part; the concentration entry's
    Gini/HHI can only report the total.

    Per-row x·ln(x) terms are identical doubles in both engines; the
    (order-noisy ~1e-15) sums snap at 6, and the within term derives
    from the additivity identity rather than a second per-row pass.
    Shape: one 1-row moment reduce + one source-level aggregate."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "source", F.col("n_chars").cast("long").alias("x"))
    tot = d.agg(F.count("*").cast("long").alias("n"),
                F.sum("x").cast("long").alias("sx"))
    ratio = F.col("x").cast("double") * F.col("n") / F.col("sx")
    t_tot = (d.crossJoin(F.broadcast(tot))
             .agg((F.sum(ratio * F.log(ratio)) / F.max("n"))
                  .alias("theil"),
                  F.max("n").alias("n_docs")))
    g = d.groupBy("source").agg(F.count("*").cast("long").alias("ng"),
                                F.sum("x").cast("long").alias("sg"))
    gr = (F.col("sg").cast("double") * F.col("n")
          / (F.col("ng").cast("double") * F.col("sx")))
    t_btw = (g.crossJoin(F.broadcast(tot))
             .agg(F.sum((F.col("sg").cast("double") / F.col("sx"))
                        * F.log(gr)).alias("theil_b")))
    out = t_tot.crossJoin(F.broadcast(t_btw))
    return out.select(
        "n_docs",
        exact.snap_double_col("theil", 6).alias("theil_total"),
        exact.snap_double_col("theil_b", 6).alias("theil_between"),
        exact.snap_double_col(F.col("theil") - F.col("theil_b"), 6)
         .alias("theil_within"),
        exact.snap_double_col(F.col("theil_b") / F.col("theil"), 6)
         .alias("between_share"))
