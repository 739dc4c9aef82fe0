"""Text-analysis operators over the ``documents`` table (north-star M3).

All operators are pure built-in expression pipelines (whole-stage
codegen, zero Python in the hot path) and have exact DuckDB twins in
plans/text_q.py.  Documents are space-separated token streams; the
tokenizer is a literal-space split shared by every operator here.

At 100 TB these are narrow map-side transforms — they scale with input
splits and never shuffle except where a groupBy is the point (n-gram
counts).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language marker tokens for the language-ID heuristic.  A real
# deployment ships per-language character-n-gram profiles (the same
# argmax-over-profile-scores structure); the corpus here shares one
# synthetic vocabulary, so the profiles are small token sets chosen to
# be deterministic, not linguistically meaningful.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("batch", "window", "vector"),
    "en": ("the", "a", "table"),
    "es": ("data", "query", "row"),
    "fr": ("order", "value", "agg"),
    "zh": ("join", "merge", "line"),
}

STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_expr(tokens_sql: str, n: int = 3) -> Column:
    """Distinct word n-grams from a SQL expression producing an array.

    Guarded: docs shorter than ``n`` tokens yield one whole-doc shingle
    (Spark's sequence(1, 0) would count *down*, not return empty).

    DuckDB twin: ``list_distinct([array_to_string(t[i:i+{n-1}], ' ')
    for i in range(1, len(t) - {n-1})])``.
    """
    return F.expr(
        f"array_distinct(CASE WHEN size({tokens_sql}) >= {n} THEN "
        f"transform(sequence(1, size({tokens_sql}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({tokens_sql}, i, {n}))) "
        f"ELSE array(concat_ws(' ', {tokens_sql})) END)")


def stopword_ratio(text: Column | str = "text") -> Column:
    toks = tokens(text)
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    hits = F.expr(f"size(filter(split(text, ' '), t -> t IN ({in_list})))")
    return hits.cast("double") / F.size(toks)


def lang_scores(text_col: str = "text") -> list[Column]:
    """One marker-hit-count column per language (``score_<lang>``)."""
    cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        in_list = ", ".join(f"'{m}'" for m in markers)
        cols.append(
            F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({in_list})))")
            .alias(f"score_{lang}"))
    return cols


def lang_predict() -> Column:
    """Argmax over score_<lang> columns with alphabetical tie-break —
    apply after selecting lang_scores()."""
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    expr = F.lit(None).cast("string")
    # reverse order so earlier (alphabetically first) langs win ties
    for lg in reversed(langs):
        expr = F.when(F.col(f"score_{lg}") == best, F.lit(lg)).otherwise(expr)
    return expr


def fingerprint_canonical(text: Column | str = "text") -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — the classic near-canonical doc fingerprint."""
    return F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens(text)))))
