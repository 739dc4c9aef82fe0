"""WordPiece merge training — BPE's loop with the likelihood objective.

WordPiece (Schuster & Nakajima 2012; the BERT tokenizer's trainer)
differs from BPE in exactly one place: instead of merging the most
FREQUENT adjacent pair, it merges the pair maximizing
count(ab) / (count(a) * count(b)) — the pair whose merge most improves
a unigram language model's corpus likelihood.  Everything else (word
vocabulary with frequencies, greedy non-overlapping rewrite, iteration
state) is shared with operators/bpe.py, and so is the scale contract:
one corpus shuffle up front, then vocabulary-sized iterations with a
single-row driver argmax per merge.

The selection score is one IEEE double division of two exact integers
(pair count / product of symbol counts) — correctly rounded and
therefore bit-identical in any engine, so the trainer is
value-checkable against an unrolled-CTE oracle just like the BPE one.
The '##' continuation-prefix surface form of BERT vocabularies is a
rendering choice; the end-of-word marker formulation here keeps the
symbol algebra identical to the BPE operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from results_ingestor_spark.operators.bpe import _pair_counts, greedy_merges

WP_SCHEMA = T.StructType([
    T.StructField("merge_rank", T.IntegerType(), False),
    T.StructField("left", T.StringType(), False),
    T.StructField("right", T.StringType(), False),
    T.StructField("merged", T.StringType(), False),
    T.StructField("pair_count", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def train_wordpiece_merges(docs: DataFrame, n_merges: int = 8,
                           text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` WordPiece merges.  Returns
    (merge_rank, left, right, merged, pair_count, score) with score
    rounded to 12 dp for display; selection happens on the raw double
    (exact-integer division — no rounding needed for determinism)
    under the (score DESC, left ASC, right ASC) tie-break."""
    def most_likely(words: DataFrame) -> Row | None:
        sym_counts = (words
                      .select("cnt", F.explode("symbols").alias("s"))
                      .groupBy("s").agg(F.sum("cnt").alias("sc")))
        ca = sym_counts.select(F.col("s").alias("a"),
                               F.col("sc").alias("ca"))
        cb = sym_counts.select(F.col("s").alias("b"),
                               F.col("sc").alias("cb"))
        scored = (_pair_counts(words).join(F.broadcast(ca), "a")
                  .join(F.broadcast(cb), "b")
                  .select("a", "b", "c",
                          (F.col("c").cast("double")
                           / (F.col("ca") * F.col("cb"))).alias("score")))
        return (scored.orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
                .first())

    merges = greedy_merges(docs, n_merges, text_col, most_likely,
                           lambda top: (round(float(top["score"]), 12),))
    return docs.sparkSession.createDataFrame(merges, WP_SCHEMA)
