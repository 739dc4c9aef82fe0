"""Unigram-LM subword tokenizer (SentencePiece-style) trained by
Viterbi-EM — the other half of the tokenizer-training family next to
BPE (operators/bpe.py).  Where BPE greedily MERGES, the unigram model
starts from an overcomplete piece inventory and PRUNES: pieces compete
to explain the corpus under a unigram likelihood, and the E-step's
best-path segmentation is what the trained tokenizer ships.

Published algorithm (Kudo 2018, "Subword Regularization"); this is the
deterministic Viterbi-EM variant (hard assignments instead of
forward-backward expectations — the standard simplification; Viterbi
likelihood is non-decreasing per iteration, which the tests pin).

Scale contract (mirrors BPE's):
- All heavy work happens on the DISTINCT-WORD vocabulary (one corpus
  shuffle to count words; everything after is vocabulary-sized, data-
  size independent).
- The piece table is bounded (seed cap, then pruned), lives as a
  broadcast python dict inside an Arrow-batched segmentation kernel,
  and is the ONLY thing the driver touches per iteration (the k×dim
  centroid contract).
- Per EM iteration: one mapInPandas over the word vocab + one piece-
  keyed hash aggregation.  Iterations are a fixed small count.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from results_ingestor_spark.sources.tables import local_relation

_MAX_PIECE_LEN = 6


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the corpus — the single data-sized shuffle."""
    return (docs
            .select(F.explode(F.split(F.lower(F.col(text_col)),
                                      r"[^a-z0-9]+")).alias("word"))
            .where(F.length("word") > 0)
            .groupBy("word").agg(F.count("*").alias("n")))


def seed_pieces(words: DataFrame, max_pieces: int = 200) -> DataFrame:
    """Overcomplete seed inventory: every substring of length
    2..{_MAX_PIECE_LEN} weighted by word frequency, capped to the
    ``max_pieces`` most frequent (ties: lexicographic) — PLUS every
    single character (never pruned: they guarantee any word stays
    segmentable).  Substring explosion is per-word bounded (≤ L·len),
    and runs on the word vocabulary."""
    subs = F.expr(f"""
        flatten(transform(sequence(1, char_length(word)),
          s -> transform(
                 sequence(2, least({_MAX_PIECE_LEN},
                                   char_length(word) - s + 1)),
                 l -> substring(word, s, l))))""")
    multi = (words.select(F.explode(subs).alias("piece"), "n")
             .groupBy("piece").agg(F.sum("n").alias("w"))
             .orderBy(F.desc("w"), F.asc("piece"))
             .limit(max_pieces))
    chars = (words.select(F.explode(F.split("word", "")).alias("piece"), "n")
             .where(F.length("piece") > 0)
             .groupBy("piece").agg(F.sum("n").alias("w")))
    return multi.unionByName(chars).groupBy("piece").agg(
        F.max("w").alias("w"))


def _viterbi(word: str, logp: dict[str, float]) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs; ties break
    toward FEWER pieces, then lexicographically smaller piece at the
    split — fully deterministic."""
    n = len(word)
    # (score, n_pieces, piece) per position; -inf start
    best: list[tuple[float, int, str | None, int]] = [
        (float("-inf"), 0, None, -1)] * (n + 1)
    best[0] = (0.0, 0, None, -1)
    for end in range(1, n + 1):
        for start in range(max(0, end - _MAX_PIECE_LEN), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None or best[start][0] == float("-inf"):
                continue
            cand = (best[start][0] + lp, best[start][1] + 1, piece, start)
            cur = best[end]
            if (cand[0] > cur[0]
                    or (cand[0] == cur[0] and cand[1] < cur[1])
                    or (cand[0] == cur[0] and cand[1] == cur[1]
                        and (cur[2] is None or cand[2] < cur[2]))):
                best[end] = cand
    if best[n][0] == float("-inf"):
        return list(word)  # unreachable once single chars are in vocab
    out: list[str] = []
    pos = n
    while pos > 0:
        _, _, piece, start = best[pos]
        out.append(piece)  # type: ignore[arg-type]
        pos = start
    return out[::-1]


def _segment_counts(words: DataFrame, logp: dict[str, float]) -> DataFrame:
    """mapInPandas E-step: Viterbi-segment each distinct word, emit
    (piece, count·word_freq) partials plus the per-word best-path
    log-likelihood (for the monotonicity pin)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pieces: list[str] = []
            counts: list[int] = []
            lls: list[float] = []
            for word, n in zip(pdf["word"], pdf["n"]):
                seg = _viterbi(word, logp)
                ll = sum(logp[p] for p in seg) * n
                lls.append(ll)
                for p in seg:
                    pieces.append(p)
                    counts.append(int(n))
            if pieces:
                yield pd.DataFrame({"piece": pieces, "c": counts,
                                    "ll": [0.0] * len(pieces)})
            if lls:
                yield pd.DataFrame({"piece": ["\x00ll"],
                                    "c": [0], "ll": [sum(lls)]})

    return words.mapInPandas(kernel, "piece string, c long, ll double")


def train_unigram_lm(docs: DataFrame, text_col: str = "text",
                     vocab_size: int = 64, seed_size: int = 200,
                     em_iters: int = 3) -> tuple[DataFrame, list[float]]:
    """Train the unigram tokenizer; returns (vocab DataFrame with
    columns (piece, logprob, rank), per-iteration corpus Viterbi
    log-likelihoods).

    Loop: seed → [E: Viterbi counts, M: renormalize] × em_iters →
    prune to ``vocab_size`` multi-char pieces by probability (single
    chars always survive) → one final EM pass on the pruned inventory.
    """
    from results_ingestor_spark.operators.ckpt import CheckpointScope

    spark = docs.sparkSession
    # Storage lifecycle: the returned vocab is driver-built, so the
    # word-count checkpoint is released before returning.
    scope = CheckpointScope(docs)
    words = scope.checkpoint(word_counts(docs, text_col))
    seed = seed_pieces(words, seed_size).collect()  # piece-table sized
    total_w = sum(r["w"] for r in seed)
    logp = {r["piece"]: math.log(r["w"] / total_w) for r in seed}

    lls: list[float] = []
    for it in range(em_iters):
        agg = (_segment_counts(words, logp)
               .groupBy("piece")
               .agg(F.sum("c").alias("c"), F.sum("ll").alias("ll"))
               .collect())
        lls.append(sum(r["ll"] for r in agg))
        counts = {r["piece"]: r["c"] for r in agg if r["piece"] != "\x00ll"}
        # add-one over the CURRENT inventory keeps unused single chars
        # alive (prob floor) without letting them dominate
        tot = sum(counts.values()) + len(logp)
        logp = {p: math.log((counts.get(p, 0) + 1) / tot) for p in logp}
        if it == em_iters - 2:
            # prune before the last iteration: keep top multi-char
            # pieces by prob (ties lexicographic), all single chars
            multi = sorted((p for p in logp if len(p) > 1),
                           key=lambda p: (-logp[p], p))[:vocab_size]
            keep = set(multi) | {p for p in logp if len(p) == 1}
            logp = {p: lp for p, lp in logp.items() if p in keep}

    scope.release_all_except()
    rows = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = local_relation(
        spark, [(p, round(lp, 9), i) for i, (p, lp) in enumerate(rows)],
        "piece string, logprob double, rank int")
    return vocab, lls


def tokenize_with_unigram(docs: DataFrame, logp: dict[str, float],
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Apply a trained vocab: per-doc subword counts + compression
    ratio, segmentation work bounded by the distinct-word vocabulary
    (segment each word once, join back — the bpe_tokenize_docs shape).
    """
    w = (docs.select(id_col,
                     F.explode(F.split(F.lower(F.col(text_col)),
                                       r"[^a-z0-9]+")).alias("word"))
         .where(F.length("word") > 0))
    vocab_words = w.select("word").distinct()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "word": pdf["word"],
                "n_pieces": [len(_viterbi(x, logp)) for x in pdf["word"]],
            })

    seg = vocab_words.mapInPandas(kernel, "word string, n_pieces int")
    return (w.join(F.broadcast(seg), "word")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_words"),
                 F.sum("n_pieces").alias("n_subwords"),
                 F.round(F.sum("n_pieces").cast("double")
                         / F.sum(F.length("word")), 6)
                 .alias("pieces_per_char")))
