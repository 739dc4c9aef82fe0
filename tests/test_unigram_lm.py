"""Unigram-LM tokenizer pins: Viterbi DP against hand-worked cases,
EM behavior on a planted corpus, and normalization invariants."""

import math

import pytest

from results_ingestor_spark.operators.unigram_lm import (
    _viterbi, tokenize_with_unigram, train_unigram_lm)


def test_viterbi_hand_worked():
    logp = {"a": math.log(0.3), "b": math.log(0.2), "ab": math.log(0.4),
            "abc": math.log(0.1)}
    # 'ab' (0.4) beats 'a'+'b' (0.06); 'abc' (0.1) beats 'ab'+? (no c)
    assert _viterbi("ab", logp) == ["ab"]
    assert _viterbi("abc", logp) == ["abc"]
    # unreachable char falls back to char split
    assert _viterbi("xy", logp) == ["x", "y"]
    # tie on score -> fewer pieces wins
    tie = {"a": math.log(0.5), "aa": math.log(0.25)}
    assert _viterbi("aa", tie) == ["aa"]


def test_trains_planted_word_and_normalizes(spark):
    rows = [(i, "zqzv wk zqzv") for i in range(30)] + \
           [(100 + i, "wk mf") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab, lls = train_unigram_lm(docs, vocab_size=8, seed_size=50,
                                  em_iters=3)
    assert "LocalTableScan" in vocab._jdf.queryExecution().executedPlan().toString()
    v = {r["piece"]: r["logprob"] for r in vocab.collect()}
    # probabilities normalize exactly over the final inventory
    assert sum(math.exp(lp) for lp in v.values()) == pytest.approx(1.0)
    # the planted high-frequency word survives as one piece and wins
    # its own segmentation
    assert "zqzv" in v
    assert _viterbi("zqzv", v) == ["zqzv"]
    # every corpus character is segmentable
    for ch in "zqvwkmf":
        assert ch in v
    # Viterbi-EM: likelihood of the pre-prune iterations non-decreasing
    assert lls[1] >= lls[0] - 1e-9


def test_tokenize_docs_shapes(spark):
    docs = spark.createDataFrame(
        [(1, "zqzv wk zqzv"), (2, "wk")], "doc_id long, text string")
    vocab, _ = train_unigram_lm(docs, vocab_size=8, seed_size=50,
                                em_iters=2)
    logp = {r["piece"]: r["logprob"] for r in vocab.collect()}
    out = {r["doc_id"]: r for r in
           tokenize_with_unigram(docs, logp).collect()}
    assert out[1]["n_words"] == 3 and out[2]["n_words"] == 1
    assert out[1]["n_subwords"] >= out[1]["n_words"]
    assert 0 < out[1]["pieces_per_char"] <= 1.0
