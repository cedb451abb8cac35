"""Distributed Bloom membership gate (operators/bloom.py): the
no-false-negative guarantee (exhaustive vs an exact referee), false
positives bounded and shrinking with m, word-table layout vs a numpy
referee bitmap, gate composition with the exact check, and plan
shape (join-based probe, zero Python)."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from muopdb_spark.operators.bloom import (
    _grams,
    bloom_build,
    bloom_gate,
    bloom_probe,
)


def _positions_py(gram: str, n_hashes: int, m_bits: int) -> list[int]:
    return [
        int(hashlib.md5(f"{i}:{gram}".encode()).hexdigest()[:8], 16)
        % m_bits
        for i in range(n_hashes)
    ]


def _grams_py(text: str, k: int) -> set[str]:
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    }


K, M, H = 3, 1 << 14, 4


def _bench_df(spark):
    rows = [(i, f"secret eval question {i} answer alpha beta gamma")
            for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_df(spark):
    rows = []
    for i in range(60):
        if i % 10 == 0:  # contaminated: contains a benchmark window
            t = f"intro text secret eval question {i // 10} tail words"
        else:
            t = f"clean document {i} with its own unique words w{i}a w{i}b"
        rows.append((i, t))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_table_matches_referee_bitmap(spark):
    bench = _bench_df(spark)
    table = {r["word_idx"]: r["bits"] for r in
             bloom_build(bench, k=K, m_bits=M, n_hashes=H).collect()}
    # referee: set bits for every distinct gram's positions
    want: dict[int, int] = {}
    for _id, text in _bench_df(spark).collect():
        for g in _grams_py(text, K):
            for p in _positions_py(g, H, M):
                want[p >> 6] = want.get(p >> 6, 0) | (1 << (p & 63))
    # signed-long wraparound: python ints may exceed 2^63 only if bit
    # 63 is set — normalize both sides to unsigned
    got = {w: b & ((1 << 64) - 1) for w, b in table.items()}
    assert got == want


@pytest.mark.slow
def test_no_false_negatives_and_bounded_false_positives(spark):
    bench, corpus = _bench_df(spark), _corpus_df(spark)
    bloom = bloom_build(bench, k=K, m_bits=M, n_hashes=H)
    out = {r["doc_id"]: (r["n_grams"], r["n_maybe"]) for r in
           bloom_probe(corpus, bloom, k=K, m_bits=M, n_hashes=H)
           .collect()}
    bench_grams = set()
    for _id, text in bench.collect():
        bench_grams |= _grams_py(text, K)
    for did, text in corpus.collect():
        grams = _grams_py(text, K)
        true_hits = len(grams & bench_grams)
        n_grams, n_maybe = out[did]
        assert n_grams == len(grams)
        # soundness: every true member is a maybe
        assert n_maybe >= true_hits, did
    # contaminated docs are flagged
    assert all(out[d][1] > 0 for d in range(0, 60, 10))
    # false positives exist at most rarely at this sizing: clean docs
    # share no grams with the bench, so their maybes are all FPs
    fp = sum(out[d][1] for d in range(60) if d % 10 != 0)
    total_clean_grams = sum(out[d][0] for d in range(60) if d % 10 != 0)
    assert fp / total_clean_grams < 0.05


@pytest.mark.slow
def test_false_positive_rate_shrinks_with_m(spark):
    bench, corpus = _bench_df(spark), _corpus_df(spark)
    rates = []
    for m in (1 << 8, 1 << 16):
        bloom = bloom_build(bench, k=K, m_bits=m, n_hashes=H)
        out = bloom_probe(corpus, bloom, k=K, m_bits=m, n_hashes=H) \
            .collect()
        clean = [r for r in out if r["doc_id"] % 10 != 0]
        rates.append(sum(r["n_maybe"] for r in clean)
                     / sum(r["n_grams"] for r in clean))
    assert rates[1] < rates[0]
    assert rates[1] < 0.01


def test_gate_provably_clean_and_short_docs(spark):
    bench = _bench_df(spark)
    bloom = bloom_build(bench, k=K, m_bits=M, n_hashes=H)
    corpus = spark.createDataFrame(
        [(0, "secret eval question 3 leaked here"),
         (1, "totally unrelated content qqq www eee"),
         (2, "tiny")],  # shorter than k -> no grams -> clean
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["provably_clean"] for r in
           bloom_gate(corpus, bloom, k=K, m_bits=M, n_hashes=H)
           .collect()}
    assert got[0] is False
    assert got[2] is True
    # doc 1 is clean unless an FP fires; at m=2^14 over ~60 grams the
    # chance is negligible and the build is deterministic, so pin it
    assert got[1] is True


def test_probe_plan_is_join_based_zero_python(spark):
    bench = _bench_df(spark)
    bloom = bloom_build(bench, k=K, m_bits=M, n_hashes=H)
    corpus = _corpus_df(spark)
    plan = bloom_probe(corpus, bloom, k=K, m_bits=M, n_hashes=H) \
        ._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "Join" in plan


def test_validation():
    with pytest.raises(ValueError, match="bloom_build"):
        bloom_build(None, k=0)  # type: ignore[arg-type]
    with pytest.raises(ValueError, match="bloom_probe"):
        bloom_probe(None, None, m_bits=8)  # type: ignore[arg-type]


def test_grams_match_referee(spark):
    df = spark.createDataFrame(
        [(0, "Alpha, beta GAMMA delta!"), (1, "x")],
        "doc_id long, text string",
    )
    got = {(r["id"], r["gram"]) for r in _grams(df, "text", "doc_id", 2)
           .collect()}
    assert got == {(0, "alpha beta"), (0, "beta gamma"),
                   (0, "gamma delta")}
