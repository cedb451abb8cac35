"""DSIR importance resampling (arXiv:2302.03169): separability (docs
resembling the target score higher), determinism/partition-invariance,
Gumbel-top-k sampling behavior, and the gram-less-document edge."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from muopdb_spark.operators.dsir import (
    dsir_log_ratios,
    dsir_sample,
    dsir_weights,
    hashed_ngram_buckets,
)


@pytest.fixture(scope="module")
def corpora(spark):
    """Raw corpus = half 'sciencey' docs, half 'webby' docs; target =
    pure sciencey. DSIR must rank the sciencey half above the webby."""
    sci = "the experiment measured the quantum spectrum of the sample"
    web = "click here to win a free prize and subscribe to our deals"
    raw_rows = []
    for i in range(40):
        base = sci if i % 2 == 0 else web
        # vary a suffix token so docs are not identical
        raw_rows.append((i, f"{base} item{i}"))
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, "the spectrum experiment measured a quantum sample today")
         for i in range(10)],
        "doc_id long, text string",
    )
    return raw, target


def test_dsir_separates_target_like_docs(spark, corpora):
    raw, target = corpora
    ratios = dsir_log_ratios(raw, target, n_buckets=1024)
    w = dsir_weights(raw, ratios, n_buckets=1024).collect()
    sci = [r.log_weight for r in w if r.doc_id % 2 == 0]
    webby = [r.log_weight for r in w if r.doc_id % 2 == 1]
    assert min(sci) > max(webby)  # clean separation on this fixture
    assert all(r.n_grams > 0 for r in w)


@pytest.mark.slow
def test_dsir_weights_partition_invariant(spark, corpora):
    raw, target = corpora
    ratios = dsir_log_ratios(raw, target, n_buckets=512)
    a = {(r.doc_id, round(r.log_weight, 9))
         for r in dsir_weights(raw, ratios, n_buckets=512).collect()}
    b = {(r.doc_id, round(r.log_weight, 9))
         for r in dsir_weights(raw.repartition(13), ratios,
                               n_buckets=512).collect()}
    assert a == b


@pytest.mark.slow
def test_dsir_sample_gumbel_top_k(spark, corpora):
    raw, target = corpora
    ratios = dsir_log_ratios(raw, target, n_buckets=1024)
    w = dsir_weights(raw, ratios, n_buckets=1024)
    got = dsir_sample(w, n=10).collect()
    assert len(got) == 10
    # reproduce the Gumbel keys in plain Python
    rows = {r.doc_id: r.log_weight for r in w.collect()}
    keys = {}
    for d, lw in rows.items():
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 2**32
        keys[d] = round(lw + -math.log(-math.log(u)), 6)
    expect = sorted(rows, key=lambda d: (-keys[d], d))[:10]
    assert [r.doc_id for r in got] == expect
    # high-weight docs dominate the selected set
    assert sum(1 for r in got if r.doc_id % 2 == 0) >= 8
    # a different salt draws a different sample
    other = [r.doc_id for r in dsir_sample(w, n=10, salt="b").collect()]
    assert other != [r.doc_id for r in got]


def test_dsir_gramless_doc_defined(spark, corpora):
    raw, target = corpora
    with_empty = raw.unionByName(
        spark.createDataFrame([(999, "...")], "doc_id long, text string")
    )
    ratios = dsir_log_ratios(with_empty, target, n_buckets=256)
    w = {r.doc_id: (r.n_grams, r.log_weight)
         for r in dsir_weights(with_empty, ratios, n_buckets=256).collect()}
    assert w[999] == (0, 0.0)


def test_dsir_bucket_rule_matches_reference_md5(spark):
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    got = {r.bucket for r in hashed_ngram_buckets(df, n_buckets=64).collect()}
    expect = {
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 64
        for g in ("alpha", "beta", "alpha beta")
    }
    assert got == expect
