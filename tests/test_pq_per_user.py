"""Per-user PQ codebooks (quantizer='pq_user'): the PQ analog of the
per-user SQ skew mitigation. The r5 measurement that motivated per-user
codebooks was taken ON PQ (tools/pq_recall_skew.py: minority-user
rerank40 recall@10 0.883 vs 0.975 under the shared codebook); this
suite gates that the per-user mode closes the gap on the same scenario,
and that encode/search/save/load round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.index.multi_ivf import (
    build_multi_ivf,
    multi_ivf_load,
    multi_ivf_save,
    multi_ivf_search,
    multi_ivf_search_batch,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """Dominant in-distribution user 0, off-distribution minority user 1
    (the tools/pq_recall_skew.py scenario at test scale)."""
    rng = np.random.default_rng(7)
    dim = 16
    dom = rng.normal(0.0, 1.0, (800, dim))
    off = rng.normal(4.0, 0.5, (120, dim))
    rows = [(0, i, [float(x) for x in dom[i]]) for i in range(len(dom))] + [
        (1, 1000 + i, [float(x) for x in off[i]]) for i in range(len(off))
    ]
    df = spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<double>"
    )
    return df, dom, off


FULL_PROBE = dict(num_probes=4, centroid_distance_ratio=None)


def _recall(idx, exact_idx, user, queries, k=10, **kw):
    hits = []
    for q in queries:
        q = [float(x) for x in q]
        truth = {r["id"] for r in
                 multi_ivf_search(exact_idx, user, q, k, **FULL_PROBE).collect()}
        got = {r["id"] for r in
               multi_ivf_search(idx, user, q, k, **FULL_PROBE, **kw).collect()}
        hits.append(len(got & truth) / k)
    return float(np.mean(hits))


@pytest.mark.slow
def test_per_user_pq_closes_minority_recall_gap(spark, skewed):
    df, dom, off = skewed
    kw = dict(num_centroids=4, seed=42, pq_subvectors=8, pq_centers=32)
    shared = build_multi_ivf(df, quantizer="pq", **kw)
    per_user = build_multi_ivf(df, quantizer="pq_user", **kw)
    exact = build_multi_ivf(df, num_centroids=4, seed=42)

    rng = np.random.default_rng(3)
    queries = off[rng.choice(len(off), 8, replace=False)]
    shared_rec = _recall(shared, exact, 1, queries, rerank=40)
    per_user_rec = _recall(per_user, exact, 1, queries, rerank=40)
    # the per-user codebook must not be worse on the minority user and
    # must clear the recall bar the shared codebook misses in the
    # full-size measurement
    assert per_user_rec >= shared_rec
    assert per_user_rec >= 0.95
    # and the dominant user keeps its recall
    qd = dom[rng.choice(len(dom), 8, replace=False)]
    assert _recall(per_user, exact, 0, qd, rerank=40) >= 0.95


@pytest.mark.slow
def test_per_user_pq_save_load_roundtrip(spark, skewed, tmp_path):
    df, dom, off = skewed
    idx = build_multi_ivf(
        df, quantizer="pq_user", num_centroids=4, seed=42,
        pq_subvectors=8, pq_centers=16,
    )
    path = str(tmp_path / "pqidx")
    multi_ivf_save(idx, path)
    idx2 = multi_ivf_load(spark, path)
    assert idx2.quantizer == "pq_user"
    q = [float(x) for x in off[0]]
    a = [(r.id, round(r.score, 6)) for r in
         multi_ivf_search(idx, 1, q, 5, rerank=20, score_decimals=6,
                          **FULL_PROBE).collect()]
    b = [(r.id, round(r.score, 6)) for r in
         multi_ivf_search(idx2, 1, q, 5, rerank=20, score_decimals=6,
                          **FULL_PROBE).collect()]
    assert a == b and len(a) == 5


@pytest.mark.slow
def test_per_user_pq_batch_matches_single(spark, skewed):
    df, dom, off = skewed
    idx = build_multi_ivf(
        df, quantizer="pq_user", num_centroids=4, seed=42,
        pq_subvectors=8, pq_centers=16,
    )
    reqs = spark.createDataFrame(
        [(100, 0, [float(x) for x in dom[3]]),
         (200, 1, [float(x) for x in off[3]])],
        "request_id long, user_id long, query_vector array<double>",
    )
    by_req: dict = {}
    for r in multi_ivf_search_batch(
        idx, reqs, 5, rerank=20, score_decimals=6, **FULL_PROBE
    ).collect():
        by_req.setdefault(r.request_id, []).append((r.id, r.score))
    for rid, user, vec in ((100, 0, dom[3]), (200, 1, off[3])):
        single = [
            (r.id, r.score) for r in multi_ivf_search(
                idx, user, [float(x) for x in vec], 5,
                rerank=20, score_decimals=6, **FULL_PROBE,
            ).collect()
        ]
        assert sorted(by_req[rid]) == sorted(single)


def test_per_user_pq_missing_codebook_fails_loudly(spark, skewed):
    df, _, _ = skewed
    from muopdb_spark.index.pq import pq_encode_per_user, train_pq_per_user

    books = train_pq_per_user(
        df.filter("user_id = 0"), num_subvectors=8, num_centers=8
    )
    with pytest.raises(Exception, match="no PQ codebook"):
        pq_encode_per_user(df, books).collect()


@pytest.mark.slow
def test_collection_pq_user_quantizer_end_to_end(spark, tmp_path):
    """Collection-level quantizer='pq_user': insert -> flush ->
    build_index (per-user codebook table at the collection root, codes
    in the segment postings) -> ann_search with rerank == brute force;
    a second segment introducing a NEW user must extend the codebook
    table via the crash-safe swap."""
    from muopdb_spark.catalog import Collection, CollectionConfig
    from muopdb_spark.operators.knn import knn

    root = str(tmp_path / "pqucol")
    col = Collection.create(spark, root, CollectionConfig(
        name="pquc", num_features=4, quantizer="pq_user", num_centroids=2,
        pq_subvectors=2, pq_centers=8,
    ))
    rng = np.random.default_rng(11)
    batch1 = spark.createDataFrame(
        [(0, i, [float(x) for x in rng.uniform(0, 1, 4)]) for i in range(40)]
        + [(1, 100 + i, [float(x) for x in rng.uniform(50, 50.2, 4)])
           for i in range(20)],
        "user_id long, doc_id long, vector array<double>",
    )
    col.insert(batch1)
    col.flush()
    col.build_index()

    docs = col.docs()
    for user in (0, 1):
        qv = [float(x) for x in
              docs.filter(F.col("user_id") == user).first()["vector"]]
        got = [
            (r.id, round(r.score, 6))
            for r in col.ann_search(
                [user], qv, 5, num_probes=2, centroid_distance_ratio=None,
                rerank=30, score_decimals=6,
            ).collect()
        ]
        want = [
            (r.vec_id, round(r.score, 6))
            for r in knn(
                docs.filter(F.col("user_id") == user)
                .withColumnRenamed("doc_id", "vec_id"),
                qv, 5, vector_col="vector", score_decimals=6,
            ).collect()
        ]
        assert got == want

    # second segment with a brand-new user
    batch2 = spark.createDataFrame(
        [(7, 700 + i, [float(x) for x in rng.uniform(-9, -8.9, 4)])
         for i in range(15)],
        "user_id long, doc_id long, vector array<double>",
    )
    col.insert(batch2)
    col.flush()
    col.build_index()
    cb = spark.read.parquet(root + "/pquc/pq_codebook")
    assert {r.user_id for r in cb.select("user_id").collect()} == {0, 1, 7}
    qv = [float(x) for x in
          col.docs().filter(F.col("user_id") == 7).first()["vector"]]
    got = [
        r.id
        for r in col.ann_search(
            [7], qv, 5, num_probes=2, centroid_distance_ratio=None,
            rerank=30, score_decimals=6,
        ).collect()
    ]
    assert len(got) == 5 and all(700 <= i < 715 for i in got)


def test_pq_user_rejects_non_l2_metric(spark, tmp_path):
    from muopdb_spark.catalog import Collection, CollectionConfig

    with pytest.raises(ValueError, match="l2"):
        Collection.create(spark, str(tmp_path / "bad"), CollectionConfig(
            name="bad", num_features=4, quantizer="pq_user", metric="dot",
        ))
    with pytest.raises(ValueError, match="unknown quantizer"):
        CollectionConfig(name="x", num_features=4, quantizer="wat").validate()
