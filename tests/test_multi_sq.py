"""Per-user SQ codebooks in the multi-user index (index/sq.py
train_sq_per_user + multi_ivf quantizer="sq"): the r5-measured
minority-user recall-skew mitigation (tools/pq_recall_skew.py found
recall@10 0.883 vs 0.975 rerank40 for an off-distribution user under
the shared codebook).  Gates: (1) estimate->rerank stays exact on the
contract shape, (2) per-user quantization error is ORDERS smaller than
the shared codebook's for an off-distribution minority user, (3) the
artifact round-trips through save/load, (4) batch == per-request."""

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
from muopdb_spark.index.sq import train_sq, train_sq_per_user

DIM = 8


@pytest.fixture(scope="module")
def skewed(spark):
    """User 0 (majority): 300 vectors in [0, 1]^d.  User 1 (minority,
    off-distribution): 60 vectors in [100, 100.1]^d — a sliver of the
    pooled range, the shape that starves a shared quantizer."""
    rng = np.random.default_rng(3)
    rows = []
    for i in range(300):
        rows.append((0, i, [float(x) for x in rng.uniform(0, 1, DIM)]))
    for i in range(60):
        rows.append((1, 1000 + i, [float(x) for x in rng.uniform(100, 100.1, DIM)]))
    return spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<double>"
    ).cache()


@pytest.fixture(scope="module")
def sq_index(skewed):
    return build_multi_ivf(
        skewed, num_centroids=3, seed=5, quantizer="sq", training_sample=1000
    )


def _brute(skewed, user, qv, k):
    rows = skewed.filter(F.col("user_id") == user).collect()
    scored = sorted(
        (float(np.linalg.norm(np.array(r.vector) - np.array(qv))), r.doc_id)
        for r in rows
    )
    return [(i, round(s, 6)) for s, i in scored[:k]]


@pytest.mark.parametrize("user", [0, 1])
def test_sq_rerank_exact_per_user(spark, skewed, sq_index, user):
    qv = skewed.filter(F.col("user_id") == user).first()["vector"]
    got = [
        (r.id, r.score)
        for r in multi_ivf_search(
            sq_index, user, qv, 5, num_probes=3,
            centroid_distance_ratio=None, rerank=30, score_decimals=6,
        ).collect()
    ]
    assert got == _brute(skewed, user, qv, 5)


def test_per_user_codebook_fixes_minority_resolution(spark, skewed):
    # shared codebook: scale ~ (100.1 - 0) / 255 ~ 0.39 per step, so
    # user 1's whole 0.1-wide range collapses into one quantization
    # step; per-user codebook resolves it at (0.1 / 255) per step.
    shared = train_sq(skewed, vec_col="vector")
    per_user = train_sq_per_user(skewed, vec_col="vector")
    u1 = {r.user_id: (r.mins, r.scales) for r in per_user.collect()}[1]
    rows = skewed.filter(F.col("user_id") == 1).collect()
    X = np.array([r.vector for r in rows])

    def mse(mins, scales):
        m, s = np.array(mins), np.array(scales)
        codes = np.clip(np.round((X - m) / s), 0, 255)
        return float(((m + codes * s - X) ** 2).mean())

    err_shared = mse(shared.mins, shared.scales)
    err_per_user = mse(*u1)
    assert err_per_user < err_shared / 100


def test_sq_save_load_roundtrip(spark, skewed, sq_index, tmp_path):
    path = str(tmp_path / "midx")
    multi_ivf_save(sq_index, path)
    back = multi_ivf_load(spark, path)
    assert back.quantizer == "sq"
    qv = skewed.filter(F.col("user_id") == 1).first()["vector"]
    a = multi_ivf_search(
        sq_index, 1, qv, 5, num_probes=3,
        centroid_distance_ratio=None, rerank=30, score_decimals=6,
    ).collect()
    b = multi_ivf_search(
        back, 1, qv, 5, num_probes=3,
        centroid_distance_ratio=None, rerank=30, score_decimals=6,
    ).collect()
    assert [(r.id, r.score) for r in a] == [(r.id, r.score) for r in b]


def test_sq_batch_equals_per_request(spark, skewed, sq_index):
    q0 = skewed.filter(F.col("user_id") == 0).first()["vector"]
    q1 = skewed.filter(F.col("user_id") == 1).first()["vector"]
    reqs = spark.createDataFrame(
        [(0, 0, q0), (1, 1, q1)],
        "request_id long, user_id long, query_vector array<double>",
    )
    batch = multi_ivf_search_batch(
        sq_index, reqs, 5, num_probes=3,
        centroid_distance_ratio=None, rerank=30, score_decimals=6,
    ).collect()
    by_req = {}
    for r in batch:
        by_req.setdefault(r.request_id, []).append((r.id, r.score))
    for rid, user, qv in [(0, 0, q0), (1, 1, q1)]:
        single = [
            (r.id, r.score)
            for r in multi_ivf_search(
                sq_index, user, qv, 5, num_probes=3,
                centroid_distance_ratio=None, rerank=30, score_decimals=6,
            ).collect()
        ]
        assert sorted(by_req[rid]) == sorted(single)


@pytest.mark.slow
def test_collection_sq_quantizer_end_to_end(spark, tmp_path):
    """Collection-level quantizer='sq': insert -> flush -> build_index
    (per-user codebook at the collection root, codes in the segment
    postings) -> ann_search with rerank == brute force.  A second
    segment then introduces a NEW user; build_index must extend the
    codebook table rather than drop the user's postings."""
    from muopdb_spark.catalog import Collection, CollectionConfig
    from muopdb_spark.operators.knn import knn

    root = str(tmp_path / "sqcol")
    col = Collection.create(spark, root, CollectionConfig(
        name="sqc", num_features=4, quantizer="sq", num_centroids=2,
    ))
    rng = np.random.default_rng(11)
    batch1 = spark.createDataFrame(
        [(0, i, [float(x) for x in rng.uniform(0, 1, 4)]) for i in range(40)]
        + [(1, 100 + i, [float(x) for x in rng.uniform(50, 50.2, 4)]) for i in range(20)],
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

    # second segment with a brand-new user (off-distribution range)
    batch2 = spark.createDataFrame(
        [(7, 700 + i, [float(x) for x in rng.uniform(-9, -8.9, 4)]) for i in range(15)],
        "user_id long, doc_id long, vector array<double>",
    )
    col.insert(batch2)
    col.flush()
    col.build_index()
    cb = spark.read.parquet(col.root + "/sq_codebook")
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


def test_sq_rejects_non_l2_metric(spark, tmp_path):
    """quantizer='sq' under dot/cosine would rank candidates by the
    WRONG metric (the SQ estimator is an L2 distance) — the config
    guard must refuse at create time and at build time for
    pre-existing collections."""
    import pytest

    from muopdb_spark.catalog import Collection, CollectionConfig

    with pytest.raises(ValueError, match="l2"):
        Collection.create(spark, str(tmp_path / "bad"), CollectionConfig(
            name="bad", num_features=4, quantizer="sq", metric="cosine",
        ))
    # l2_squared is fine (monotone in the estimate)
    CollectionConfig(
        name="ok", num_features=4, quantizer="sq", metric="l2_squared"
    ).validate()


def test_sq_codebook_swap_is_crash_recoverable(spark, tmp_path):
    """The root sq_codebook parquet is replaced via a two-rename swap;
    a crash INSIDE the swap window (current dir missing, .old present)
    must be recovered by the swap-aware reader, and stale .swap-*
    staging dirs must be swept."""
    import os
    import shutil

    from muopdb_spark.catalog.collection import (
        _read_swapped_parquet,
        _swap_parquet_dir,
    )

    path = str(tmp_path / "sq_codebook")
    df1 = spark.createDataFrame([(0, [0.0], [1.0])],
                                "user_id long, mins array<double>, scales array<double>")
    _swap_parquet_dir(df1, path)
    assert {r.user_id for r in spark.read.parquet(path).collect()} == {0}

    df2 = spark.createDataFrame([(0, [0.0], [1.0]), (1, [2.0], [3.0])],
                                "user_id long, mins array<double>, scales array<double>")
    _swap_parquet_dir(df2, path)
    assert not os.path.isdir(path + ".old")  # swap cleaned up
    assert {r.user_id for r in spark.read.parquet(path).collect()} == {0, 1}

    # simulate a crash between the two renames: current gone, .old left
    os.rename(path, path + ".old")
    # a FRESH staging dir may belong to a concurrent in-flight swap —
    # the r16 age-gated sweep must leave it alone...
    os.makedirs(path + ".swap-inflight")
    # ...while genuine crash debris (old mtime) is swept
    os.makedirs(path + ".swap-deadbeef")
    os.utime(path + ".swap-deadbeef", (1, 1))
    got = _read_swapped_parquet(spark, path)
    assert {r.user_id for r in got.collect()} == {0, 1}
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    assert not os.path.isdir(path + ".swap-deadbeef")
    assert os.path.isdir(path + ".swap-inflight")
    shutil.rmtree(path + ".swap-inflight", ignore_errors=True)
    shutil.rmtree(str(tmp_path / "sq_codebook"), ignore_errors=True)
