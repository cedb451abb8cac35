"""One probe rule, two shapes. A single request probes on the driver
(multi_ivf.probe, over the per-(segment, user) arrays a Collection
keeps); a batch probes with one window (multi_ivf.probe_window). On a
batch of one request both must pick the same (segment, user_id,
centroid_id) set: same scores, same (distance, centroid_id) order and
tie-break, same ratio prune."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.catalog.collection import Collection, CollectionConfig
from muopdb_spark.functions.distance import score_expr
from muopdb_spark.index.multi_ivf import (
    MultiIvfIndex, multi_ivf_save, probe, probe_window,
)

DIM = 6
USERS = [0, 1, 7]  # 0 in both segments, 1 only in "sb", 7 in none


def _centroids(rng) -> dict[tuple[str, int], np.ndarray]:
    a0 = rng.standard_normal((6, DIM))
    # rows 1, 3 and 4 are one vector, with the largest norm: a query
    # along it ties them first under l2, dot and cosine alike
    a0[1] = a0[3] = a0[4] = 5 * rng.standard_normal(DIM)
    return {("sa", 0): a0,
            ("sb", 0): rng.standard_normal((5, DIM)),
            ("sb", 1): rng.standard_normal((4, DIM))}


def _write_index(spark, col, seg, cents, metric):
    crows, prows = [], []
    for (s, u), m in cents.items():
        if s != seg:
            continue
        for c, v in enumerate(m):
            crows.append((u, c, [float(x) for x in v]))
            prows.append((u, c, 100 * u + c, [float(x) for x in v]))
    multi_ivf_save(MultiIvfIndex(
        centroids=spark.createDataFrame(
            crows, "user_id long, centroid_id int, centroid array<double>"),
        postings=spark.createDataFrame(
            prows, "user_id long, centroid_id int, id long, vector array<double>"),
        metric=metric,
    ), col._seg_index_dir(seg, "ivf"))


@pytest.fixture(scope="module", params=["l2", "dot", "cosine"])
def indexed(request, spark, tmp_path_factory):
    """(collection, queries) over hand-written two-segment indexes."""
    metric = request.param
    rng = np.random.default_rng(11)
    cents = _centroids(rng)
    col = Collection.create(spark, str(tmp_path_factory.mktemp(metric)),
                            CollectionConfig(name="p", num_features=DIM, metric=metric))
    for seg in ("sa", "sb"):
        _write_index(spark, col, seg, cents, metric)
    col._commit_toc(["sa", "sb"], -1, indexes={"sa": ["ivf"], "sb": ["ivf"]})
    queries = [cents[("sa", 0)][1].copy(), *rng.standard_normal((3, DIM))]
    return col, queries


def _probe(col, segs, users, q, num_probes, ratio):
    """segment -> user_id -> probed centroid ids, as ann_search probes."""
    arrays = col._centroid_arrays(segs, users)
    out = {}
    for s in segs:
        probed = probe({u: arrays[s][u] for u in users}, col.config.metric, q,
                       num_probes, ratio)
        if probed:
            out[s] = probed
    return out


def _window_probe(spark, index, users, q, num_probes, ratio):
    """probe_window over a batch holding one request for `users`."""
    req = spark.createDataFrame(
        [(0, u, [float(x) for x in q]) for u in users],
        "request_id long, user_id long, qv array<double>")
    scored = req.join(index.centroids, "user_id").withColumn(
        "d", score_expr(index.metric, F.col("centroid"), F.col("qv")))
    return probe_window(scored, ["request_id", "user_id"], num_probes, ratio)


@pytest.mark.parametrize("ratio", [None, 0.1])
@pytest.mark.parametrize("num_probes", [1, 3])
def test_driver_probe_matches_windowed_probe(spark, indexed, num_probes, ratio):
    col, queries = indexed
    segs = col.toc()["segments"]
    for q in queries:
        want = {
            (s, r["user_id"], r["centroid_id"])
            for s in segs
            for r in _window_probe(spark, col.load_segment_index(s), USERS, q,
                                   num_probes, ratio).collect()
        }
        got = {
            (s, u, c)
            for s, probed in _probe(col, segs, USERS, q, num_probes, ratio).items()
            for u, cids in probed.items() for c in cids
        }
        assert got == want
        assert {u for _, u, _ in got} <= {0, 1}


def test_ties_break_by_centroid_id(indexed):
    col, queries = indexed
    probed = _probe(col, ["sa"], [0], queries[0], 2, None)
    assert probed == {"sa": {0: [1, 3]}}


def test_user_in_one_segment_and_unknown_user(indexed):
    col, queries = indexed
    probed = _probe(col, ["sa", "sb"], [1, 7], queries[1], 2, None)
    assert list(probed) == ["sb"] and list(probed["sb"]) == [1]
    assert _probe(col, ["sa", "sb"], [7], queries[1], 2, None) == {}
    assert col.ann_search([7], queries[1], 5).collect() == []
