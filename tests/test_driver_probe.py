"""Collection.ann_search's phase 1 runs on the driver (Collection._probe).
It must pick the same (segment, user_id, centroid_id) set as multi_ivf's
windowed Spark probe (_probed_pairs) on each segment's loaded index:
same scores, same (distance, centroid_id) order and tie-break, same
ratio prune."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.catalog.collection import Collection, CollectionConfig
from muopdb_spark.index.multi_ivf import MultiIvfIndex, _probed_pairs, multi_ivf_save

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


@pytest.mark.parametrize("ratio", [None, 0.1])
@pytest.mark.parametrize("num_probes", [1, 3])
def test_driver_probe_matches_windowed_probe(indexed, num_probes, ratio):
    col, queries = indexed
    segs = col.toc()["segments"]
    for q in queries:
        qv = F.lit([float(x) for x in q]).cast("array<double>")
        want = {
            (s, r["user_id"], r["centroid_id"])
            for s in segs
            for r in _probed_pairs(col.load_segment_index(s), USERS, qv,
                                   num_probes, ratio).collect()
        }
        got = {
            (s, u, c)
            for s, probed in col._probe(segs, USERS, q, num_probes, ratio).items()
            for u, cids in probed.items() for c in cids
        }
        assert got == want
        assert {u for _, u, _ in got} <= {0, 1}


def test_ties_break_by_centroid_id(indexed):
    col, queries = indexed
    probed = col._probe(["sa"], [0], queries[0], 2, None)
    assert probed == {"sa": {0: [1, 3]}}


def test_user_in_one_segment_and_unknown_user(indexed):
    col, queries = indexed
    probed = col._probe(["sa", "sb"], [1, 7], queries[1], 2, None)
    assert list(probed) == ["sb"] and list(probed["sb"]) == [1]
    assert col._probe(["sa", "sb"], [7], queries[1], 2, None) == {}
    assert col.ann_search([7], queries[1], 5).collect() == []
