"""Serve read path: each immutable segment table is opened once per
Collection handle, ann_search probes centroids on the driver from
per-(segment, user) arrays the handle keeps, and no tombstone mask is
planned while no tombstone file exists. Pins the win (a warm request
infers no parquet schema, runs at most two jobs and plans no window,
broadcast or anti join) and the rules that keep the cache honest
(removes, new segments, index rewrites and garbage-collected segments
are always seen)."""

import os
import re
import uuid

import pytest

from muopdb_spark.catalog.collection import Collection, CollectionConfig
from muopdb_spark.index import multi_ivf

R1 = [
    (0, 1, [1.0, 0.0, 0.0, 0.0], "running fast", "news"),
    (0, 2, [0.0, 1.0, 0.0, 0.0], "slow snail", "blog"),
    (1, 3, [0.0, 0.0, 1.0, 0.0], "alpha beta", "news"),
]
R2 = [
    (0, 4, [1.0, 0.1, 0.0, 0.0], "gamma delta", "blog"),
    (1, 5, [0.0, 0.0, 0.9, 0.0], "running connections", "news"),
]
Q = [1.0, 0.0, 0.0, 0.0]
RUN = {"contains": {"path": "title", "value": "running"}}


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<float>, title string, category string")


def _add_segment(col, spark, rows):
    col.insert(_df(spark, rows))
    col.flush()
    col.build_index()


@pytest.fixture()
def col(spark, tmp_path):
    cfg = CollectionConfig(name="rp", num_features=4,
                           attribute_schema={"title": "text", "category": "keyword"})
    c = Collection.create(spark, str(tmp_path), cfg)
    _add_segment(c, spark, R1)
    _add_segment(c, spark, R2)
    return c


def _ann(col, users=(0, 1), k=5, q=Q):
    return col.ann_search(list(users), q, k, num_probes=col.config.num_centroids,
                          centroid_distance_ratio=None)


def _requests(col):
    """The three read entry points, each as a build-and-collect call."""
    return {
        "ann_search": lambda: _ann(col),
        "term_search": lambda: col.term_search([0, 1], RUN, 10),
        "term_search_indexed": lambda: col.term_search_indexed(
            [0, 1], [("title", "run")], 10),
    }


def _job_names(spark, build):
    """(DataFrame, names of the Spark jobs started while building and
    collecting it), run under a job group of its own."""
    sc = spark.sparkContext
    group = f"read-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read path")
    try:
        df = build()
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    return df, [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ids(rows):
    return sorted(r.asDict().get("id", r.asDict().get("doc_id")) for r in rows)


def test_warm_requests_open_nothing_and_plan_no_mask(col, spark, tmp_path):
    fresh = Collection.open(spark, str(tmp_path), "rp")
    _, cold = _job_names(spark, lambda: _ann(fresh))
    # the probe sees schema inference when a handle opens its tables
    assert any(n.startswith("parquet") for n in cold), cold
    for name, build in _requests(fresh).items():
        build().collect()  # warm-up opens every table once
        df, names = _job_names(spark, build)
        assert not [n for n in names if n.startswith("parquet")], (name, names)
        assert "LeftAnti" not in _plan(df), name
    df, _ = _job_names(spark, _requests(fresh)["term_search_indexed"])
    assert "LeftSemi" not in _plan(df)  # no visibility join to mask


def test_remove_is_seen_by_the_same_handle(col, spark):
    reqs = _requests(col)
    assert _ids(reqs["ann_search"]().collect()) == [1, 2, 3, 4, 5]
    assert _ids(reqs["term_search"]().collect()) == [1, 5]
    assert _ids(reqs["term_search_indexed"]().collect()) == [1, 5]
    col.remove([0], [1])
    ann = reqs["ann_search"]()
    assert "LeftAnti" in _plan(ann)
    assert _ids(ann.collect()) == [2, 3, 4, 5]
    assert _ids(reqs["term_search"]().collect()) == [5]
    assert _ids(reqs["term_search_indexed"]().collect()) == [5]


def test_warm_ann_is_two_jobs_with_literal_partition_filters(col, spark):
    def ann():
        return col.ann_search([0, 1], Q, 5, num_probes=1, centroid_distance_ratio=None)

    ann().collect()
    df, names = _job_names(spark, ann)
    assert len(names) <= 2, names
    plan = _plan(df)
    for absent in ("Window", "BroadcastExchange", "dynamicpruning"):
        assert absent not in plan, absent
    final = plan.split("== Initial Plan ==")[0]
    scans = re.findall(r"FileScan parquet .*?PartitionFilters: \[([^\]]*)", final)
    assert len(scans) == 2, final  # one postings scan per segment
    for filters in scans:
        assert re.search(r"centroid_id#\d+ (= \d|IN \()", filters), filters


def test_first_request_for_a_user_runs_one_collect(col, spark):
    _ann(col, users=[0]).collect()  # opens both segments' index tables
    _, first = _job_names(spark, lambda: _ann(col, users=[1]))
    _, again = _job_names(spark, lambda: _ann(col, users=[1]))
    assert len(first) == len(again) + 1, (first, again)  # user 1 spans 2 segments
    # an unknown user is kept as empty too: no second collect
    _, unknown = _job_names(spark, lambda: _ann(col, users=[7]))
    _, unknown_again = _job_names(spark, lambda: _ann(col, users=[7]))
    assert len(unknown) == len(unknown_again) + 1, (unknown, unknown_again)


def test_new_segment_is_seen_by_the_same_handle(col, spark):
    reqs = _requests(col)
    for build in reqs.values():
        build().collect()
    assert _ann(col, users=[2]).collect() == []  # kept as empty in both segments
    _add_segment(col, spark, [(0, 9, [0.0, 0.0, 0.0, 1.0], "running late", "blog"),
                              (2, 10, [0.0, 1.0, 0.0, 0.0], "quiet", "news")])
    assert len(col.toc()["segments"]) == 3
    got = _ann(col, users=[0], k=1, q=[0.0, 0.0, 0.0, 1.0]).collect()
    assert [r["id"] for r in got] == [9]
    assert _ids(_ann(col, users=[2]).collect()) == [10]
    assert _ids(reqs["term_search"]().collect()) == [1, 5, 9]
    assert _ids(reqs["term_search_indexed"]().collect()) == [1, 5, 9]


def _kept_centroids(col) -> set:
    return {seg for seg, kind in col._opened if kind == "centroids"}


def test_gc_versions_evicts_deleted_segments(col, spark):
    _ann(col).collect()
    col.term_search_indexed([0], [("title", "run")], 10).collect()
    assert _kept_centroids(col) == set(col.toc()["segments"])
    merged = col.merge_segments()
    col.build_index()
    gone = col.gc_versions(keep_latest=1)
    assert len(gone["segments"]) == 2
    assert _kept_centroids(col) == set()
    assert os.listdir(os.path.join(col.root, "segments")) == [merged]
    assert _ids(_ann(col).collect()) == [1, 2, 3, 4, 5]
    assert {seg for seg, _ in col._opened} == {merged}
    assert _kept_centroids(col) == {merged}


def test_build_index_rewrite_drops_kept_centroids(col, spark, tmp_path):
    segs = col.toc()["segments"]
    _ann(col).collect()
    assert (segs[0], "centroids") in col._opened
    # a TOC that no longer lists the first segment's ivf index makes
    # build_index write it again, here with one centroid per user
    toc = col.toc()
    col._commit_toc(segs, toc["flushed_seq_no"], indexes={segs[0]: ["terms"]})
    col.config.num_centroids = 1
    col.build_index()
    assert (segs[0], "centroids") not in col._opened
    fresh = Collection.open(spark, str(tmp_path), "rp")

    def probe(c):
        arrays = c._centroid_arrays(segs, [0, 1])
        return {s: multi_ivf.probe({u: arrays[s][u] for u in (0, 1)}, "l2", Q, 10, None)
                for s in segs}

    assert probe(col) == probe(fresh)
    assert probe(col)[segs[0]] == {0: [0], 1: [0]}
