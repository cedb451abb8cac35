"""Serve read path: each immutable segment table is opened once per
Collection handle, ann_search probes centroids on the driver from
per-(segment, user) arrays the handle keeps, a warm unquantized ann
request is ranked on the driver from the postings the handle keeps
resident, a warm term_search / term_search_indexed is evaluated on the
driver from the term index entries it keeps resident, and no tombstone
mask is planned while no tombstone file exists. Pins the wins (a warm
request infers no parquet schema; a warm resident ann, term or hybrid
request runs no Spark job and plans a local relation, built in 2 py4j
round trips, 12 for a hybrid with a local pre-filter; a user's first
term request runs at most two jobs; a request that takes the Spark plan
runs at most two jobs and plans no window, broadcast or anti join) and
the rules that keep the caches honest (removes, re-inserts, new
segments, index rewrites, garbage-collected segments and the byte cap
are always seen)."""

import os
import re
import threading
import uuid
from unittest import mock

import pyarrow as pa
import pytest
from py4j.clientserver import ClientServerConnection

from muopdb_spark.catalog import collection as collection_mod
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


def _ann(col, users=(0, 1), k=5, q=Q, **kw):
    return col.ann_search(list(users), q, k, num_probes=col.config.num_centroids,
                          centroid_distance_ratio=None, **kw)


# score_decimals needs Spark's HALF_UP round, so it always takes the
# Spark plan (_ann_plan)
PLAN = {"score_decimals": 6}


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
    assert _ids(reqs["ann_search"]().collect()) == [2, 3, 4, 5]
    ann = _ann(col, **PLAN)
    assert "LeftAnti" in _plan(ann)
    assert _ids(ann.collect()) == [2, 3, 4, 5]
    assert _ids(reqs["term_search"]().collect()) == [5]
    assert _ids(reqs["term_search_indexed"]().collect()) == [5]


def test_warm_ann_is_two_jobs_with_literal_partition_filters(col, spark):
    def ann():
        return col.ann_search([0, 1], Q, 5, num_probes=1, centroid_distance_ratio=None,
                              **PLAN)

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
    _ann(col, users=[0], **PLAN).collect()  # opens both segments' index tables
    _, first = _job_names(spark, lambda: _ann(col, users=[1], **PLAN))
    _, again = _job_names(spark, lambda: _ann(col, users=[1], **PLAN))
    assert len(first) == len(again) + 1, (first, again)  # user 1 spans 2 segments
    # an unknown user is kept as empty too: no second collect
    _, unknown = _job_names(spark, lambda: _ann(col, users=[7], **PLAN))
    _, unknown_again = _job_names(spark, lambda: _ann(col, users=[7], **PLAN))
    assert len(unknown) == len(unknown_again) + 1, (unknown, unknown_again)


def test_warm_ann_runs_no_job_and_plans_a_local_relation(col, spark):
    for users in ([0], [0, 1]):  # ann and ann_multi
        _ann(col, users=users).collect()
        df, names = _job_names(spark, lambda: _ann(col, users=users))
        assert names == [], (users, names)
        assert "LocalTableScan" in _plan(df) and "FileScan" not in _plan(df)
    # an unknown user: empty, and no job once its centroids are known
    _ann(col, users=[7]).collect()
    df, names = _job_names(spark, lambda: _ann(col, users=[7]))
    assert names == [] and df.collect() == []


def test_first_resident_request_runs_the_centroid_and_postings_collects(col, spark):
    _ann(col, users=[0]).collect()  # opens both segments' index tables
    _, first = _job_names(spark, lambda: _ann(col, users=[1]))
    _, again = _job_names(spark, lambda: _ann(col, users=[1]))
    # one collect of user 1's centroids and one of its postings, both
    # over the two segments that hold it
    assert len(first) == 2 and again == [], (first, again)
    assert col.resident_stats()["entries"] == 4


def test_remove_then_reinsert_is_seen_by_the_same_handle(col, spark):
    before = {r["id"]: r["score"] for r in _ann(col, users=[0]).collect()}
    assert sorted(before) == [1, 2, 4]
    col.remove([0], [1])
    assert _ids(_ann(col, users=[0]).collect()) == [2, 4]
    _, names = _job_names(spark, lambda: _ann(col, users=[0]))
    assert names == []  # the tombstones are read once per listing
    # the same doc again, with a later seq_no and another vector
    _add_segment(col, spark, [(0, 1, [0.0, 0.0, 0.0, 2.0], "running late", "blog")])
    after = {r["id"]: r["score"] for r in _ann(col, users=[0]).collect()}
    assert sorted(after) == [1, 2, 4] and before[1] == 0.0
    assert after[1] == pytest.approx(5 ** 0.5)  # scored from the new vector
    col.remove([0], [2])  # a new tombstone file: read again
    assert _ids(_ann(col, users=[0]).collect()) == [1, 4]


def test_tiny_cap_falls_back_to_the_spark_plan(col, spark, tmp_path, monkeypatch):
    want = _ann(col).collect()
    assert col.resident_stats()["entries"] == 4
    monkeypatch.setattr(collection_mod, "RESIDENT_POSTINGS_BYTES", 1)
    fresh = Collection.open(spark, str(tmp_path), "rp")
    df = _ann(fresh)
    assert "FileScan" in _plan(df) and "LocalTableScan" not in _plan(df)
    assert df.collect() == want
    assert fresh.resident_stats()["entries"] == 0
    # the same for the handle that holds them: the cap is read per fill
    col._resident.drop(col.toc()["segments"])
    assert "FileScan" in _plan(_ann(col))
    assert _ann(col).collect() == want
    # postings whose files exceed the cap are not even read
    _, capped = _job_names(spark, lambda: _ann(col))
    _, plan = _job_names(spark, lambda: _ann(col, **PLAN))
    assert len(capped) == len(plan), (capped, plan)


def _local_only(df) -> bool:
    return "LocalTableScan" in _plan(df) and "FileScan" not in _plan(df)


def test_warm_term_requests_run_no_job_and_plan_a_local_relation(col, spark):
    reqs = _requests(col)
    for name in ("term_search", "term_search_indexed"):
        reqs[name]().collect()
        df, names = _job_names(spark, reqs[name])
        assert names == [], (name, names)
        assert _local_only(df), name
    # an unknown user: empty, and no job once its entries are kept
    col.term_search([7], RUN, 10).collect()
    df, names = _job_names(spark, lambda: col.term_search([7], RUN, 10))
    assert names == [] and df.collect() == []


def test_first_term_request_runs_at_most_two_jobs(col, spark):
    col.term_search([0], RUN, 10).collect()  # opens both segments' tables
    _, first = _job_names(spark, lambda: col.term_search([1], RUN, 10))
    _, again = _job_names(spark, lambda: col.term_search([1], RUN, 10))
    # one collect of user 1's term index and one of its docs' seq_nos,
    # both over the two segments that hold it
    assert 0 < len(first) <= 2 and again == [], (first, again)
    _, indexed = _job_names(spark, lambda: col.term_search_indexed([1], [("title", "run")], 10))
    assert indexed == []  # the same entries


def test_warm_hybrid_runs_no_job(col, spark):
    def hybrid():
        hits = col.term_search_indexed([0, 1], [("title", "run")], 100)
        return _ann(col, pre_filter_ids=hits.select(hits["doc_id"].alias("id")))

    assert _ids(hybrid().collect()) == [1, 5]
    df, names = _job_names(spark, hybrid)
    assert names == [] and _local_only(df), names


def test_hybrid_reads_only_the_candidates_of_a_large_pre_filter(col, spark, monkeypatch):
    """A pre_filter_ids that is not a local relation is read at the
    candidates' ids, not over their id range: with candidates 1-5 and
    9999, a 20000-id pre-filter gives the driver at most one row per
    candidate."""
    _add_segment(col, spark, [(0, 9_999, [0.9, 0.1, 0.0, 0.0], "far", "news")])
    big = spark.range(0, 20_000)
    collected = []
    collect = type(big).collect

    def counted(df):
        rows = collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(big), "collect", counted)
    got = _ann(col, k=10, pre_filter_ids=big)
    assert _local_only(got)
    monkeypatch.undo()
    assert collected and max(collected) <= 6, collected
    assert _ids(got.collect()) == [1, 2, 3, 4, 5, 9_999]
    assert _ids(_ann(col, k=10, pre_filter_ids=big, **PLAN).collect()) == [1, 2, 3, 4, 5, 9_999]


def _round_trips(build):
    """(build(), py4j round trips this thread made while it ran). The
    finalizer thread's object deletes are not counted."""
    me, n = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        n[0] += threading.get_ident() == me
        return send(self, command)

    with mock.patch.object(ClientServerConnection, "send_command", counted):
        return build(), n[0]


def test_warm_requests_build_their_result_in_two_round_trips(col):
    """A warm resident request crosses into the JVM only to build its
    result: one call reads the Arrow batches, one makes the relation
    (createDataFrame(pyarrow.Table) takes 21)."""
    for name, build in _requests(col).items():
        build().collect()
        df, trips = _round_trips(build)
        assert _local_only(df), name
        assert trips <= 2, (name, trips)


def _hybrid_pre_filter(col):
    hits = col.term_search_indexed([0, 1], [("title", "run")], 100)
    return hits.select(hits["doc_id"].alias("id"))


def test_warm_hybrid_with_a_local_pre_filter_takes_twelve_round_trips(col):
    """A local pre_filter_ids is checked (3 round trips), collected as
    it is (7) and the result built (2); a select on it would cost 9
    more and createDataFrame 19 more."""
    _ann(col, pre_filter_ids=_hybrid_pre_filter(col)).collect()
    pre = _hybrid_pre_filter(col)
    df, trips = _round_trips(lambda: _ann(col, pre_filter_ids=pre))
    assert _ids(df.collect()) == [1, 5]
    assert trips <= 12, trips


def test_local_pre_filter_with_other_columns_equals_the_spark_plan(
        col, spark, tmp_path, monkeypatch):
    """A local pre_filter_ids is read whole, by the name of its id
    column, whatever other columns it carries and wherever id sits."""
    pre = spark.createDataFrame(pa.table({
        "tag": ["a", "b", "c", "d"], "id": [5, 2, 9, 2], "w": [0.5, 1.0, 2.0, 3.0]}))
    assert collection_mod._held_on_driver(pre)
    got = _ann(col, pre_filter_ids=pre)
    assert _local_only(got)
    got = got.collect()
    assert _ids(got) == [2, 5]
    monkeypatch.setattr(collection_mod, "RESIDENT_POSTINGS_BYTES", 1)
    want = _ann(Collection.open(spark, str(tmp_path), "rp"), pre_filter_ids=pre)
    assert "FileScan" in _plan(want)
    assert got == want.collect()


def test_remove_is_seen_by_resident_term_requests(col, spark):
    reqs = _requests(col)
    for name in ("term_search", "term_search_indexed"):
        reqs[name]().collect()
    col.remove([0], [1])
    for name in ("term_search", "term_search_indexed"):
        df = reqs[name]()
        assert _ids(df.collect()) == [5] and _local_only(df), name
        _, names = _job_names(spark, reqs[name])
        assert names == [], name  # the tombstones are read once per listing


def test_tiny_cap_falls_back_to_the_term_scan_and_plan(col, spark, tmp_path, monkeypatch):
    reqs = _requests(col)
    want = {name: reqs[name]().collect() for name in ("term_search", "term_search_indexed")}
    monkeypatch.setattr(collection_mod, "RESIDENT_POSTINGS_BYTES", 1)
    fresh = Collection.open(spark, str(tmp_path), "rp")
    for c in (fresh, col):  # the cap is read per request, as for ann
        for name, build in _requests(c).items():
            if name in want:
                df = build()
                assert "FileScan" in _plan(df), name
                assert df.collect() == want[name], name
    assert fresh.resident_stats()["entries"] == 0
    # the Spark plan masks only when tombstones exist, and then per segment
    indexed = _requests(col)["term_search_indexed"]
    assert "LeftSemi" not in _plan(indexed())
    col.remove([0], [1])
    df = indexed()
    assert _plan(df).count("LeftSemi") == 2  # one per segment
    assert _ids(df.collect()) == [5]


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


def _kept_postings(col, kind="ivf") -> set:
    return {seg for seg, _, k in col._resident._entries if k == kind}


def test_gc_versions_evicts_deleted_segments(col, spark):
    _ann(col).collect()
    col.term_search_indexed([0], [("title", "run")], 10).collect()
    assert _kept_centroids(col) == set(col.toc()["segments"])
    assert _kept_postings(col) == set(col.toc()["segments"])
    assert _kept_postings(col, "terms") == set(col.toc()["segments"])
    merged = col.merge_segments()
    col.build_index()
    gone = col.gc_versions(keep_latest=1)
    assert len(gone["segments"]) == 2
    assert _kept_centroids(col) == set()
    assert _kept_postings(col) == set()
    assert _kept_postings(col, "terms") == set()
    assert col.resident_stats()["bytes"] == 0
    assert os.listdir(os.path.join(col.root, "segments")) == [merged]
    assert _ids(_ann(col).collect()) == [1, 2, 3, 4, 5]
    assert {seg for seg, _ in col._opened} == {merged}
    assert _kept_centroids(col) == {merged}
    assert _kept_postings(col) == {merged}


def test_build_index_rewrite_drops_kept_centroids(col, spark, tmp_path):
    segs = col.toc()["segments"]
    _ann(col).collect()
    assert (segs[0], "centroids") in col._opened
    assert _kept_postings(col) == set(segs)
    # a TOC that no longer lists the first segment's ivf index makes
    # build_index write it again, here with one centroid per user
    toc = col.toc()
    col._commit_toc(segs, toc["flushed_seq_no"], indexes={segs[0]: ["terms"]})
    col.config.num_centroids = 1
    col.build_index()
    assert (segs[0], "centroids") not in col._opened
    assert _kept_postings(col) == {segs[1]}
    fresh = Collection.open(spark, str(tmp_path), "rp")

    def probe(c):
        arrays = c._centroid_arrays(segs, [0, 1])
        return {s: multi_ivf.probe({u: arrays[s][u] for u in (0, 1)}, "l2", Q, 10, None)
                for s in segs}

    assert probe(col) == probe(fresh)
    assert probe(col)[segs[0]] == {0: [0], 1: [0]}


def test_build_index_rewrite_drops_kept_term_entries(col, spark):
    segs = col.toc()["segments"]
    _ann(col).collect()
    assert _ids(_requests(col)["term_search"]().collect()) == [1, 5]
    assert _kept_postings(col, "terms") == set(segs)
    # a TOC that no longer lists the terms index of R2's segment makes
    # build_index write it again, here without the title field
    r2 = next(s for s in segs if col.segment_docs(s).filter("doc_id = 5").count())
    toc = col.toc()
    col._commit_toc(segs, toc["flushed_seq_no"], indexes={r2: ["ivf"]})
    col.config.attribute_schema = {"title": "keyword", "category": "keyword"}
    col.build_index()
    assert _kept_postings(col, "terms") == set(segs) - {r2}
    assert _kept_postings(col) == set(segs)  # the ann postings stay
    got = col.term_search_indexed([0, 1], [("title", "running connections")], 10)
    assert [tuple(r) for r in got.collect()] == [(1, 5)]
