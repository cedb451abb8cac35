"""Parity of the two phase-2 rankings of Collection.ann_search: the
driver's numpy ranking over resident postings (_ann_resident) returns
the same rows, in the same order, as the Spark plan (_ann_plan), over
the four metrics, per_user, tombstones (none, a remove, a remove then a
re-insert with a later seq_no), pre_filter_ids and known / unknown
users. Both run after the same probe. Also pins the resident LRU's
eviction order and byte accounting, alone and under threads."""

import random
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from muopdb_spark.catalog import collection as collection_mod
from muopdb_spark.catalog.collection import Collection, CollectionConfig, _ResidentPostings

DIM = 6
SCHEMA = "user_id long, doc_id long, vector array<float>"
# user 0 and 1 have many docs, user 2 only three: a k of 50 exceeds
# the candidates of a request that reaches user 2 only
SIZES = {0: 40, 1: 25, 2: 3}


def _docs():
    rng = np.random.default_rng(7)
    ids = iter(range(100))
    return [(u, next(ids), rng.normal(size=DIM).astype(np.float32).tolist())
            for u, n in SIZES.items() for _ in range(n)]


def _query(users):
    return np.random.default_rng(len(users)).normal(size=DIM).tolist()


@pytest.fixture(scope="module", params=["l2", "l2_squared", "dot", "cosine"])
def base(request, spark, tmp_path_factory):
    """A 2-segment collection with multi-assigned postings, one doc in
    both segments and a score tie, one per metric."""
    root = tmp_path_factory.mktemp(f"resident-{request.param}")
    col = Collection.create(spark, str(root), CollectionConfig(
        name="c", num_features=DIM, metric=request.param, num_centroids=3,
        max_clusters_per_vector=2, distance_threshold=0.5))
    docs = _docs()
    # at user 0's query, no remove: doc 4 again twice (three visible
    # copies, so the min per (user, id) counts) and doc 70 on the same
    # vector (a score tie, so the id order counts)
    q0 = np.array(_query((0,)))
    again = [(0, 4, q0.tolist()), (0, 4, (q0 + 0.1).tolist()), (0, 70, q0.tolist())]
    for rows in (docs[0::2], docs[1::2] + again):
        col.insert(spark.createDataFrame(rows, SCHEMA))
        col.flush()
        col.build_index()
    return root


@pytest.fixture(scope="module", params=["none", "remove", "remove+reinsert"])
def col(request, spark, base, tmp_path_factory):
    """A copy of the base collection with a tombstone state applied:
    none, user 0's docs 0-2 and user 1's doc 41 removed (and user 9,
    who has no docs, removing user 0's other ids: they stay visible),
    or those removes followed by a re-insert of docs 1 and 41 (later
    seq_no)."""
    root = tmp_path_factory.mktemp("variant") / "c"
    shutil.copytree(base / "c", root)
    col = Collection.open(spark, str(root.parent), "c")
    if request.param != "none":
        col.remove([0], [0, 1, 2])
        col.remove([1], [41])
        col.remove([9], list(range(3, 40)))
    if request.param == "remove+reinsert":
        col.insert(spark.createDataFrame(
            [(0, 1, [0.5] * DIM), (1, 41, [-0.25] * DIM)], SCHEMA))
        col.flush()
        col.build_index()
    return col


@pytest.mark.parametrize("users", [(0,), (0, 1, 2), (2, 9)], ids=["1", "3", "unknown"])
@pytest.mark.parametrize("prefilter", [False, True], ids=["all", "subset"])
@pytest.mark.parametrize("per_user", [False, True], ids=["global", "per_user"])
def test_resident_ranking_equals_the_spark_plan(spark, col, per_user, prefilter, users):
    qv = _query(users)
    k = 50 if users == (2, 9) else 4
    segs = col._indexed_segments("ivf")
    pairs = col._probe_segments(segs, list(users), qv, 2, None)
    assert 9 not in {u for probed in pairs.values() for u in probed}
    kw = {"per_user": per_user}
    if prefilter:
        kw["pre_filter_ids"] = spark.createDataFrame(
            [(i,) for i in range(0, 80, 2)] + [(1,), (41,)], "id long")
    want = col._ann_plan(pairs, None, qv, list(users), k, **kw).collect()
    got = col._ann_resident(col._resident_postings(pairs), qv, k, **kw).collect()
    assert got == want
    if users == (2, 9):
        assert len(want) < k
    else:
        assert want


def _entry(n=10):
    return (np.zeros(n),)  # 8 bytes a value


def test_resident_lru_evicts_least_recently_used(monkeypatch):
    monkeypatch.setattr(collection_mod, "RESIDENT_POSTINGS_BYTES", 3 * 80)
    lru = _ResidentPostings()
    lru.put({("a", 0): _entry(), ("a", 1): _entry(), ("b", 0): _entry()})
    assert set(lru.take([("a", 0), ("c", 0)])) == {("a", 0)}
    lru.put({("b", 1): _entry()})  # evicts ("a", 1), the least recently used
    assert list(lru._entries) == [("b", 0), ("a", 0), ("b", 1)]
    lru.put({("c", 0): _entry(31)})  # larger than the cap alone: not kept
    lru.drop(["b"])
    assert list(lru._entries) == [("a", 0)]
    assert lru.stats() == {"bytes": 80, "entries": 1, "cap_bytes": 240, "hits": 1,
                           "misses": 1, "evictions": 1}


def test_resident_lru_accounting_holds_under_threads(monkeypatch):
    cap = 50 * 80
    monkeypatch.setattr(collection_mod, "RESIDENT_POSTINGS_BYTES", cap)
    lru = _ResidentPostings()

    def work(seed):
        rng = random.Random(seed)
        for _ in range(2000):
            key = (f"s{rng.randrange(4)}", rng.randrange(30))
            r = rng.random()
            if r < 0.5:
                lru.put({key: _entry(rng.randrange(1, 20))})
            elif r < 0.55:
                lru.drop([key[0]])
            else:
                lru.take([key])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            for f in [ex.submit(work, t) for t in range(16)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    st = lru.stats()
    assert st["bytes"] == sum(a.nbytes for e in lru._entries.values() for a in e) <= cap
    assert st["entries"] == len(lru._entries) and st["hits"] + st["misses"] > 0
