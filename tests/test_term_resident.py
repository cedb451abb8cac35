"""Parity of Collection.term_search's and term_search_indexed's two
paths: the driver's set algebra over the resident term index entries
returns the same rows, in the same order, as the scan (term_search) and
as the Spark plan (term_search_indexed). Random filter trees from
test_filters_property's strategy run on a 2-segment collection with
three users whose doc ids overlap, null text and keyword fields and a
doc present in both segments, under no tombstones, removes, and removes
followed by re-inserts into a third segment; users include an unknown
one, and limits cut the results."""

import shutil
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from test_filters_property import tree_strategy

from muopdb_spark.catalog import collection as collection_mod
from muopdb_spark.catalog.collection import Collection, CollectionConfig

VOCAB = ["alpha", "beta", "gamma", "running"]
CATS = ["news", "blog", "misc"]
SCHEMA = "user_id long, doc_id long, vector array<float>, body string, cat string"
# user 0 owns ids 0-11, user 1 ids 6-15 (shared with user 0), user 2 ids 0-3
USERS = {0: range(0, 12), 1: range(6, 16), 2: range(0, 4)}

trees = tree_strategy(VOCAB + ["runs", "alpha beta", "zzz", ""], CATS + ["nope", None], 15)
user_sets = st.sampled_from([(0,), (0, 1, 2), (2, 9)])
limits = st.sampled_from([3, 100])


def _row(u, d, body, cat):
    return (u, d, [float(u), float(d)], body, cat)


def _docs():
    rows = []
    for u, ids in USERS.items():
        for d in ids:
            words = [VOCAB[j] for j in range(4) if ((d + u) >> j) & 1]
            body = None if d % 7 == 3 else " ".join(words) or "empty"
            cat = None if d % 5 == 4 else CATS[(d + u) % 3]
            # a keyword that reads "None" is not a null one
            rows.append(_row(u, d, body, "None" if (u, d) == (2, 0) else cat))
    return rows


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Two segments: even doc ids in the first, odd ones in the second,
    and user 0's doc 2 in both (a second row with other words)."""
    root = tmp_path_factory.mktemp("term-resident")
    col = Collection.create(spark, str(root), CollectionConfig(
        name="c", num_features=2, num_centroids=2,
        attribute_schema={"body": "text", "cat": "keyword"}))
    docs = _docs()
    for rows in ([r for r in docs if r[1] % 2 == 0],
                 [r for r in docs if r[1] % 2 == 1] + [_row(0, 2, "gamma running", "misc")]):
        col.insert(spark.createDataFrame(rows, SCHEMA))
        col.flush()
    col.build_index()
    return root


@pytest.fixture(scope="module", params=["none", "remove", "remove+reinsert"])
def col(request, spark, base, tmp_path_factory):
    """A copy of the base collection with a tombstone state applied:
    none; user 0's docs 1, 2 (both rows) and 4 and user 1's doc 7
    removed (and doc 6 of user 9, who has no docs: users 0's and 1's
    doc 6 stay visible); or those removes followed by re-inserts of
    user 0's docs 1 and 4 and user 1's doc 7 with other fields, into a
    third segment."""
    root = tmp_path_factory.mktemp("variant") / "c"
    shutil.copytree(base / "c", root)
    col = Collection.open(spark, str(root.parent), "c")
    if request.param != "none":
        col.remove([0], [1, 2, 4])
        col.remove([1], [7])
        col.remove([9], [6])
    if request.param == "remove+reinsert":
        col.insert(spark.createDataFrame([
            _row(0, 1, "gamma gamma", "misc"), _row(0, 4, None, "news"),
            _row(1, 7, "alpha runs", None)], SCHEMA))
        col.flush()
        col.build_index()
    return col


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _on_the_spark_side(fn):
    """fn() with the byte cap at 1: every request falls back."""
    with mock.patch.object(collection_mod, "RESIDENT_POSTINGS_BYTES", 1):
        return fn()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tree=trees, users=user_sets, limit=limits)
# the removed row's word (not per segment: doc 1 would match on it) ...
@example(tree={"contains": {"path": "body", "value": "alpha"}}, users=(0,), limit=100)
# ... a NotContains over the visible docs only, nulls included ...
@example(tree={"not_contains": {"path": "cat", "value": "news"}}, users=(0, 1, 2), limit=100)
@example(tree={"not_contains": {"path": "body", "value": "beta"}}, users=(0, 1, 2), limit=100)
@example(tree={"not_contains": {"path": "cat", "value": None}}, users=(0,), limit=100)
@example(tree={"contains": {"path": "cat", "value": None}}, users=(0, 1, 2), limit=100)
# ... and a cut
@example(tree={"or": [{"ids": [0, 1, 2, 3]}, {"contains": {"path": "body", "value": "runs"}}]},
         users=(0, 1, 2), limit=3)
def test_resident_term_search_equals_the_scan(col, tree, users, limit):
    got = col.term_search(list(users), tree, limit)
    assert "LocalTableScan" in _plan(got) and "FileScan" not in _plan(got)
    scan = _on_the_spark_side(lambda: col.term_search(list(users), tree, limit))
    # the scan, unless Catalyst folded its filter to false
    assert "FileScan" in _plan(scan) or "LocalTableScan <empty>" in _plan(scan)
    assert _rows(got) == _rows(scan), tree


KEYS = [("body", "alpha"), ("body", "beta"), ("body", "run"), ("body", "zzz"),
        ("cat", "news"), ("cat", "misc")]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(terms=st.lists(st.sampled_from(KEYS), min_size=1, max_size=3),
       mode=st.sampled_from(["and", "or"]), users=user_sets, limit=limits)
@example(terms=[("body", "alpha")], mode="or", users=(0, 1, 2), limit=100)
@example(terms=[("body", "run"), ("body", "run")], mode="and", users=(0, 1), limit=100)
@example(terms=[("body", "gamma"), ("body", "run")], mode="and", users=(0,), limit=100)
@example(terms=[("cat", "news"), ("body", "alpha")], mode="or", users=(0, 1, 2), limit=3)
def test_resident_term_search_indexed_equals_the_spark_plan(col, terms, mode, users, limit):
    got = col.term_search_indexed(list(users), terms, limit, mode=mode)
    assert "FileScan" not in _plan(got)
    plan = _on_the_spark_side(
        lambda: col.term_search_indexed(list(users), terms, limit, mode=mode))
    assert "FileScan" in _plan(plan)
    assert _rows(got) == _rows(plan), (terms, mode)


def test_a_doc_twice_in_one_segment_takes_the_scan(spark, tmp_path):
    """Two rows of one doc in one segment: the term index cannot tell
    which row a term came from, so term_search scans and matches per
    row."""
    col = Collection.create(spark, str(tmp_path), CollectionConfig(
        name="twice", num_features=2, attribute_schema={"body": "text", "cat": "keyword"}))
    col.insert(spark.createDataFrame([_row(3, 1, "alpha", "news")], SCHEMA))
    col.insert(spark.createDataFrame([_row(3, 1, "beta", "blog")], SCHEMA))
    col.flush()
    col.build_index()
    both = {"and": [{"contains": {"path": "body", "value": "alpha"}},
                    {"contains": {"path": "body", "value": "beta"}}]}
    got = col.term_search([3], both, 10)
    assert "FileScan" in _plan(got) and got.collect() == []
    either = {"or": both["and"]}
    assert [r["doc_id"] for r in col.term_search([3], either, 10).collect()] == [1]


def test_a_long_keyword_value_costs_its_own_length(spark, tmp_path):
    """Resident term keys are variable width: one long keyword value
    adds its own length to the entry, not that length times the number
    of keys (fixed-width strings would take about 6 MB here)."""
    col = Collection.create(spark, str(tmp_path), CollectionConfig(
        name="long", num_features=2, attribute_schema={"body": "text", "cat": "keyword"}))
    long = "x" * 5000
    col.insert(spark.createDataFrame(
        [_row(0, d, "alpha", f"k{d}") for d in range(300)] + [_row(0, 300, "beta", long)],
        SCHEMA))
    col.flush()
    col.build_index()
    tree = {"or": [{"contains": {"path": "cat", "value": long}},
                   {"contains": {"path": "cat", "value": "k7"}}]}
    got = col.term_search([0], tree, 10)
    assert "FileScan" not in _plan(got) and _rows(got) == [(7,), (300,)]
    (entry,) = [e for key, e in col._resident._entries.items() if key[2] == "terms"]
    keys = [f"cat\x1fk{d}" for d in range(300)] + [f"cat\x1f{long}", "body\x1falpha",
                                                     "body\x1fbeta"]
    assert entry[0].nbytes == sum(len(k.encode()) for k in keys)
    assert collection_mod._nbytes(entry) < 64_000
