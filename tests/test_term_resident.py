"""Parity of Collection.term_search's and term_search_indexed's two
paths: the driver's set algebra over the resident term index entries
returns the same rows, in the same order, as the scan (term_search) and
as the Spark plan (term_search_indexed). Random filter trees from
test_filters_property's strategy run on a 2-segment collection with
three users whose doc ids overlap, null text and keyword fields, a doc
present in both segments and a doc with two rows in one segment, under
no tombstones, removes, and removes followed by re-inserts into a third
segment; users include an unknown one, and limits cut the results."""

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
    user 0's doc 2 in both (a second row with other words), and user
    1's doc 9 inserted twice, with other words, before the second
    flush."""
    root = tmp_path_factory.mktemp("term-resident")
    col = Collection.create(spark, str(root), CollectionConfig(
        name="c", num_features=2, num_centroids=2,
        attribute_schema={"body": "text", "cat": "keyword"}))
    docs = _docs()
    col.insert(spark.createDataFrame([r for r in docs if r[1] % 2 == 0], SCHEMA))
    col.flush()
    col.insert(spark.createDataFrame(
        [r for r in docs if r[1] % 2 == 1] + [_row(0, 2, "gamma running", "misc")], SCHEMA))
    col.insert(spark.createDataFrame([_row(1, 9, "alpha gamma", "news")], SCHEMA))
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
# ... an And over two rows of one doc (doc 9 of user 1) ...
@example(tree={"and": [{"contains": {"path": "body", "value": "alpha"}},
                       {"contains": {"path": "body", "value": "beta"}}]},
         users=(0, 1, 2), limit=100)
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
@example(terms=[("body", "alpha"), ("body", "beta")], mode="and", users=(1,), limit=100)
@example(terms=[("cat", "news"), ("body", "alpha")], mode="or", users=(0, 1, 2), limit=3)
def test_resident_term_search_indexed_equals_the_spark_plan(col, terms, mode, users, limit):
    got = col.term_search_indexed(list(users), terms, limit, mode=mode)
    assert "FileScan" not in _plan(got)
    plan = _on_the_spark_side(
        lambda: col.term_search_indexed(list(users), terms, limit, mode=mode))
    assert "FileScan" in _plan(plan)
    assert _rows(got) == _rows(plan), (terms, mode)


def _twice(spark, tmp_path, *batches):
    """A collection of user 3's rows, one insert per batch, flushed into
    one segment and indexed."""
    col = Collection.create(spark, str(tmp_path), CollectionConfig(
        name="twice", num_features=2, attribute_schema={"body": "text", "cat": "keyword"}))
    for rows in batches:
        col.insert(spark.createDataFrame(rows, SCHEMA))
    col.flush()
    col.build_index()
    return col


BOTH = {"and": [{"contains": {"path": "body", "value": "alpha"}},
                {"contains": {"path": "body", "value": "beta"}}]}
EITHER = {"or": BOTH["and"]}


def test_a_doc_twice_in_one_segment_answers_on_the_driver(spark, tmp_path):
    """Two inserts of one doc before a flush: two rows with their own
    seq_nos, which the term index tells apart, so term_search answers on
    the driver and matches per row, as the scan does."""
    col = _twice(spark, tmp_path, [_row(3, 1, "alpha", "news")], [_row(3, 1, "beta", "blog")])
    for tree, want in ((BOTH, []), (EITHER, [(1,)])):
        got = col.term_search([3], tree, 10)
        assert "FileScan" not in _plan(got) and _rows(got) == want, tree
        assert _rows(_on_the_spark_side(lambda: col.term_search([3], tree, 10))) == want
    got = col.term_search_indexed([3], [("body", "alpha"), ("body", "beta")], 10)
    assert _rows(got) == []


def test_a_doc_twice_in_one_batch_takes_the_scan(spark, tmp_path):
    """One insert batch that carries a doc twice gives two rows with one
    (doc_id, seq_no), the only rows the term index cannot tell apart:
    term_search scans and matches per row."""
    col = _twice(spark, tmp_path, [_row(3, 1, "alpha", "news"), _row(3, 1, "beta", "blog")])
    got = col.term_search([3], BOTH, 10)
    assert "FileScan" in _plan(got) and _rows(got) == []
    assert _rows(col.term_search([3], EITHER, 10)) == [(1,)]


def test_a_tombstone_that_lands_after_build_index_hides_its_rows(spark, tmp_path):
    """A remove claims its seq_no, the doc is re-inserted, flushed and
    indexed, and only then the tombstone is written: it hides the row
    written before it, so the old words match nothing on any path."""
    col = Collection.create(spark, str(tmp_path), CollectionConfig(
        name="late", num_features=2, attribute_schema={"body": "text", "cat": "keyword"}))
    col.insert(spark.createDataFrame([_row(1, 5, "apple pie", "news")], SCHEMA))
    claimed = col._next_seq_no()
    col.insert(spark.createDataFrame([_row(1, 5, "banana bread", "news")], SCHEMA))
    col.flush()
    col.build_index()
    col.term_search([1], BOTH, 10).collect()  # the entries are resident before the tombstone
    with mock.patch.object(col, "_next_seq_no", return_value=claimed):
        col.remove([1], [5])
    apple = {"contains": {"path": "body", "value": "apple"}}
    for request in (lambda: col.term_search([1], apple, 10),
                    lambda: col.term_search_indexed([1], [("body", "appl")], 10)):
        assert _rows(request()) == []
        assert _rows(_on_the_spark_side(request)) == []
    bread = {"contains": {"path": "body", "value": "bread"}}
    assert _rows(col.term_search([1], bread, 10)) == [(5,)]
    assert _rows(col.term_search_indexed([1], [("body", "bread")], 10)) == [(1, 5)]


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
    (entry,) = [e for key, e in col._resident._entries.items() if key[2] == "term_rows"]
    keys = [f"cat\x1fk{d}" for d in range(300)] + [f"cat\x1f{long}", "body\x1falpha",
                                                     "body\x1fbeta"]
    assert entry[0].nbytes == sum(len(k.encode()) for k in keys)
    assert collection_mod._nbytes(entry) < 64_000
