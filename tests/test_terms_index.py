"""Materialized inverted term index: build, lookup, indexed TermSearch —
must agree with the scan-based term_search on the same corpus."""

import pytest
from pyspark.sql import functions as F

from muopdb_spark.filters.compiler import FilterSchema, term_search
from muopdb_spark.functions.text import stemmed_tokens
from muopdb_spark.index.terms import build_term_index, term_lookup, term_search_indexed


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "running fast", "news"),
        (2, "runs faster", "news"),
        (3, "walking slowly", "blog"),
        (4, "running and walking", "blog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, title string, category string").cache()


@pytest.fixture(scope="module")
def index(docs):
    return build_term_index(docs, {"title": "text", "category": "keyword"}).cache()


def test_postings_sorted_and_df(index):
    row = term_lookup(index, "title", "run").first()
    assert row["postings"] == [1, 2, 4]           # "running"/"runs" stem to run
    assert row["df"] == 3
    row = term_lookup(index, "category", "news").first()
    assert row["postings"] == [1, 2]


def test_keyword_whole_value(index):
    # keyword terms are whole values, not tokens
    assert term_lookup(index, "category", "new").isEmpty()


def test_indexed_and_search(index):
    got = term_search_indexed(index, [("title", "run"), ("title", "walk")], 10)
    assert [r["doc_id"] for r in got.collect()] == [4]


def test_indexed_or_search(index):
    got = term_search_indexed(index, [("title", "walk"), ("category", "news")], 10, mode="or")
    assert [r["doc_id"] for r in got.collect()] == [1, 2, 3, 4]


def test_indexed_matches_scan_path(docs, index):
    # the index path and the scan path must produce identical results
    schema = FilterSchema({"title": "text"})
    scan = term_search(
        docs.withColumn("title_tokens", stemmed_tokens(F.col("title"))),
        {"contains": {"path": "title", "value": "running"}},
        schema, limit=10, id_col="doc_id",
    )
    idx = term_search_indexed(index, [("title", "run")], 10)
    assert [r["doc_id"] for r in scan.collect()] == [r["doc_id"] for r in idx.collect()]


def test_unknown_term_empty(index):
    assert term_search_indexed(index, [("title", "zzz")], 10).isEmpty()
    # AND with one unknown term -> empty (planner.rs:90-116 semantics)
    assert term_search_indexed(index, [("title", "run"), ("title", "zzz")], 10).isEmpty()


def test_indexed_and_counts_a_repeated_pair_once(index):
    got = term_search_indexed(index, [("title", "run")] * 2, 10)
    assert [r["doc_id"] for r in got.collect()] == [1, 2, 4]
    got = term_search_indexed(index, [("title", "run"), ("title", "walk")] * 2, 10)
    assert [r["doc_id"] for r in got.collect()] == [4]
