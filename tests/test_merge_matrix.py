"""Merge-optimizer scenario matrix — mirrors the reference's hardest
lifecycle test file (rs/index/src/optimizers/merge.rs:112-1172, eight
scenarios spanning users x terms x invalidation under merge), plus the
two compaction-interplay cases the r11 review asked for
(vacuum-under-delete race, merge-then-vacuum idempotence).

Same data shapes as the reference where practical: 3-feature vectors,
two flushed segments of three docs each, the [1..9] / [100..108]
value split so the two clusters are unambiguous under L2.
"""

import pytest

from muopdb_spark.catalog.collection import Collection, CollectionConfig


@pytest.fixture()
def col3(spark, tmp_path):
    cfg = CollectionConfig(
        name="merge_matrix", num_features=3,
        attribute_schema={"title": "text"},
    )
    return Collection.create(spark, str(tmp_path), cfg)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<float>, title string"
    )


def _two_segments(col3, spark, *, users=(0,), titles=None):
    """The merge.rs fixture: docs 1-3 near [1..9], docs 4-6 near
    [100..108], flushed as two segments; every doc inserted for every
    user in `users` (insert_for_users analog)."""
    titles = titles or {i: f"doc{i}" for i in range(1, 7)}
    vecs = {
        1: [1.0, 2.0, 3.0], 2: [4.0, 5.0, 6.0], 3: [7.0, 8.0, 9.0],
        4: [100.0, 101.0, 102.0], 5: [103.0, 104.0, 105.0],
        6: [106.0, 107.0, 108.0],
    }
    col3.insert(_df(spark, [(u, d, vecs[d], titles[d])
                            for d in (1, 2, 3) for u in users]))
    col3.flush()
    col3.insert(_df(spark, [(u, d, vecs[d], titles[d])
                            for d in (4, 5, 6) for u in users]))
    col3.flush()
    assert len(col3.toc()["segments"]) == 2
    return vecs


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


# 1. merge.rs:112 test_merge_optimizer — plain 2->1 merge, both vector
#    clusters still searchable with the right triples
def test_merge_optimizer(col3, spark):
    _two_segments(col3, spark)
    col3.merge_segments()
    assert len(col3.toc()["segments"]) == 1
    assert _ids(col3.search([0], [100.0, 101.0, 102.0], 3)) == [4, 5, 6]
    assert _ids(col3.search([0], [1.0, 2.0, 3.0], 3)) == [1, 2, 3]


# 2. merge.rs:224 test_merge_invalidated_optimizer — removed docs are
#    physically dropped by the merge rewrite and stay unsearchable
def test_merge_invalidated(col3, spark):
    _two_segments(col3, spark)
    col3.remove([0], [2, 5])
    col3.merge_segments()
    assert len(col3.toc()["segments"]) == 1
    assert _ids(col3.docs(with_tombstones=True)) == [1, 3, 4, 6]
    assert col3.tombstones().count() == 0  # full rewrite prunes the log
    assert _ids(col3.search([0], [1.0, 2.0, 3.0], 10)) == [1, 3, 4, 6]


# 3. merge.rs:334 test_merge_optimizer_with_multiple_users — per-user
#    isolation survives the merge
def test_merge_multiple_users(col3, spark):
    _two_segments(col3, spark, users=(0, 1))
    col3.merge_segments()
    assert len(col3.toc()["segments"]) == 1
    for u in (0, 1):
        assert _ids(col3.search([u], [100.0, 101.0, 102.0], 3)) == [4, 5, 6]
        assert _ids(col3.search([u], [1.0, 2.0, 3.0], 3)) == [1, 2, 3]
    # a user with no docs sees nothing
    assert col3.search([7], [1.0, 2.0, 3.0], 3).isEmpty()


# 4. merge.rs:446 test_merge_invalidated_optimizer_with_multiple_users
#    — invalidation is PER USER: user 0's remove must not mask user 1's
#    copy of the same doc_id through the merge rewrite
def test_merge_invalidated_multiple_users(col3, spark):
    _two_segments(col3, spark, users=(0, 1))
    col3.remove([0], [2, 5])
    col3.merge_segments()
    assert _ids(col3.search([0], [1.0, 2.0, 3.0], 10)) == [1, 3, 4, 6]
    assert _ids(col3.search([1], [1.0, 2.0, 3.0], 10)) == [1, 2, 3, 4, 5, 6]


# 5. merge.rs:555 test_merge_optimizer_with_terms — term postings
#    survive the merge rewrite
def test_merge_with_terms(col3, spark):
    _two_segments(col3, spark, titles={
        1: "apple pie", 2: "banana split", 3: "apple turnover",
        4: "cherry cake", 5: "banana bread", 6: "dragonfruit",
    })
    col3.merge_segments()
    q = {"contains": {"path": "title", "value": "apple"}}
    assert _ids(col3.term_search([0], q, 10)) == [1, 3]
    q = {"contains": {"path": "title", "value": "banana"}}
    assert _ids(col3.term_search([0], q, 10)) == [2, 5]


# 6. merge.rs:672 test_merge_optimizer_with_multiple_terms_per_doc —
#    every token of a multi-token doc keeps hitting it after merge
@pytest.mark.slow
def test_merge_multiple_terms_per_doc(col3, spark):
    _two_segments(col3, spark, titles={
        1: "alpha beta gamma", 2: "beta", 3: "gamma delta",
        4: "alpha", 5: "delta epsilon", 6: "epsilon",
    })
    col3.merge_segments()
    for term, want in [("alpha", [1, 4]), ("beta", [1, 2]),
                       ("gamma", [1, 3]), ("delta", [3, 5]),
                       ("epsilon", [5, 6])]:
        q = {"contains": {"path": "title", "value": term}}
        assert _ids(col3.term_search([0], q, 10)) == want, term


# 7. merge.rs:861 test_merge_optimizer_with_terms_multiple_users —
#    term search respects user boundaries after merge
def test_merge_terms_multiple_users(col3, spark):
    _two_segments(col3, spark, users=(0, 1), titles={
        1: "shared topic", 2: "other", 3: "shared thing",
        4: "topic again", 5: "unrelated", 6: "shared end",
    })
    col3.merge_segments()
    q = {"contains": {"path": "title", "value": "shared"}}
    assert _ids(col3.term_search([0], q, 10)) == [1, 3, 6]
    assert _ids(col3.term_search([1], q, 10)) == [1, 3, 6]
    assert col3.term_search([9], q, 10).isEmpty()


# 8. merge.rs:1021 test_merge_optimizer_with_terms_and_invalidation —
#    a removed doc must drop out of term results through the merge,
#    while other docs carrying the same term keep matching
@pytest.mark.slow
def test_merge_terms_and_invalidation(col3, spark):
    _two_segments(col3, spark, titles={
        1: "target one", 2: "target two", 3: "bystander",
        4: "target three", 5: "bystander too", 6: "target four",
    })
    q = {"contains": {"path": "title", "value": "target"}}
    assert _ids(col3.term_search([0], q, 10)) == [1, 2, 4, 6]
    col3.remove([0], [2, 6])
    col3.merge_segments()
    assert _ids(col3.term_search([0], q, 10)) == [1, 4]
    # the term index rebuilt from the merged segment agrees
    assert _ids(col3.docs()) == [1, 3, 4, 5]


# --- compaction interplay (r11 review additions) ---


@pytest.mark.slow
def test_vacuum_under_delete_race(col3, spark):
    """Deletes arriving BETWEEN vacuum passes: each pass applies the
    tombstones visible at its snapshot; a later remove against the
    rewritten segment masks immediately and the next vacuum applies it
    physically. No resurrection, no double-drop."""
    _two_segments(col3, spark)
    col3.remove([0], [1])  # 1/3 of segment 0 -> above the 0.1 threshold
    first = col3.vacuum()
    assert len(first) == 1
    assert _ids(col3.docs()) == [2, 3, 4, 5, 6]
    # the race: a delete lands after the first vacuum finished
    col3.remove([0], [4])
    assert _ids(col3.docs()) == [2, 3, 5, 6]  # masked immediately
    second = col3.vacuum()
    assert len(second) == 1 and second != first
    assert _ids(col3.docs()) == [2, 3, 5, 6]
    assert _ids(col3.docs(with_tombstones=True)) == [2, 3, 5, 6]
    assert _ids(col3.search([0], [100.0, 101.0, 102.0], 10)) == [2, 3, 5, 6]
    assert _ids(col3.search([0], [100.0, 101.0, 102.0], 2)) == [5, 6]


def test_merge_then_vacuum_idempotent(col3, spark):
    """After a full merge applied every tombstone physically, vacuum
    has nothing to rewrite (no-op), and a second merge over a single
    segment leaves doc content identical."""
    _two_segments(col3, spark)
    col3.remove([0], [3])
    col3.merge_segments()
    v_after_merge = col3.current_version()
    assert col3.vacuum() == []  # nothing above the deleted threshold
    before = _ids(col3.docs())
    col3.merge_segments()
    assert _ids(col3.docs()) == before == [1, 2, 4, 5, 6]
    assert col3.current_version() >= v_after_merge
