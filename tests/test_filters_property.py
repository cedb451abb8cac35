"""Property-based filter-compiler testing (hypothesis): random
DocumentFilter trees evaluated by the Spark compiler must match a
straightforward Python-set evaluator — the exhaustive-algebra analog of
the reference's iterator tests (iters/mod.rs:66-162) beyond its
hand-picked cases."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from muopdb_spark.filters.compiler import FilterSchema, compile_filter
from muopdb_spark.functions.text import simple_tokens

VOCAB = ["alpha", "beta", "gamma", "delta"]
CATS = ["news", "blog", "misc"]
SCHEMA = FilterSchema({"body": "text", "cat": "keyword"})

CORPUS = [
    # (doc_id, body, cat)
    (i, " ".join(VOCAB[j] for j in range(4) if (i >> j) & 1) or "empty", CATS[i % 3])
    for i in range(16)
]


def tree_strategy(words, cats, max_id):
    """Random DocumentFilter trees over a text field `body` (Contains
    values drawn from `words`), a keyword field `cat` (from `cats`) and
    doc ids 0..max_id, with And / Or / NotContains nodes."""
    leaf = st.one_of(
        st.sampled_from(words).map(lambda w: {"contains": {"path": "body", "value": w}}),
        st.sampled_from(cats).map(lambda c: {"contains": {"path": "cat", "value": c}}),
        st.lists(st.integers(0, max_id), max_size=4).map(lambda ids: {"ids": ids}),
    )
    return st.recursive(
        leaf,
        lambda kids: st.one_of(
            st.lists(kids, max_size=3).map(lambda c: {"and": c}),
            st.lists(kids, max_size=3).map(lambda c: {"or": c}),
            kids.map(_negate),
        ),
        max_leaves=6,
    )


def _negate(leaf):
    if "contains" in leaf:
        return {"not_contains": leaf["contains"]}
    return leaf


trees = tree_strategy(VOCAB + ["zzz"], CATS + ["nope"], 15)


def py_eval(tree, doc) -> bool:
    """Reference evaluator over Python sets (the semantics oracle)."""
    doc_id, body, cat = doc
    toks = set(body.lower().split())
    if tree is None or tree == {}:
        return False
    if "and" in tree:
        return bool(tree["and"]) and all(py_eval(t, doc) for t in tree["and"])
    if "or" in tree:
        return bool(tree["or"]) and any(py_eval(t, doc) for t in tree["or"])
    if "contains" in tree:
        p, v = tree["contains"]["path"], tree["contains"]["value"]
        if p == "cat":
            return cat == v
        vt = [t for t in str(v).lower().split() if t]
        return bool(vt) and all(t in toks for t in vt)
    if "not_contains" in tree:
        p, v = tree["not_contains"]["path"], tree["not_contains"]["value"]
        inner = py_eval({"contains": {"path": p, "value": v}}, doc)
        return not inner
    if "ids" in tree:
        return doc_id in set(tree["ids"])
    raise ValueError(tree)


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, body string, cat string")
    return df.withColumn("body_tokens", simple_tokens("body")).cache()


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tree=trees)
@pytest.mark.slow
def test_compiler_matches_set_semantics(corpus_df, tree):
    expected = sorted(d[0] for d in CORPUS if py_eval(tree, d))
    cond = compile_filter(tree, SCHEMA, id_col="doc_id", stem=False)
    got = sorted(r["doc_id"] for r in corpus_df.filter(cond).select("doc_id").collect())
    assert got == expected, f"tree={tree}"
