"""DocumentFilter tree -> boolean Column compiler.

The reference's only filter language is the `DocumentFilter` proto tree
(rs/proto/proto/muopdb.proto:83-114): And | Or | Contains(path, value) |
NotContains(path, value) | Ids([ids]). Its planner compiles the tree to
sorted-posting-list iterators with leapfrog intersection
(rs/index/src/query/planner.rs:41-169, iters/and_iter.rs, or_iter.rs).

Spark-first: we compile the same tree to ONE boolean Column expression
and let Catalyst do what the iterator algebra did by hand — AND/OR
short-circuiting, empty-filter propagation (PropagateEmptyRelation),
single-child flattening (boolean simplification), predicate pushdown
below sort/limit. The iterator machinery itself (skip_to, leapfrog,
visited sets) has no Spark analog because it's an artifact of
row-at-a-time execution.

Semantics matrix (planner.rs:244-493 is the test model):
  - Contains on a TEXT field: tokenize + stem the VALUE with the field's
    language; multi-token => AND of per-token membership
    (planner.rs:70-119). Unknown term simply matches nothing.
  - Contains on a KEYWORD field: whole-value equality
    (mutable_segment.rs:97-99 indexes the whole value).
  - NotContains: declared but todo!() in the reference (planner.rs:120-123);
    trivial here — we implement it (capability-exceeding, flagged).
  - Ids: membership in a literal id list; sorted/deduped by isin.
  - Empty And/Or/missing filter => matches nothing (planner.rs:124-148).

Driver target (compile_sets): the same tree compiled to a function over
sorted row positions of a (segment, user)'s resident term index
(Collection.term_search), so an And holds on one row as in the scan;
the caller projects matching rows to doc ids. This is the reference's
planner target — posting lists of segment-local point ids, combined
per user — with numpy set algebra in place of leapfrog iterators.

JSON encoding (FIXTURES.md F4):
    {"and": [f, ...]} | {"or": [f, ...]}
    {"contains": {"path": p, "value": v}}
    {"not_contains": {"path": p, "value": v}}
    {"ids": [1, 2, 3]}
    {}  -> matches nothing
"""

from __future__ import annotations

import functools
import json
from typing import Any, Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from muopdb_spark.functions.text import stem_word


class FilterSchema:
    """Per-collection attribute schema: field -> ("text"|"keyword", lang).

    Mirrors CollectionConfig.attribute_schema (muopdb.proto:31-67); only
    TEXT and KEYWORD attributes are searchable (mutable_segment.rs:74-103
    skips int/float/bool with "not tokenized").
    """

    def __init__(self, fields: dict[str, str | tuple[str, str]], tokens_suffix: str = "_tokens"):
        self.fields: dict[str, tuple[str, str]] = {}
        for name, spec in fields.items():
            if isinstance(spec, str):
                self.fields[name] = (spec, "english")
            else:
                self.fields[name] = (spec[0], spec[1])
        self.tokens_suffix = tokens_suffix

    def _spec(self, path: str) -> tuple[str, str]:
        try:
            return self.fields[path]
        except KeyError:
            raise ValueError(
                f"unknown searchable attribute {path!r} (schema has: "
                f"{sorted(self.fields)})"
            ) from None

    def kind(self, path: str) -> str:
        return self._spec(path)[0]

    def language(self, path: str) -> str:
        return self._spec(path)[1]

    def tokens_col(self, path: str) -> Column:
        return F.col(path + self.tokens_suffix)


def _tokenize_value(value: str, language: str, *, stem: bool) -> list[str]:
    toks = [t for t in value.lower().split() if t]
    if stem:
        # per-language stemming (en=Porter, de/es/fr=Snowball, else
        # identity) — must match the index side, stemming_tokenizer.rs
        toks = [stem_word(t, language) for t in toks]
    return toks


def _contains(path: str, value: Any, schema: FilterSchema, *, stem: bool) -> Column:
    kind = schema.kind(path)
    if kind == "keyword":
        # whole-value exact match (mutable_segment.rs:97-99)
        return F.col(path) == F.lit(value)
    toks = _tokenize_value(str(value), schema.language(path), stem=stem)
    if not toks:
        return F.lit(False)
    cond = F.array_contains(schema.tokens_col(path), toks[0])
    for t in toks[1:]:
        cond = cond & F.array_contains(schema.tokens_col(path), t)
    return cond


def compile_filter(
    tree: dict | str | None,
    schema: FilterSchema,
    *,
    id_col: str = "doc_id",
    stem: bool = True,
) -> Column:
    """Compile a DocumentFilter JSON tree into a boolean Column."""
    if isinstance(tree, str):
        tree = json.loads(tree) if tree.strip() else {}
    if tree is None or tree == {}:
        # missing/empty filter matches nothing (planner.rs:124-148)
        return F.lit(False)

    if "and" in tree:
        children = tree["and"]
        if not children:
            return F.lit(False)
        cond = compile_filter(children[0], schema, id_col=id_col, stem=stem)
        for c in children[1:]:
            cond = cond & compile_filter(c, schema, id_col=id_col, stem=stem)
        return cond
    if "or" in tree:
        children = tree["or"]
        if not children:
            return F.lit(False)
        cond = compile_filter(children[0], schema, id_col=id_col, stem=stem)
        for c in children[1:]:
            cond = cond | compile_filter(c, schema, id_col=id_col, stem=stem)
        return cond
    if "contains" in tree:
        node = tree["contains"]
        return _contains(node["path"], node["value"], schema, stem=stem)
    if "not_contains" in tree:
        node = tree["not_contains"]
        inner = _contains(node["path"], node["value"], schema, stem=stem)
        # NULL-safe negation: a row whose field is null (so its Contains
        # is null) matches, as a doc without a posting does on the driver
        return ~F.coalesce(inner, F.lit(False))
    if "ids" in tree:
        ids = sorted(set(tree["ids"]))
        if not ids:
            return F.lit(False)
        return F.col(id_col).isin(ids)
    raise ValueError(f"unknown DocumentFilter node: {list(tree)}")


# ------------------------------------------------------ driver target

# (postings, visible, doc) -> row positions in a (segment, user)'s row
# table: postings(field, term) gives the sorted positions of the rows
# holding one (field, term), visible the sorted positions of that
# user's visible rows in the segment, doc the doc id at every position.
SetFilter = Callable[[Callable[[str, str], np.ndarray], np.ndarray, np.ndarray], np.ndarray]

NO_IDS = np.zeros(0, dtype=np.int64)


def _nothing(postings, visible, doc) -> np.ndarray:
    return NO_IDS


def _key(field: str, term: str) -> SetFilter:
    return lambda postings, visible, doc: postings(field, term)


def _all(kids: list[SetFilter]) -> SetFilter:
    if not kids:
        return _nothing
    return lambda p, v, d: functools.reduce(np.intersect1d, [k(p, v, d) for k in kids])


def _any(kids: list[SetFilter]) -> SetFilter:
    if not kids:
        return _nothing
    return lambda p, v, d: functools.reduce(np.union1d, [k(p, v, d) for k in kids])


def _contains_sets(path: str, value: Any, schema: FilterSchema) -> SetFilter:
    if schema.kind(path) == "keyword":
        # a null value matches nothing, as `col == NULL` in _contains
        return _nothing if value is None else _key(path, str(value))
    # stemmed, as build_index builds the resident term index
    toks = _tokenize_value(str(value), schema.language(path), stem=True)
    return _all([_key(path, t) for t in toks])


def compile_sets(tree: dict | str | None, schema: FilterSchema) -> SetFilter:
    """Compile a DocumentFilter JSON tree for the driver, with
    compile_filter's semantics per row: And intersects, Or unions,
    Contains looks up the value's stemmed tokens and intersects them,
    NotContains is the visible rows minus its Contains, Ids is the
    visible rows whose doc is listed, and an empty filter, And or Or or
    a value without tokens matches nothing. Leaves may return rows that
    are not visible; the caller keeps the visible ones and projects
    them to doc ids."""
    if isinstance(tree, str):
        tree = json.loads(tree) if tree.strip() else {}
    if tree is None or tree == {}:
        return _nothing
    if "and" in tree:
        return _all([compile_sets(c, schema) for c in tree["and"]])
    if "or" in tree:
        return _any([compile_sets(c, schema) for c in tree["or"]])
    if "contains" in tree:
        node = tree["contains"]
        return _contains_sets(node["path"], node["value"], schema)
    if "not_contains" in tree:
        node = tree["not_contains"]
        inner = _contains_sets(node["path"], node["value"], schema)
        return lambda p, v, d: np.setdiff1d(v, inner(p, v, d))
    if "ids" in tree:
        ids = np.asarray(tree["ids"], dtype=np.int64)
        return lambda p, v, d: v[np.isin(d[v], ids)]
    raise ValueError(f"unknown DocumentFilter node: {list(tree)}")


def compile_keys(terms: list[tuple[str, str]], mode: str = "and") -> SetFilter:
    """term_search_indexed's driver target: the AND (mode "and") or OR
    of exact (field, term) posting lists; a repeated pair counts once."""
    kids = [_key(f, t) for f, t in dict.fromkeys((f, t) for f, t in terms)]
    return _all(kids) if mode == "and" else _any(kids)


def term_search(
    df,
    tree: dict | str | None,
    schema: FilterSchema,
    limit: int,
    *,
    id_col: str = "doc_id",
    user_ids=None,
    user_col: str = "user_id",
    stem: bool = True,
):
    """TermSearch entry point (§3.2): filter → distinct ids → sorted →
    limit, matching snapshot.rs:141-146 (sort, dedup, take(limit))."""
    if user_ids is not None:
        df = df.filter(F.col(user_col).isin(list(user_ids)))
    cond = compile_filter(tree, schema, id_col=id_col, stem=stem)
    return (
        df.filter(cond)
        .select(id_col)
        .distinct()
        .orderBy(F.col(id_col).asc())
        .limit(limit)
    )
