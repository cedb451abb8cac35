"""Registered-domain extraction over the full vendored Mozilla PSL
(operators/psl.py): the spec's own checkPublicSuffix test shapes, the
r13-verdict exotic suffixes (co.il, com.sg), wildcard/exception rules,
the private section, IDN punycode twins, and a generated-corpus
equivalence run pinning the 5-broadcast-join Spark plan against the
pure-Python spec referee.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from muopdb_spark.operators.psl import (
    MAX_RULE_LABELS,
    load_psl_rules,
    registered_domain_py,
    with_registered_domain,
)

# (host, expected registered domain with the FULL list) — derived by
# applying the publicsuffix.org algorithm by hand to the vendored
# list; shapes follow Mozilla's checkPublicSuffix examples.
MATRIX = [
    # plain two-label under a plain TLD
    ("example.com", "example.com"),
    ("www.example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    # host IS a public suffix -> NULL
    ("com", None),
    ("co.uk", None),
    # cc-2LDs the old heuristic knew
    ("www.example.co.uk", "example.co.uk"),
    # cc-2LDs the r13 verdict named as mis-rooted by the heuristic
    ("www.example.co.il", "example.co.il"),
    ("shop.example.com.sg", "example.com.sg"),
    # wildcard rule *.ck — '*' consumes one label, so example.ck IS
    # the public suffix (Mozilla's checkPublicSuffix('b.test.ck',
    # 'b.test.ck') shape)
    ("example.ck", None),
    ("www.example.ck", "www.example.ck"),
    ("a.b.example.ck", "b.example.ck"),
    # exception rule !www.ck
    ("www.ck", "www.ck"),
    ("sub.www.ck", "www.ck"),
    # exception rules under *.kawasaki.jp
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("sub.city.kawasaki.jp", "city.kawasaki.jp"),
    ("other.kawasaki.jp", None),
    ("www.other.kawasaki.jp", "www.other.kawasaki.jp"),
    # unlisted TLD -> implicit * rule
    ("example.unlistedtld", "example.unlistedtld"),
    ("www.example.unlistedtld", "example.unlistedtld"),
    ("unlistedtld", None),
    # private-section rules (github.io: each user site is its own
    # registrable domain — exactly why crawl capping wants the full
    # list including private)
    ("alice.github.io", "alice.github.io"),
    ("www.alice.github.io", "alice.github.io"),
    # *.compute.amazonaws.com (4 labels incl '*'): a 4-label host IS
    # the public suffix; 5/6-label hosts root one label above it
    ("us-east-1.compute.amazonaws.com", None),
    (
        "vm.us-east-1.compute.amazonaws.com",
        "vm.us-east-1.compute.amazonaws.com",
    ),
    (
        "x.vm.us-east-1.compute.amazonaws.com",
        "vm.us-east-1.compute.amazonaws.com",
    ),
    # IDN rule matched through its punycode twin (是.香港 etc.); xn--j6w193g = 香港
    ("example.xn--j6w193g", "example.xn--j6w193g"),
    ("www.example.xn--j6w193g", "example.xn--j6w193g"),
    # FQDN trailing dot, case, IPv4/IPv6 literals, garbage
    ("Example.COM.", "example.com"),
    ("192.168.0.1", None),
    ("[2001:db8::1]", None),
    ("", None),
    ("..", None),
]


def test_python_referee_matrix():
    for host, want in MATRIX:
        got = registered_domain_py(host)
        assert got == want, f"{host!r}: want {want!r}, got {got!r}"


def test_icann_only_drops_private_rules():
    # with icann_only, github.io is not a suffix -> registered domain
    # roots at github.io itself
    assert registered_domain_py("alice.github.io", icann_only=True) == "github.io"
    assert (
        registered_domain_py("www.alice.github.io", icann_only=True)
        == "github.io"
    )


def test_loader_shape():
    rules = load_psl_rules()
    assert len(rules) > 9000
    keys = {r[0] for r in rules}
    # punycode twins present for unicode rules
    assert "xn--j6w193g" in keys
    assert all(
        r[0].count(".") + 1 <= MAX_RULE_LABELS for r in rules
    )
    sections = {r[4] for r in rules}
    assert sections == {"icann", "private"}


def test_spark_matrix(spark):  # noqa: F811
    df = spark.createDataFrame(
        [(h,) for h, _ in MATRIX if h], "host string"
    )
    got = {
        r["host"]: r["registered_domain"]
        for r in with_registered_domain(df, host_col="host").collect()
    }
    for host, want in MATRIX:
        if not host:
            continue
        assert got[host] == want, f"{host!r}: want {want!r}, got {got[host]!r}"


def test_spark_matches_python_referee_on_generated_corpus(spark):  # noqa: F811
    """Equivalence over a corpus generated from the list itself: for a
    deterministic sample of rule keys, synthesize hosts at several
    depths around the rule boundary — the cases where prevailing-rule
    selection can go wrong."""
    rules = load_psl_rules()
    sample = [r[0] for i, r in enumerate(rules) if i % 97 == 0]
    hosts = []
    for key in sample:
        hosts.append(key)
        hosts.append("alpha." + key)
        hosts.append("beta.alpha." + key)
    # only ASCII hosts go through Spark (crawl reality); unicode rules
    # are exercised via their punycode twins in `sample` already
    hosts = [h for h in hosts if h.isascii()]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["registered_domain"]
        for r in with_registered_domain(df, host_col="host").collect()
    }
    bad = [
        (h, registered_domain_py(h), got[h])
        for h in hosts
        if got[h] != registered_domain_py(h)
    ]
    assert not bad, f"{len(bad)} mismatches, first 10: {bad[:10]}"
    assert len(hosts) > 250


def test_url_col_and_suffix_col(spark):  # noqa: F811
    df = spark.createDataFrame(
        [("https://Sub.Example.CO.IL:8443/p?q=1",)], "url string"
    )
    row = with_registered_domain(
        df, url_col="url", out_col="dom", suffix_col="suf"
    ).collect()[0]
    assert row["dom"] == "example.co.il"
    assert row["suf"] == "co.il"


def test_plan_is_broadcast_and_python_free(spark):  # noqa: F811
    # a non-constant host: a literal would constant-fold the join key
    # and legitimately degrade to a BNLJ over the 10k rules
    df = spark.range(100).withColumn(
        "host", F.concat(F.lit("www.site"), F.col("id"), F.lit(".co.uk"))
    )
    out = with_registered_domain(df, host_col="host")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # the corpus side is never exchanged: no hash-partitioning shuffle
    # anywhere in the plan (the rule sides move via broadcast exchange)
    assert not re.search(r"Exchange hashpartitioning", plan)


def test_caller_columns_named_like_rule_columns_survive(spark):  # noqa: F811
    """r17 regression (ADVICE r16, medium): the per-join rename used
    to hit EVERY column matching suffix/exact/wild/exc — including the
    caller's own — and the final drop() silently removed them. A
    caller column named 'suffix' (e.g. a previous PSL call's
    suffix_col output, chained) must ride through untouched."""
    df = spark.createDataFrame(
        [("www.example.co.uk", "keep-me", 7)],
        "host string, suffix string, exact int",
    )
    out = with_registered_domain(
        df, host_col="host", out_col="dom", suffix_col="suf"
    )
    assert set(out.columns) == {"host", "suffix", "exact", "dom", "suf"}
    row = out.collect()[0]
    assert row["suffix"] == "keep-me" and row["exact"] == 7
    assert row["dom"] == "example.co.uk" and row["suf"] == "co.uk"
    # chaining two PSL calls with suffix_col='suffix' (the ADVICE
    # repro): the first call's output column must survive the second
    df2 = with_registered_domain(
        spark.createDataFrame([("a.b.example.com",)], "host string"),
        host_col="host", out_col="d1", suffix_col="suffix",
    )
    row2 = with_registered_domain(
        df2, host_col="host", out_col="d2", suffix_col="s2"
    ).collect()[0]
    assert row2["suffix"] == "com" and row2["s2"] == "com"
    assert row2["d1"] == row2["d2"] == "example.com"
    # a caller column with a dot in its name must resolve as one column,
    # not as field `id` of a struct column `meta`
    dotted = spark.createDataFrame(
        [("www.example.co.uk", 5)], "host string, `meta.id` int"
    )
    out3 = with_registered_domain(dotted, host_col="host", out_col="dom")
    assert set(out3.columns) == {"host", "meta.id", "dom"}
    row3 = out3.collect()[0]
    assert row3["meta.id"] == 5 and row3["dom"] == "example.co.uk"


def test_arg_errors(spark):  # noqa: F811
    df = spark.createDataFrame([("a.com",)], "host string")
    with pytest.raises(ValueError):
        with_registered_domain(df)
    with pytest.raises(ValueError):
        with_registered_domain(df, host_col="host", url_col="host")
