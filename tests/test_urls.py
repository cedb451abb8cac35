"""URL-level curation (operators/urls.py): canonicalization cases a
crawl actually contains, registered-domain heuristic incl. cc-2LDs,
keep-first URL dedup and per-domain caps. All pure Catalyst — the
plan audit's row-python column stays 0."""

from __future__ import annotations

import pytest

from muopdb_spark.operators.urls import (
    domain_cap,
    url_dedup,
    url_host,
    url_normalize,
    url_registered_domain,
)


CANON_CASES = [
    # scheme+host lowercase; path case preserved
    ("HTTPS://WWW.Example.COM/Path/X", "https://www.example.com/Path/X"),
    # default ports dropped (https and http)
    ("https://a.com:443/x", "https://a.com/x"),
    ("http://a.com:80/x", "http://a.com/x"),
    # non-default port kept
    ("http://a.com:8080/x", "http://a.com:8080/x"),
    # fragment dropped
    ("https://a.com/x#frag", "https://a.com/x"),
    # tracking params dropped, real ones kept, separators cleaned
    ("https://a.com/p?utm_source=x&id=3", "https://a.com/p?id=3"),
    ("https://a.com/p?id=3&utm_source=x", "https://a.com/p?id=3"),
    ("https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p"),
    ("https://a.com/p?fbclid=zz&gclid=y", "https://a.com/p"),
    # trailing slash on a bare path dropped; root kept
    ("https://a.com/x/", "https://a.com/x"),
    ("https://a.com/Path/?id=3", "https://a.com/Path/?id=3"),
]


@pytest.mark.parametrize("raw,canon", CANON_CASES)
def test_url_normalize_cases(spark, raw, canon):
    df = spark.createDataFrame([(raw,)], "url string")
    out = df.select(url_normalize("url").alias("c")).collect()[0].c
    assert out == canon, (raw, out)


def test_host_and_registered_domain(spark):
    cases = [
        ("https://WWW.Example.COM/x", "www.example.com", "example.com"),
        ("https://sub.deep.example.com/x", "sub.deep.example.com",
         "example.com"),
        ("http://news.site.co.uk/a", "news.site.co.uk", "site.co.uk"),
        ("https://shop.example.com.au/", "shop.example.com.au",
         "example.com.au"),
        ("ftp://user@Host.Org/file", "host.org", "host.org"),
        ("https://a.com:8080/x", "a.com", "a.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _h, _d in cases], "url string")
    rows = df.select(
        "url", url_host("url").alias("h"),
        url_registered_domain("url").alias("d"),
    ).collect()
    got = {r.url: (r.h, r.d) for r in rows}
    for u, h, d in cases:
        assert got[u] == (h, d), (u, got[u])


def test_url_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(0, "HTTPS://A.com/x?utm_a=1"), (1, "https://a.com/x"),
         (2, "https://a.com/y")],
        "doc_id long, url string",
    )
    kept = sorted(r.doc_id for r in url_dedup(df).collect())
    assert kept == [0, 2]  # 0 and 1 canonicalize identically


def test_domain_cap_quality_first(spark):
    rows = [(i, f"https://{'www.' if i % 2 else ''}dom.com/p{i}",
             float(i % 5)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, url string, q double")
    out = domain_cap(df, cap=3, order_col="q").collect()
    assert len(out) == 3
    assert all(r.domain == "dom.com" for r in out)
    # top-3 by quality desc, id asc tiebreak: q=4 -> ids 4, 9; q=3 -> 3
    assert sorted(r.doc_id for r in out) == [3, 4, 9]
    with pytest.raises(ValueError, match="cap"):
        domain_cap(df, cap=0)


def test_pass_is_pure_catalyst(spark):
    # no Python evaluation nodes in the plan (the 100 TB contract)
    df = spark.createDataFrame([(0, "https://a.com/x")],
                               "doc_id long, url string")
    plan = domain_cap(url_dedup(df), cap=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


# ---------------------------------------------- review-hardening cases


def test_ports_only_stripped_from_authority(spark):
    cases = [
        # ':80' in a PATH must survive
        ("https://a.com/live/12:80/clip", "https://a.com/live/12:80/clip"),
        # :80 under https / :443 under http are real origins — keep
        ("https://a.com:80/x", "https://a.com:80/x"),
        ("http://a.com:443/x", "http://a.com:443/x"),
        # scheme-default ports dropped, incl. with no path
        ("https://a.com:443", "https://a.com"),
        ("http://a.com:80", "http://a.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r.url: r.c for r in df.select(
        "url", url_normalize("url").alias("c")).collect()}
    for u, c in cases:
        assert got[u] == c, (u, got[u])


def test_relative_urls_never_collapse(spark):
    # scheme-less hrefs can't be canonicalized — they must pass
    # through distinct (NOT all map to ''), and domain_cap must not
    # lump them into one NULL pseudo-domain
    df = spark.createDataFrame(
        [(0, "/a"), (1, "/b"), (2, "relative/path"), (3, "/a"),
         (4, "https://x.com/1"), (5, "https://x.com/2")],
        "doc_id long, url string",
    )
    kept = sorted(r.doc_id for r in url_dedup(df).collect())
    assert kept == [0, 1, 2, 4, 5]  # only the true '/a' dup dropped
    capped = domain_cap(df, cap=1)
    ids = sorted(r.doc_id for r in capped.collect())
    # cap applies to x.com (keeps doc 4); all relative rows survive
    assert ids == [0, 1, 2, 3, 4]


def test_uppercase_tracking_params_stripped(spark):
    df = spark.createDataFrame(
        [("https://a.com/p?UTM_Source=mail",),
         ("https://a.com/p?FBCLID=zz&x=1",)], "url string")
    got = [r.c for r in df.select(url_normalize("url").alias("c")).collect()]
    assert got == ["https://a.com/p", "https://a.com/p?x=1"]


# ------------------------------------- r14: skew-safe two-phase cap


def _domain_cap_single_window(df, *, cap, order_col=None):
    # the r13 single-window referee form, kept here as the
    # equivalence oracle for the salted two-phase production path
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from muopdb_spark.operators.urls import url_registered_domain

    out = df.withColumn("domain", url_registered_domain("url"))
    order = (
        [F.col(order_col).desc(), F.col("doc_id").asc()]
        if order_col else [F.col("doc_id").asc()]
    )
    w = Window.partitionBy("domain").orderBy(*order)
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("domain").isNull() | (F.col("_rn") <= cap))
        .drop("_rn")
    )


@pytest.mark.slow
def test_domain_cap_salted_matches_single_window(spark):
    # heavy skew: one whale domain with 400 rows, a handful of small
    # domains, quality ties, and relative URLs — the salted two-phase
    # path must keep EXACTLY the single-window result
    rows = []
    for i in range(400):
        rows.append((i, "https://whale.com/p%d" % i, float(i % 7)))
    for i in range(400, 430):
        rows.append((i, "https://small%d.org/x" % (i % 3), float(i % 4)))
    for i in range(430, 436):
        rows.append((i, "/relative/%d" % i, 1.0))
    df = spark.createDataFrame(rows, "doc_id long, url string, q double")
    for order_col in (None, "q"):
        for buckets in (1, 4, 16):
            got = sorted(
                (r.doc_id, r.domain)
                for r in domain_cap(
                    df, cap=5, order_col=order_col,
                    salt_buckets=buckets,
                ).collect()
            )
            want = sorted(
                (r.doc_id, r.domain)
                for r in _domain_cap_single_window(
                    df, cap=5, order_col=order_col
                ).collect()
            )
            assert got == want, (order_col, buckets)


def test_domain_cap_plan_has_no_corpus_wide_domain_window(spark):
    # the 100 TB contract: the first (corpus-sized) window must
    # partition on (domain, salt); only the bounded survivor set
    # (<= salt_buckets*cap rows per domain) may window on domain alone
    df = spark.createDataFrame(
        [(0, "https://a.com/x")], "doc_id long, url string"
    )
    plan = domain_cap(df, cap=5)._jdf.queryExecution() \
        .executedPlan().toString()
    windows = [
        ln for ln in plan.splitlines() if "Window" in ln and "_rn" in ln
    ]
    assert len(windows) == 2, plan
    # executed plans list the LAST stage first: the survivor window
    # (domain only) then the corpus window (domain, salt)
    corpus = [w for w in windows if "_salt" in w]
    assert len(corpus) == 1, windows
    assert "Python" not in plan and "BatchEval" not in plan


def test_domain_cap_precomputed_domain_col(spark):
    """domain_col caps on a caller-supplied grouping (the PSL
    composition path) instead of the heuristic expression."""
    from muopdb_spark.operators.psl import with_registered_domain

    # co.il roots at three labels under the PSL but two under the
    # heuristic — with the PSL column the two sites cap separately
    rows = [(i, f"https://site{i % 2}.co.il/p/{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    via_psl = domain_cap(
        with_registered_domain(df, url_col="url", out_col="psl_dom"),
        cap=2, domain_col="psl_dom",
    )
    out = via_psl.collect()
    assert len(out) == 4  # 2 per real site
    assert {r.domain for r in out} == {"site0.co.il", "site1.co.il"}
    # heuristic form lumps both sites under 'co.il' -> one cap bucket
    lumped = domain_cap(df, cap=2).collect()
    assert len(lumped) == 2
    assert {r.domain for r in lumped} == {"co.il"}
    with pytest.raises(ValueError, match="domain_col"):
        domain_cap(df, cap=2, domain_col="nope")


def test_domain_cap_domain_col_named_domain(spark):
    df = spark.createDataFrame(
        [(0, "https://x.com/a", "g1"), (1, "https://x.com/b", "g1"),
         (2, "https://x.com/c", "g2")],
        "doc_id long, url string, domain string",
    )
    out = domain_cap(df, cap=1, domain_col="domain").collect()
    assert sorted(r.doc_id for r in out) == [0, 2]


def test_domain_link_edges_psl(spark):
    """psl=True roots link-graph nodes with the full list: two sites
    under co.il stay distinct instead of lumping under the suffix."""
    from muopdb_spark.operators.urls import domain_link_edges

    pages = spark.createDataFrame(
        [(0, "https://a.co.il/x"), (1, "https://b.co.il/y")],
        "doc_id long, url string",
    )
    links = spark.createDataFrame(
        [(0, "https://b.co.il/ref"), (1, "https://a.co.il/ref")],
        "doc_id long, href string",
    )
    heur = domain_link_edges(pages, links).collect()
    assert heur == []  # heuristic lumps both under co.il -> self-edges
    pslv = sorted(
        (r.src_domain, r.dst_domain, r.n_links)
        for r in domain_link_edges(pages, links, psl=True).collect()
    )
    assert pslv == [("a.co.il", "b.co.il", 1), ("b.co.il", "a.co.il", 1)]
