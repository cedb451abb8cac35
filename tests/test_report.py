"""Per-source dataset hygiene report (operators/report, rep1)."""

from __future__ import annotations

import pytest

from muopdb_spark.operators.contamination import benchmark_grams
from muopdb_spark.operators.report import source_report


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_report_counts_and_dup_rate(spark):
    rows = [
        (1, "alpha beta gamma delta", "en", "web"),
        (2, "alpha beta gamma delta", "en", "web"),   # exact dup of 1
        (3, "epsilon zeta eta theta", "de", "web"),
        (4, "one two three four five", "en", "books"),
    ]
    out = {r["source"]: r for r in source_report(
        _docs(spark, rows), lang_col="lang").collect()}
    web, books = out["web"], out["books"]
    assert web["n_docs"] == 3 and books["n_docs"] == 1
    assert web["total_tokens"] == 12 and books["total_tokens"] == 5
    assert abs(web["exact_dup_rate"] - 1 / 3) < 1e-6
    assert books["exact_dup_rate"] == 0.0
    assert web["mean_tokens"] == 4.0 and books["mean_tokens"] == 5.0
    assert 0.0 <= web["mean_quality"] <= 1.0


def test_report_top_lang_deterministic_tie(spark):
    # 2 en vs 2 de in one source: tie broken to the lexicographically
    # smaller language
    rows = [
        (1, "a b c", "en", "s"), (2, "d e f", "en", "s"),
        (3, "g h i", "de", "s"), (4, "j k l", "de", "s"),
    ]
    r = source_report(_docs(spark, rows), lang_col="lang").collect()[0]
    assert r["top_lang"] == "de" and r["n_langs"] == 2


@pytest.mark.slow
def test_report_contamination_rate(spark):
    leak = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, leak, "en", "web"),                          # contaminated
        (2, "unrelated words entirely here now", "en", "web"),
        (3, "other clean content too", "en", "books"),
    ]
    bench = _docs(spark, [(100, leak, "en", "bench")])
    out = {r["source"]: r for r in source_report(
        _docs(spark, rows), lang_col="lang",
        bench_grams=benchmark_grams(bench),
    ).collect()}
    assert abs(out["web"]["contaminated_rate"] - 0.5) < 1e-6
    assert out["books"]["contaminated_rate"] == 0.0


def test_report_partition_invariant(spark):
    rows = [(i, f"tok{i % 7} alpha beta common words here",
             ["en", "de", "fr"][i % 3], f"src{i % 4}")
            for i in range(60)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, source_report(df, lang_col="lang").collect()))
    b = sorted(map(tuple, source_report(
        df.repartition(11), lang_col="lang").collect()))
    assert a == b and len(a) == 4
