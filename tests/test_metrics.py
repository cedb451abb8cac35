"""Engine metrics: counters, histogram buckets, job-group tracking,
collection gauges, Prometheus exposition."""

from __future__ import annotations

from muopdb_spark.metrics import LATENCY_BUCKETS_MS, EngineMetrics


def test_counter_and_histogram():
    m = EngineMetrics()
    m.observe("search", "col_a", 0.5)
    m.observe("search", "col_a", 3.0)
    m.observe("search", "col_b", 700.0)  # beyond the last bucket
    m.observe("insert", "col_a", 2.0)
    assert m.num_requests[("search", "col_a")] == 2
    assert m.num_requests[("search", "col_b")] == 1
    h = m.request_latency_ms["search"]
    assert h.n == 3 and h.total == 703.5
    assert h.counts[0] == 1          # 0.5 <= 1ms
    assert h.counts[2] == 1          # 3.0 <= 4ms
    assert h.counts[-1] == 1         # +inf tail
    assert LATENCY_BUCKETS_MS[0] == 1.0 and LATENCY_BUCKETS_MS[-1] == 512.0


def test_run_records_jobs_and_rows(spark):
    m = EngineMetrics()
    rows = m.run("count_range", spark.range(1000).selectExpr("sum(id) as s"))
    assert rows[0]["s"] == 499500
    (name, ms, n_rows, jobs, tasks) = m._runs[0]
    assert name == "count_range" and n_rows == 1
    assert jobs >= 1 and tasks >= 1 and ms > 0
    assert m.num_requests[("count_range", "")] == 1


def test_timed_context():
    m = EngineMetrics()
    with m.timed("flush", "c"):
        pass
    assert m.num_requests[("flush", "c")] == 1
    assert m.request_latency_ms["flush"].n == 1


def test_collection_gauges(spark, tmp_path):
    from muopdb_spark.catalog import Collection, CollectionConfig

    col = Collection.create(
        spark, str(tmp_path), CollectionConfig(name="m", num_features=2)
    )
    col.insert(spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (0, 2, [0.0, 1.0])],
        "user_id long, doc_id long, vector array<float>",
    ))
    col.flush()
    m = EngineMetrics()
    m.set_collection_gauges(col)
    assert m.gauges[("num_active_segments", "m")] == 1.0
    assert m.gauges[("num_searchable_docs", "m")] == 2.0
    assert m.gauges[("resident_postings_entries", "m")] == 0.0
    # an ann request keeps user 0's postings of the segment resident
    col.build_index()
    for _ in range(2):
        col.ann_search([0], [1.0, 0.0], 1, num_probes=2).collect()
    m.set_collection_gauges(col)
    g = {k: v for (k, c), v in m.gauges.items() if k.startswith("resident_postings_")}
    assert g == {
        "resident_postings_bytes": 2 * (3 * 8 + 2 * 8),  # 2 rows: 3 int64 + 2 doubles
        "resident_postings_entries": 1.0,
        "resident_postings_cap_bytes": float(1 << 30),
        "resident_postings_hits": 1.0,
        "resident_postings_misses": 1.0,
        "resident_postings_evictions": 0.0,
    }
    text = m.to_prometheus()
    assert 'resident_postings_bytes{name="m"} 80.0' in text
    assert 'resident_postings_cap_bytes{name="m"} 1073741824.0' in text


def test_prometheus_exposition(spark):
    m = EngineMetrics()
    m.observe("search", "c", 2.0)
    text = m.to_prometheus()
    assert '# TYPE num_requests counter' in text
    assert 'num_requests_total{request_name="search",collection_name="c"} 1' in text
    assert 'request_latency_ms_bucket{name="search",le="2.0"} 1' in text
    assert 'request_latency_ms_bucket{name="search",le="+Inf"} 1' in text
    assert 'request_latency_ms_count{name="search"} 1' in text
    # cumulative buckets are monotone
    cums = [int(line.rsplit(" ", 1)[1]) for line in text.splitlines()
            if line.startswith('request_latency_ms_bucket{name="search"')]
    assert cums == sorted(cums)


def test_report_dataframe(spark):
    m = EngineMetrics()
    m.run("q1", spark.range(10))
    rep = m.report(spark).collect()
    assert len(rep) == 1 and rep[0]["rows"] == 10
