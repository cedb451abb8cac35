"""Engine metrics: counters, latency histograms, and gauges with a
Prometheus text exposition — the observability tier of the reference
(rs/metrics/src/api.rs: per-(request, collection) counters + exponential
latency histograms; rs/metrics/src/internal.rs: collection/segment/doc
gauges), re-expressed for a Spark engine where "a request" is a query
plan execution.

Spark-specific addition: `run` executes a DataFrame under a job group
and records the actual job/task counts from the status tracker, so the
latency observation carries the cluster-side cost of the plan, not just
driver wall time.

Scale notes: metric state is driver-side and O(#labels) — identical to
the reference's in-process registry; executors never see it. Scrape via
`to_prometheus()` from any HTTP handler the host wires up (the
reference leaves serving to its axum endpoint the same way).
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# exponential_buckets(1.0, 2.0, 10) of api.rs:27-29: 1ms .. 512ms, +inf
LATENCY_BUCKETS_MS = tuple(float(2 ** i) for i in range(10))


@dataclass
class _Histogram:
    buckets: tuple[float, ...] = LATENCY_BUCKETS_MS
    counts: list[int] = field(default_factory=list)
    total: float = 0.0
    n: int = 0

    def __post_init__(self) -> None:
        if not self.counts:
            self.counts = [0] * (len(self.buckets) + 1)  # +inf tail

    def observe(self, v: float) -> None:
        for i, b in enumerate(self.buckets):
            if v <= b:
                self.counts[i] += 1
                break
        else:
            self.counts[-1] += 1
        self.total += v
        self.n += 1


class EngineMetrics:
    """num_requests counter per (request_name, collection_name),
    request_latency_ms histogram per request_name, plus the internal
    gauges (num_collections, num_active_segments, num_searchable_docs
    and the handle's resident_postings_* cache figures per
    collection, which count its resident ann postings and term index
    entries together)."""

    def __init__(self) -> None:
        self.num_requests: dict[tuple[str, str], int] = defaultdict(int)
        self.request_latency_ms: dict[str, _Histogram] = defaultdict(_Histogram)
        self.gauges: dict[tuple[str, str], float] = {}
        self._runs: list[tuple[str, float, int, int, int]] = []

    # ------------------------------------------------------------- API

    def observe(self, request_name: str, collection_name: str, latency_ms: float) -> None:
        self.num_requests[(request_name, collection_name)] += 1
        self.request_latency_ms[request_name].observe(latency_ms)

    @contextmanager
    def timed(self, request_name: str, collection_name: str = ""):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.observe(request_name, collection_name, (time.monotonic() - t0) * 1000.0)

    def run(self, name: str, df: DataFrame, collection_name: str = "") -> list:
        """Execute (collect) a DataFrame under a job group; record the
        latency observation plus actual job/task counts from the status
        tracker. Returns the collected rows."""
        spark = df.sparkSession
        sc = spark.sparkContext
        group = f"mu-metrics-{uuid.uuid4().hex[:8]}"
        t0 = time.monotonic()
        sc.setJobGroup(group, name)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ms = (time.monotonic() - t0) * 1000.0
        self.observe(name, collection_name, ms)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        n_tasks = 0
        n_stages = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo is not None:
                    n_stages += 1
                    n_tasks += sinfo.numTasks
        self._runs.append((name, round(ms, 3), len(rows), len(job_ids), n_tasks))
        return rows

    # -------------------------------------------------------- internal

    def set_collection_gauges(self, collection) -> None:
        """internal.rs gauges from a Collection: active segments,
        searchable (live) docs, and the handle's resident entries (ann
        postings and term index entries): bytes, entries, cap_bytes,
        hits, misses and evictions."""
        st = collection.stats()
        name = collection.config.name
        self.gauges[("num_active_segments", name)] = float(len(st))
        self.gauges[("num_searchable_docs", name)] = float(
            sum(s["total"] - s["deleted"] for s in st.values())
        )
        for key, v in collection.resident_stats().items():
            self.gauges[(f"resident_postings_{key}", name)] = float(v)

    # --------------------------------------------------------- exports

    def report(self, spark: SparkSession) -> DataFrame:
        """Per-run report (name, latency_ms, rows, jobs, tasks)."""
        return spark.createDataFrame(
            self._runs or [("", 0.0, 0, 0, 0)],
            "name string, latency_ms double, rows long, jobs long, tasks long",
        ).filter("name <> ''")

    def to_prometheus(self) -> str:
        """Prometheus text exposition (the scrape body the reference
        serves from its metrics endpoint)."""
        out = [
            "# TYPE num_requests counter",
        ]
        for (req, coll), v in sorted(self.num_requests.items()):
            out.append(
                f'num_requests_total{{request_name="{req}",collection_name="{coll}"}} {v}'
            )
        out.append("# TYPE request_latency_ms histogram")
        for req, h in sorted(self.request_latency_ms.items()):
            cum = 0
            for b, c in zip(h.buckets, h.counts):
                cum += c
                out.append(
                    f'request_latency_ms_bucket{{name="{req}",le="{b}"}} {cum}'
                )
            cum += h.counts[-1]
            out.append(f'request_latency_ms_bucket{{name="{req}",le="+Inf"}} {cum}')
            out.append(f'request_latency_ms_sum{{name="{req}"}} {h.total}')
            out.append(f'request_latency_ms_count{{name="{req}"}} {h.n}')
        out.append("# TYPE engine_gauge gauge")
        for (g, coll), v in sorted(self.gauges.items()):
            out.append(f'{g}{{name="{coll}"}} {v}')
        return "\n".join(out) + "\n"
