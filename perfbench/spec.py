"""Metric names and units the benchmark prints; BENCHMARK.json lists
the same names (a test keeps the two in step)."""

from __future__ import annotations

# end-to-end: (unit, better). Every workload prints all of them.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_ms": ("ms", "lower"),
    "recall": ("ratio", "higher"),
}

SERVE_OPS = ("ann", "ann_multi", "hybrid", "term")
SETUP_OPS = ("insert", "flush", "build_index")
CURATE_OPS = ("dedup_exact", "decontam", "quality", "near_dup", "sample")
OPS = SERVE_OPS + SETUP_OPS + CURATE_OPS

# per-op Spark counters, medians over the op's calls in one run
OP_COUNTERS = {
    "wall_ms": ("ms", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "driver_ms": ("ms", "lower"),
    "task_wall_ms": ("ms", "lower"),
    "executor_cpu_ms": ("ms", "lower"),
    "shuffle_bytes": ("B", "lower"),
}
LAYERS = ("client", "catalog", "index", "filters", "operators", "session")


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}
    for op in OPS:
        for c, ub in OP_COUNTERS.items():
            m[f"session.{op}.{c}"] = ub
    m["session.serve.gc_ms"] = ("ms", "lower")
    m["session.curate.gc_ms"] = ("ms", "lower")
    m["session.serve.driver_share"] = ("ratio", "lower")
    for op in SERVE_OPS:
        m[f"catalog.{op}.build_ms"] = ("ms", "lower")
    m["catalog.ann.index_load_ms"] = ("ms", "lower")
    m["catalog.write_amp"] = ("ratio", "lower")
    m["index.ann.rows_per_result"] = ("rows/row", "lower")
    m["filters.term.compile_ms"] = ("ms", "lower")
    for op in ("term",) + CURATE_OPS:
        m[f"functions.{op}.python_ms"] = ("ms", "lower")
    m["operators.pins"] = ("count", "lower")
    m["operators.pin_ms"] = ("ms", "lower")
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = ("ms", "lower")
    m["trace.overhead_ms"] = ("ms", "lower")
    m["trace.latency_ms"] = ("ms", "lower")
    m["trace.units"] = ("count", "higher")
    m["host.steal_jiffies"] = ("count", "lower")
    return m


PER_LAYER = _per_layer()
