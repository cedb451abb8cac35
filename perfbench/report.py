"""Turn one run's timings and trace into the printed metrics."""

from __future__ import annotations

from contextlib import ExitStack, contextmanager

from perfbench import spec
from perfbench.stats import median, self_times, tail_percentile


@contextmanager
def instrument(tracer, wl):
    """While tracing, time the calls the workload names that run inside
    public entry points."""
    with ExitStack() as stack:
        for call in wl.traced_calls() if tracer.enabled else ():
            stack.enter_context(tracer.wrap(*call))
        yield


def end_to_end(wl, run: dict) -> dict:
    vals = {"setup_s": median(run["setup"]), **wl.results(run["lats"])}
    return {k: {"value": vals[k], "unit": spec.END_TO_END[k][0]} for k in spec.END_TO_END}


def _descendant_ms(tracer, layer: str) -> dict[int, float]:
    """Per client span id: milliseconds of the outermost spans of
    `layer` below it."""
    by_id = {s.id: s for s in tracer.spans}
    out: dict[int, float] = {}
    for s in tracer.spans:
        if s.layer != layer:
            continue
        p, top = s.parent, None
        while p is not None:
            if by_id[p].layer == layer:
                break  # nested inside another span of the same layer
            if by_id[p].layer == "client" and top is None:
                top = p
            p = by_id[p].parent
        else:
            if top is not None:
                out[top] = out.get(top, 0.0) + (s.end - s.start) * 1e3
    return out


def per_layer(tracer, wl, run: dict) -> dict:
    m = dict.fromkeys(spec.PER_LAYER, 0.0)
    for op, calls in tracer.ops.items():
        for c in spec.OP_COUNTERS:
            m[f"session.{op}.{c}"] = median([x[c] for x in calls])
        if f"functions.{op}.python_ms" in m:
            m[f"functions.{op}.python_ms"] = median([x["python_ms"] for x in calls])
    m[f"session.{wl.name}.gc_ms"] = run["gc_ms"]
    clients = {s.id: s for s in tracer.spans if s.layer == "client" and s.name in tracer.ops}
    if wl.name == "serve":
        served = [x for op in spec.SERVE_OPS for x in tracer.ops.get(op, [])]
        wall = sum(x["wall_ms"] for x in served)
        m["session.serve.driver_share"] = sum(x["driver_ms"] for x in served) / wall if wall else 0.0
        for layer, key in (("catalog", "catalog.{}.build_ms"),
                           ("index", "catalog.{}.index_load_ms"),
                           ("filters", "filters.{}.compile_ms")):
            per_client = _descendant_ms(tracer, layer)
            for op in spec.SERVE_OPS:
                if key.format(op) in m:
                    m[key.format(op)] = median([per_client.get(i, 0.0)
                                                for i, s in clients.items() if s.name == op])
        m["catalog.write_amp"] = wl.write_amp
        m["index.ann.rows_per_result"] = median(
            [x["input_rows"] / max(1, x["rows"]) for x in tracer.ops.get("ann", [])])
    else:
        passes = max(1, len(run["lats"]))
        m["operators.pins"] = tracer.counts["pin.n"] / passes
        m["operators.pin_ms"] = tracer.counts["pin.ms"] / passes
    units = max(1, len(run["lats"]))
    for layer, secs in self_times(tracer.spans).items():
        if f"{layer}.self_ms" in m:
            m[f"{layer}.self_ms"] = secs * 1e3 / units
    m["trace.overhead_ms"] = tracer.overhead_s * 1e3 / units
    m["trace.latency_ms"] = median(run["lats"]) * 1e3
    m["trace.units"] = len(run["lats"])
    m["host.steal_jiffies"] = run["steal_jiffies"]
    return {k: {"value": v, "unit": spec.PER_LAYER[k][0]} for k, v in m.items()}


def info(wl, run: dict) -> dict:
    """Context printed before the result line: sample counts, the tail
    percentile the sample count supports, and host steal."""
    lats = run["lats"]
    tail = tail_percentile(lats)
    out = {
        "workload": wl.name, "units": len(lats),
        "units_ms": [round(x * 1e3, 1) for x in lats],
        "setup_units_s": [round(x, 3) for x in run["setup"]],
        "steal_jiffies": run["steal_jiffies"],
        "phases_s": {k: round(v, 2) for k, v in run["phases_s"].items()},
        "tail": None if tail is None else {"p": tail[0], "ms": tail[1] * 1e3},
    }
    if hasattr(wl, "latency"):
        out["p50_ms_by_kind"] = {k: median(v) * 1e3 for k, v in wl.latency.items() if v}
        out["count_by_kind"] = {k: len(v) for k, v in wl.latency.items()}
    return out
