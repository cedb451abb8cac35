"""Tests for the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

from perfbench import gen, spec
from perfbench.stats import (
    Span,
    nearest_rank,
    parse_timing_ms,
    self_times,
    tail_percentile,
    uncovered_ms,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------ percentiles

@pytest.mark.parametrize("n,p", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                 (100, 90.0), (199, 90.0), (200, 95.0),
                                 (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    values = list(range(n))
    got = tail_percentile(values)
    if p is None:
        assert got is None
        return
    assert got[0] == p
    assert sum(v > got[1] for v in values) >= 10


def test_nearest_rank():
    assert nearest_rank([5, 1, 3], 50) == 3
    assert nearest_rank([1, 2, 3, 4], 100) == 4
    assert nearest_rank([7], 1) == 7


# ------------------------------------------------------------- self time

def _span(i, layer, start, end, parent=None):
    return Span(i, layer, layer, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "client", 0.0, 10.0),
        _span(1, "catalog", 1.0, 4.0, 0),
        _span(2, "index", 2.0, 3.0, 1),
        _span(3, "session", 4.0, 9.0, 0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"client": 2.0, "catalog": 2.0, "index": 1.0, "session": 5.0})
    # self times partition the root span
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, "client", 0.0, 10.0),
        _span(1, "session", 1.0, 5.0, 0),
        _span(2, "session", 3.0, 7.0, 0),
        _span(3, "catalog", 9.0, 12.0, 0),  # overhang is not the parent's
    ]
    assert self_times(spans)["client"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_uncovered_is_driver_time():
    assert uncovered_ms(0, 100, []) == 100
    assert uncovered_ms(0, 100, [(10, 30), (20, 50), (90, 120)]) == pytest.approx(50)
    assert uncovered_ms(0, 100, [(-5, 200)]) == 0


def test_parse_spark_timing():
    assert parse_timing_ms("12 ms") == 12
    assert parse_timing_ms("total (min, med, max (stageId: taskId))\n"
                           "1.6 s (309 ms, 405 ms, 468 ms (stage 0.0: task 1))") == 1600
    assert parse_timing_ms("2.5 m") == 150_000
    assert parse_timing_ms(None) == 0


# ---------------------------------------------------- names match the spec

def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == spec.END_TO_END
    assert per_layer == spec.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert len(per_layer) <= 128


# ------------------------------------------------------------- generators

PINNED = {
    "serve": "1074eeeb0962f345378342ff64d0c9e33672ae8761cc40e593a70cd0130c2964",
    "curate": "4fa929e1d891fee6e3292557e8e256fcf7b75a1b7d08585a046033af3f522c82",
}


def test_generators_are_deterministic():
    assert gen.digest(gen.serve_data(0)) == PINNED["serve"]
    assert gen.digest(gen.curate_data(0)) == PINNED["curate"]
    d = gen.serve_data(3)
    assert gen.digest(gen.serve_requests(3, d, 50)) == gen.digest(gen.serve_requests(3, d, 50))
    assert gen.digest(gen.serve_data(4)) != gen.digest(d)
    assert gen.digest(gen.curate_data(4)) != gen.digest(gen.curate_data(3))


def test_serve_mix_and_users():
    d = gen.serve_data(5)
    reqs = gen.serve_requests(5, d, len(gen.MIX))
    kinds = [r["kind"] for r in reqs]
    assert kinds.count("ann") == 11 and kinds.count("hybrid") == 4
    assert all(len(r["users"]) == (3 if r["kind"] == "ann_multi" else 1) for r in reqs)
    sizes = [int((d.users == u).sum()) for u in range(gen.SERVE_USERS)]
    assert sizes[0] > 3 * sizes[-1]  # Zipf-skewed users


def test_curate_answers_are_consistent():
    d = gen.curate_data(6)
    assert d.unique_count == len(d.ids) - gen.CLEAN_DOCS // 20  # one exact copy each
    assert len(d.near_pairs) == gen.CLEAN_DOCS // 30
    for a, b in d.near_pairs:
        ta, tb = d.texts[a].split(), d.texts[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    assert all(len(d.texts[i].split()) < 50 for i in d.low_quality)
    assert not d.contaminated & d.low_quality
