"""The two workloads. Each is a closed loop with one client: the next
unit of work starts when the previous one has returned and been checked.

A workload exposes `setup()` (returns the time of each repeated set-up
unit), `warm()` (one untimed call per op), `step(i)` (one timed unit;
returns its latency, how many checks it made and how many failed),
`results()` (its end-to-end values) and `traced_calls()`. The timed
loop runs at least MIN_UNITS units, even past its window. Only the
package's public functions are called.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback

import numpy as np

from perfbench import gen
from perfbench.stats import median

K = 10


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Serve:
    """Requests against a durable collection built in set-up.

    Set-up inserts, flushes and indexes one segment at a time; each
    segment is one set-up unit. Requests follow gen.MIX."""

    name = "serve"
    SCHEMA = "user_id long, doc_id long, vector array<float>, title string, tag string"
    TERM_LIMIT = 100
    HYBRID_TERM_LIMIT = 10_000
    # fixed probing (4 of the 10 per-user centroids in each segment, no
    # distance-ratio pruning), so recall reflects the index, not the seed
    PROBES = {"num_probes": 4, "centroid_distance_ratio": None}
    # the first slots of MIX hold one request of each kind, so every
    # kind has a latency even on a slow host
    MIN_UNITS = len(set(gen.MIX))

    def __init__(self, spark, tracer, seed: int, workdir: str):
        self.spark, self.tracer = spark, tracer
        self.root = os.path.join(workdir, "serve")
        self.data = gen.serve_data(seed)
        self.requests = gen.serve_requests(seed, self.data, 2000)
        self.latency: dict[str, list[float]] = {k: [] for k in gen.MIX}
        self.recalls: list[float] = []
        self.write_amp = 0.0
        from muopdb_spark.functions.text import stem_word

        self.stem = stem_word
        self.title_stems = [{stem_word(w) for w in t.split()} for t in self.data.titles]

    def setup(self) -> list[float]:
        from muopdb_spark.catalog import Collection, CollectionConfig

        cfg = CollectionConfig(
            name="serve", num_features=self.data.vectors.shape[1],
            attribute_schema={"title": "text", "tag": "keyword"},
        )
        self.col = Collection.create(self.spark, self.root, cfg)
        units = []
        for seg in sorted(set(self.data.segment.tolist())):
            t0 = time.perf_counter()
            df = self.spark.createDataFrame(self.data.rows(seg), self.SCHEMA)
            with self.tracer.op("insert"):
                self.col.insert(df)
            with self.tracer.op("flush"):
                self.col.flush()
            with self.tracer.op("build_index"):
                self.col.build_index()
            units.append(time.perf_counter() - t0)
        d = self.data
        user_bytes = (d.vectors.nbytes + 16 * len(d.users)
                      + sum(len(t.encode()) for t in d.titles)
                      + sum(len(t.encode()) for t in d.tags))
        self.write_amp = _dir_bytes(self.root) / user_bytes
        return units

    def warm(self) -> None:
        seen = set()
        for req in self.requests[len(self.requests) // 2:]:
            if req["kind"] not in seen:
                seen.add(req["kind"])
                self._run(req)

    def traced_calls(self) -> list[tuple]:
        """(owner, attribute, layer, counter) of calls inside public entry
        points that the traced run times: index loads, filter compilation."""
        import muopdb_spark.filters.compiler as compiler

        return [(self.col, "load_segment_index", "index", None),
                (compiler, "compile_filter", "filters", None)]

    # ---------------------------------------------------------------- run

    def _run(self, req: dict) -> list:
        from pyspark.sql import functions as F

        t, kind, users = self.tracer, req["kind"], req["users"]
        if kind in ("ann", "ann_multi"):
            with t.span("catalog", "ann_search"):
                df = self.col.ann_search(users, req["query"], K, **self.PROBES)
        elif kind == "hybrid":
            with t.span("catalog", "term_search_indexed+ann_search"):
                hits = self.col.term_search_indexed(
                    users, [("title", self.stem(req["words"][0]))], self.HYBRID_TERM_LIMIT)
                df = self.col.ann_search(
                    users, req["query"], K, **self.PROBES,
                    pre_filter_ids=hits.select(F.col("doc_id").alias("id")))
        else:
            with t.span("catalog", "term_search"):
                df = self.col.term_search(users, self._tree(req), self.TERM_LIMIT)
        with t.span("session", "collect"):
            return df.collect()

    @staticmethod
    def _tree(req: dict) -> dict:
        return {"and": [
            {"contains": {"path": "title", "value": " ".join(req["words"])}},
            {"contains": {"path": "tag", "value": req["tag"]}},
        ]}

    def step(self, i: int) -> tuple[float, int, int]:
        req = self.requests[i % len(self.requests)]
        try:
            with self.tracer.op(req["kind"], request=i):
                t0 = time.perf_counter()
                rows = self._run(req)
                lat = time.perf_counter() - t0
        except Exception:  # a failed request is counted, the loop goes on
            _log(traceback.format_exc())
            return 0.0, 1, 1
        self.latency[req["kind"]].append(lat)
        if self.tracer.enabled:
            self.tracer.ops[req["kind"]][-1]["rows"] = len(rows)
        with self.tracer.span("client", "check", i):
            ok = self._check(req, rows)
        return lat, 1, 0 if ok else 1

    # -------------------------------------------------------------- checks

    def _check(self, req: dict, rows: list) -> bool:
        d, users = self.data, req["users"]
        own = np.flatnonzero(np.isin(d.users, users))
        if req["kind"] == "term":
            stems = {self.stem(w) for w in " ".join(req["words"]).lower().split()}
            want = sorted(int(i) for i in own
                          if stems <= self.title_stems[i] and d.tags[i] == req["tag"])
            got = [r["doc_id"] for r in rows]
            ok = got == want[: self.TERM_LIMIT]
            if not ok:
                _log(f"term check failed: got {got[:10]} want {want[:10]}")
            return ok
        if req["kind"] == "hybrid":
            term = self.stem(req["words"][0])
            own = np.array([i for i in own if term in self.title_stems[i]], dtype=np.int64)
        q = np.asarray(req["query"], dtype=np.float64)
        dist = np.sqrt(((d.vectors[own].astype(np.float64) - q) ** 2).sum(axis=1))
        exact = {int(own[j]) for j in np.lexsort((own, dist))[:K]}
        by_id = dict(zip(own.tolist(), dist.tolist()))
        ids = [r["id"] for r in rows]
        scores = [r["score"] for r in rows]
        ok = (
            len(rows) <= K and len(set(ids)) == len(ids)
            and all(i in by_id and int(d.users[i]) == r["user_id"] for i, r in zip(ids, rows))
            and all(abs(s - by_id[i]) <= 1e-6 * max(1.0, by_id[i]) for i, s in zip(ids, scores))
            and scores == sorted(scores)
        )
        if not ok:
            _log(f"{req['kind']} check failed: {rows[:3]}")
        if exact:
            self.recalls.append(len(exact & set(ids)) / len(exact))
        return ok

    # ------------------------------------------------------------- results

    def results(self, lats: list[float]) -> dict:
        """Latency is each kind's median weighted by its share of MIX,
        not a median over all requests: a run holds about a dozen
        requests, and a plain median would move with how many of each
        kind happened to fit."""
        share = {k: gen.MIX.count(k) for k, v in self.latency.items() if v}
        total = sum(share.values())
        return {
            "latency_ms": sum(median(self.latency[k]) * n for k, n in share.items())
            / total * 1e3 if total else 0.0,
            "recall": float(np.mean(self.recalls)) if self.recalls else 0.0,
        }


def _threshold_hex(fraction: float) -> str:
    return format(min(int(fraction * 2**32), 2**32 - 1), "08x")


class Curate:
    """The curation chain over a parquet corpus: exact dedup,
    decontamination, quality gate, near-dup removal and stratified
    sampling. Each chain pass is one unit of work.

    Each set-up unit writes the corpus afresh and runs one chain pass
    over it; the first also pays every op's cold start."""

    name = "curate"
    SCHEMA = "doc_id long, text string, lang string"
    FRACTIONS = {"en": 0.5, "de": 0.8, "fr": 1.0}
    SETUP_REPEATS = 2
    MIN_UNITS = 1

    def __init__(self, spark, tracer, seed: int, workdir: str):
        self.spark, self.tracer = spark, tracer
        self.workdir, self.path = workdir, None
        self.data = gen.curate_data(seed)
        self.salt = f"perfbench-{seed}"
        self.found_pairs = 0
        self.expected_pairs = 0
        self.latency: dict[str, list[float]] = {}

    def setup(self) -> list[float]:
        units = []
        for r in range(self.SETUP_REPEATS):
            old, self.path = self.path, os.path.join(self.workdir, f"corpus-{r}")
            t0 = time.perf_counter()
            self.spark.createDataFrame(self.data.rows(), self.SCHEMA).write.parquet(self.path)
            self._pass()
            units.append(time.perf_counter() - t0)
            if old:
                shutil.rmtree(old)
        self.found_pairs = self.expected_pairs = 0
        self.latency.clear()
        return units

    def warm(self) -> None:
        """Set-up has already run every op."""

    def step(self, i: int) -> tuple[float, int, int]:
        return self._pass()

    def traced_calls(self) -> list[tuple]:
        """Eager pins: every localCheckpoint, counted as `pin`."""
        return [(type(self.spark.range(1)), "localCheckpoint", "session", "pin")]

    # ---------------------------------------------------------------- run

    def _op(self, name: str, build, keep: set[int]):
        """Run one stage on the corpus restricted to `keep`; returns
        (rows, seconds)."""
        t = self.tracer
        ids = self.spark.createDataFrame([(i,) for i in sorted(keep)], "doc_id long")
        with t.op(name):
            t0 = time.perf_counter()
            df = self.spark.read.parquet(self.path).join(ids, "doc_id", "left_semi")
            with t.span("operators", name):
                out = build(df)
            with t.span("session", "collect"):
                rows = out.collect()
            return rows, time.perf_counter() - t0

    def _pass(self) -> tuple[float, int, int]:
        from pyspark.sql import functions as F

        from muopdb_spark.operators.contamination import contamination_report_split
        from muopdb_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from muopdb_spark.operators.quality import gopher_quality_flags
        from muopdb_spark.operators.sampling import stratified_hash_sample

        d, keep = self.data, set(self.data.ids)
        total, failed, attempted = 0.0, 0, 0
        stages = (
            ("dedup_exact", lambda df: exact_dedup(df).filter("is_canonical").select("doc_id"),
             self._check_dedup),
            ("decontam", lambda df: contamination_report_split(
                df, F.col("id") < gen.BENCH_DOCS).select("doc_id", "is_contaminated"),
             self._check_decontam),
            ("quality", lambda df: gopher_quality_flags(df).select("doc_id", "passes"),
             self._check_quality),
            ("near_dup", lambda df: minhash_lsh_pairs(
                df, num_hashes=8, bands=8).select("doc_a", "doc_b"),
             self._check_near_dup),
            ("sample", lambda df: stratified_hash_sample(
                df, strata_col="lang", key_col="doc_id", fractions=self.FRACTIONS,
                salt=self.salt).select("doc_id"),
             self._check_sample),
        )
        for name, build, checker in stages:
            attempted += 1
            try:
                rows, secs = self._op(name, build, keep)
            except Exception:
                _log(traceback.format_exc())
                return total, attempted, failed + 1
            total += secs
            self.latency.setdefault(name, []).append(secs)
            with self.tracer.span("client", "check"):
                ok, keep = checker(rows, keep)
            failed += 0 if ok else 1
            if not ok:
                _log(f"curate {name} check failed")
        return total, attempted, failed

    # -------------------------------------------------------------- checks

    def _check_dedup(self, rows, keep):
        got = {r["doc_id"] for r in rows}
        first: dict[str, int] = {}
        for i in sorted(keep):
            first.setdefault(" ".join(self.data.texts[i].lower().split()), i)
        want = set(first.values())
        return len(got) == self.data.unique_count and got == want, got

    def _check_decontam(self, rows, keep):
        flagged = {r["doc_id"] for r in rows if r["is_contaminated"]}
        survivors = {r["doc_id"] for r in rows} - flagged
        corpus = {i for i in keep if i >= gen.BENCH_DOCS}
        ok = flagged == self.data.contaminated & keep and survivors | flagged == corpus
        return ok, survivors

    def _check_quality(self, rows, keep):
        failing = {r["doc_id"] for r in rows if not r["passes"]}
        ok = failing == self.data.low_quality & keep and len(rows) == len(keep)
        return ok, {r["doc_id"] for r in rows if r["passes"]}

    def _check_near_dup(self, rows, keep):
        found = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])) for r in rows}
        want = {p for p in self.data.near_pairs if p[0] in keep and p[1] in keep}
        survivors = keep - {b for _, b in found}
        hit = len(want & found)
        self.found_pairs += hit
        self.expected_pairs += len(want)
        return hit == len(want), survivors

    def _check_sample(self, rows, keep):
        got = {r["doc_id"] for r in rows}
        thr = {lang: _threshold_hex(f) for lang, f in self.FRACTIONS.items()}
        want = {i for i in keep
                if hashlib.md5(f"{self.salt}{i}".encode()).hexdigest()[:8]
                < thr[self.data.langs[i]]}
        return got == want, got

    # ------------------------------------------------------------- results

    def results(self, lats: list[float]) -> dict:
        return {
            "latency_ms": median(lats) * 1e3,
            "recall": self.found_pairs / self.expected_pairs if self.expected_pairs else 0.0,
        }


WORKLOADS = {"serve": Serve, "curate": Curate}
