"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Runs one workload from the root of a checkout: starts a local Spark
session with one executor thread per CPU, sets the workload up, runs it
as a closed loop for --seconds, checks every output, and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def _steal_jiffies() -> int:
    """Cumulative hypervisor steal (field 8 of /proc/stat), so runs
    disturbed by a noisy neighbour can be told apart."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _environment(workdir: str) -> None:
    """Set, before the JVM starts, what the session and its Python
    workers need."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        # Python workers import muopdb_spark from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM (launcher and driver) keeps its temp files in the run
        # directory and writes no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit, also
    when a signal has already broken the gateway connection."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "muopdb_spark")):
        print(f"perfbench: no muopdb_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report, spec
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_start = time.monotonic()
    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        _environment(workdir)
        from muopdb_spark.session import get_spark

        from perfbench.trace import Tracer, gc_ms

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.monotonic()
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, workdir)
        setup = wl.setup()
        t_setup = time.monotonic()
        wl.warm()
        t_warm = time.monotonic()
        tracer.restart(keep=spec.SETUP_OPS)

        steal0, gc0 = _steal_jiffies(), gc_ms(spark)
        lats, attempted, failed, i = [], 0, 0, 0
        with report.instrument(tracer, wl):
            # time spent reading trace counters does not use up the window,
            # so a traced run does about as much work as an untraced one
            t_end = time.monotonic() + args.seconds
            while i < wl.MIN_UNITS or time.monotonic() - tracer.overhead_s < t_end:
                lat, n, bad = wl.step(i)
                attempted, failed, i = attempted + n, failed + bad, i + 1
                if not bad:
                    lats.append(lat)
        t_loop = time.monotonic()
        run = {
            "phases_s": {"session": t_session - t_start, "setup": t_setup - t_session,
                         "warm": t_warm - t_setup, "loop": t_loop - t_warm},
            "setup": setup, "lats": lats, "gc_ms": gc_ms(spark) - gc0,
            "steal_jiffies": _steal_jiffies() - steal0,
        }
        metrics = (report.per_layer(tracer, wl, run) if args.trace
                   else report.end_to_end(wl, run))
        print(json.dumps({"info": report.info(wl, run)}))
        if not attempted:  # nothing finished in time: report it as a failure
            attempted = failed = 1
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
