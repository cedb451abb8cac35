from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small


# node ids of the `slow` tests that the -m expression deselected
_SLOW_DESELECTED: list[str] = []


def pytest_deselected(items):
    _SLOW_DESELECTED.extend(i.nodeid for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter, config):
    """Name what the default `-m 'not slow'` (pyproject addopts) left
    out, and the command that runs it."""
    if _SLOW_DESELECTED and "not slow" in (config.getoption("markexpr") or ""):
        terminalreporter.write_line(
            f"{len(_SLOW_DESELECTED)} slow tests deselected by -m 'not slow'; run them "
            "with: python -m pytest tests/ -q -p no:cacheprovider -m slow")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from muopdb_spark.session import get_spark

    s = get_spark("muopdb-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # r15 (the r14 verdict's item 3): the extras' continuous bar runs
    # at sf0.01 — the SAME scale as the driver's correctness window —
    # not the 10x-smaller sf0.001 it used through r14. Override via
    # SPARK_GRAFT_TEST_SF_DIR for a quick local iteration loop.
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
