from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _driver_mem_default() -> str:
    """16g, capped at the host's memory less 4 GiB for the OS and the
    Python workers: a heap above physical memory is not a heap the JVM
    can grow into."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(
                int(line.split()[1])
                for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16, kib // 2**20 - 4))}g"


# The full suite (~530 tests) shares one JVM for ~25 minutes; with the
# 8g session default the driver heap eventually OOMs on accumulated
# broadcast / cache residue late in the session (tests pass in
# isolation). An explicit SPARK_GRAFT_DRIVER_MEM wins. Must be set before
# the first get_spark() call builds the JVM.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem_default())

from synthea2omop_etl_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="module", autouse=True)
def _clear_spark_cache_between_modules(request):
    """Drop cached/broadcast residue at each module boundary.

    The session-scoped SparkSession accretes cached relations and
    broadcast blocks across 500+ tests; clearing per-module keeps the
    shared driver heap bounded so late modules don't OOM."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            active.catalog.clearCache()
        except Exception:
            pass  # session already stopped by a teardown-ordering race
