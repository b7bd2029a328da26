"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basic_data_pipeline_spark import get_spark
from basic_data_pipeline_spark.caching import release_persisted

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # 12g driver: the suite runs ~30 full corpus-prep pipelines in ONE
    # JVM, and each leaves its result frames' localCheckpoint blocks
    # alive until GC — 8g OOM'd at the tail of whole-suite runs (the
    # per-test System.gc() in test_pipeline.py reclaims most of it;
    # the extra headroom covers what a live result still pins).
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "12g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_session_storage():
    """Frames with session lifetime (caching.py) live until the next
    release_persisted(), which the @query wrapper and each guarded epoch
    call in a long-lived process. Operator tests call operators
    directly, so the suite calls it once per module: what a module's
    tests kept does not accumulate over the whole run."""
    yield
    release_persisted()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: opt-in tier (fuzz campaigns, multi-epoch replays, "
        "parameter sweeps) — run with SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (r12): the default run must fit the external
    driver's wall-clock budget (the r11 full suite was truncated at
    ~45% and certified nothing), so redundancy-by-design tests — fuzz
    campaigns, crash-replay variants of an already-tested equality,
    multi-epoch stream end-to-ends, parameter sweeps — are marked
    `slow` and skipped unless SPARK_GRAFT_SLOW_TESTS=1. Every
    contract keeps at least one fast representative in the default
    tier; the slow tier is the pre-release deep pass."""
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


if os.environ.get("SPARK_GRAFT_TEST_TIMES"):
    # live per-test wall printing (opt-in): --durations only reports at
    # the END of a run, which a wall-clock-budgeted (or killed) run
    # never reaches — this prints every >1 s test as it finishes so a
    # partial run still yields tiering data (r12).
    def pytest_runtest_logreport(report):
        if report.when == "call" and report.duration > 1.0:
            print(f"\n[t {report.duration:6.1f}s] {report.nodeid}", flush=True)
