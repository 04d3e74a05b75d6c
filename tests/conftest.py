from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Property tests share the box with parallel Spark jobs: wall-clock-based
# hypothesis health checks (too_slow, deadline) flake under load without
# indicating any defect — disable the timing checks globally, keep the
# semantic ones.
from hypothesis import HealthCheck, settings as _hsettings  # noqa: E402

_hsettings.register_profile(
    "loaded-box",
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
_hsettings.load_profile("loaded-box")


@pytest.fixture(scope="session")
def spark():
    from jitsu_spark.session import get_spark

    s = get_spark("jitsu-spark-tests", cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# What the session-scoped SparkSession carries from one test file into the
# next, read after each file and printed in the terminal summary: every
# file with `-v`, otherwise only the files that left a query running.
# Streaming queries a file leaves running are then stopped: an
# `availableNow` query over processing-time-timeout state never terminates
# (its test's `awaitTermination(120)` times out), and left running it
# shares the driver with every later test. Persisted RDDs are only
# reported: they are not Dataset caches (`catalog.clearCache()` after each
# file left the counts unchanged), and the count falls as well as rises as
# the context cleaner frees unreferenced ones.
_STORE_DIR_PREFIXES = ("pair_core_", "clustermap_reg_", "ivfpq_reg_", "simhash_fp_")
_STATE_COLUMNS = ("streams", "persisted_rdds", "sql_executions", "store_dirs")
_STATE_ROWS: list[tuple[str, dict]] = []


def _session_state(s) -> dict:
    return {
        "streams": len(s.streams.active),
        "persisted_rdds": s.sparkContext._jsc.getPersistentRDDs().size(),
        "sql_executions": s._jsparkSession.sharedState().statusStore().executionsCount(),
        "store_dirs": sum(
            n.startswith(_STORE_DIR_PREFIXES) for n in os.listdir(tempfile.gettempdir())
        ),
    }


@pytest.fixture(scope="module", autouse=True)
def _session_state_per_file(request):
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:  # the file never started Spark
        return
    _STATE_ROWS.append((request.node.nodeid, _session_state(s)))
    for q in s.streams.active:
        q.stop()


def pytest_terminal_summary(terminalreporter, config):
    verbose = config.getoption("verbose") > 0
    rows = [(f, st) for f, st in _STATE_ROWS if verbose or st["streams"]]
    if not rows:
        return
    terminalreporter.section("Spark session state after each test file")
    terminalreporter.write_line(" ".join(f"{c:>14}" for c in _STATE_COLUMNS) + "  file")
    for f, st in rows:
        terminalreporter.write_line(" ".join(f"{st[c]:>14}" for c in _STATE_COLUMNS) + f"  {f}")
