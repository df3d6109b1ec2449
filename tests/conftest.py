import os
import sys
import time

import pytest

# the checkout this conftest lives in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_portfolio_tracker_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# The Tier-1 suite runs under a 2670 s timeout. A run past 70 % of it
# fails here, with its wall time, while there is still headroom: a
# suite that creeps up to the timeout would be cut off with no report.
TIER1_TIMEOUT_S = 2670
TIER1_BUDGET_S = 0.70 * TIER1_TIMEOUT_S


def pytest_sessionstart(session):
    session.config.started_at = time.monotonic()


def pytest_sessionfinish(session, exitstatus):
    # runs before the terminal summary, which reports the wall time
    session.config.wall_s = time.monotonic() - session.config.started_at
    if session.config.wall_s > TIER1_BUDGET_S and exitstatus == 0:
        session.exitstatus = pytest.ExitCode.TESTS_FAILED


def pytest_terminal_summary(terminalreporter, config):
    over = config.wall_s > TIER1_BUDGET_S
    terminalreporter.write_line(
        f"session wall time {config.wall_s:.0f} s, budget"
        f" {TIER1_BUDGET_S:.0f} s (70 % of the {TIER1_TIMEOUT_S} s Tier-1"
        " timeout)" + (": OVER BUDGET" if over else ""))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def cc_graph(spark):
    """graph(pairs, n) -> (labels0, edges): the min_label_components
    inputs for nodes 0..n-1 labelled by themselves and the symmetric
    closure of `pairs`."""
    from pyspark.sql import functions as F

    def graph(pairs, n):
        edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs],
                                      "doc_a long, doc_b long")
        labels0 = spark.range(n).select(F.col("id").alias("doc_id"),
                                        F.col("id").alias("cluster_id"))
        return labels0, edges

    return graph
