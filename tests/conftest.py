import os
import sys

import pytest

# the checkout this conftest lives in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_portfolio_tracker_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


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
