import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rustac_spark import DATA_DIR  # noqa: E402
from rustac_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("rustac-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """spark_jobs(group, fn) → (number of Spark jobs `fn` ran, its
    result), counted under the job group `group`."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture(scope="session")
def stac_items(spark):
    return spark.read.parquet(f"{DATA_DIR}/stac_items.parquet")


@pytest.fixture(scope="session")
def stac_items_interval(spark):
    return spark.read.parquet(f"{DATA_DIR}/stac_items_interval.parquet")


@pytest.fixture(scope="session")
def pages_small(spark):
    return spark.read.parquet(f"{DATA_DIR}/pages_sf0.001.parquet")


@pytest.fixture(scope="session")
def queries_df(spark):
    return spark.read.parquet(f"{DATA_DIR}/queries.parquet")
