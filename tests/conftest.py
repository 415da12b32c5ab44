import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Cap the suite's JVM heap. Its live set is small, but under the 48g
# session default G1 keeps growing the heap instead of collecting: on a
# 15 GB, 4-vCPU VM the Spark JVM reached 15 GB RSS and was OOM-killed
# two thirds of the way through the suite. An explicit setting wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from big_data_elt_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    from big_data_elt_pipeline_spark.plans.compare import duckdb_connection

    return duckdb_connection(SF_SMOKE)
