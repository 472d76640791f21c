import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tsprofiler_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(
        app_name="tsprofiler-tests", cores=DEFAULT_CPUS, shuffle_partitions=8
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
