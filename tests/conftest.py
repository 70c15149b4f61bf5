import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


def pytest_configure(config):
    # a FutureWarning raised from the engine's own code is a break waiting
    # for the next pandas/pyarrow release: fail the test that shows it
    config.addinivalue_line("filterwarnings", "error::FutureWarning:statefulstreamprocessor_spark")


@pytest.fixture(scope="session")
def spark():
    from statefulstreamprocessor_spark.session import get_spark

    s = get_spark("ssp-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
