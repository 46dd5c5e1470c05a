import os

import pytest

from hepcrawl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
FIXTURES = "/root/reference/tests/unit/responses"


def needs_reference(*names):
    """Skip a test unless every named file under ``FIXTURES`` exists."""
    return pytest.mark.skipif(
        not all(os.path.exists(f"{FIXTURES}/{n}") for n in names),
        reason="reference fixtures not available",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hepcrawl-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """spark.sql.autoBroadcastJoinThreshold=-1 for one test: no join is
    broadcast by size, so crawl link admission probes its seen filter."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)
