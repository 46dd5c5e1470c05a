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
