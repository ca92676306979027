import os

import pytest
from pyspark import RDD

from distributed_map_reduce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[4,2]: 4 threads, maxFailures=2 — lets the chaos test exercise
    # task re-execution (the analog of the reference's 10 s preemption +
    # respawn loop, test-mr.sh:284-330) inside the shared session.
    s = get_spark("pytest", master="local[4,2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    # Skip (not error) on machines without the driver-generated corpus.
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"test corpus {SF_SMOKE} not present on this machine")
    return SF_SMOKE


@pytest.fixture
def fresh(spark):
    """A derived session with an empty temp-view catalog and no
    registered data sources, so what earlier tests left on the fixture
    session cannot hide a leak. Its construction rebinds
    ``RDD.toDF``; the fixture session's binding is put back."""
    to_df = RDD.toDF
    try:
        yield spark.newSession()
    finally:
        RDD.toDF = to_df
