from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from distributed_stream_processing_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow record batches of 1,000 rows for one test, so one chunk of
    a chunked numpy seam arrives in several record batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1000")
    yield
    spark.conf.set(key, prev)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` in a fresh job group and returns
    the number of Spark jobs it launched."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
