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
def probe_reference():
    """``ref(index_rows, segments, epsilon, n_positions, query_len)``:
    the candidate starts of an ED index probe, computed in numpy from
    the collected index rows. A start passes a segment when start +
    offset lies in a run of the segment's width whose mr is within
    eps/sqrt(w) + grid of the segment mean (Cauchy-Schwarz plus the
    floor-rounding slack); the result is the intersection over all
    segments, ascending."""
    import math

    import numpy as np

    def ref(rows, segments, epsilon, n_positions, query_len, grid=0.5):
        max_start = n_positions - query_len
        cands = np.ones(max_start + 1, dtype=bool)
        for seg in segments:
            slack = epsilon / math.sqrt(seg.width)
            lo, hi = seg.mean - slack - grid, seg.mean + slack + grid
            hit = np.zeros(max_start + 1, dtype=bool)
            for r in rows:
                if r.w == seg.width and lo <= r.mr <= hi:
                    s = max(0, r.pos_start - seg.offset)
                    e = min(max_start, r.pos_end - seg.offset)
                    if e >= s:
                        hit[s : e + 1] = True
            cands &= hit
        return np.flatnonzero(cands).tolist()

    return ref


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
