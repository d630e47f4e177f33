"""Pins on error paths: a failed semi-stream batch and an unconverged
duplicate clustering release every checkpoint they took.

The check reads the SparkContext's persistent-RDD registry: a lazy
localCheckpoint registers its RDD when it is created, before any block
is stored, so a pin that never materialized is only visible there
(storage info hides it).
"""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
)
from distributed_stream_processing_spark.operators.semi_stream_similarity import (
    SemiStreamSimilarityJoin,
    build_similarity_store,
)


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _rdd_id(out) -> int:
    """Id of the checkpointed RDD behind a batch output."""
    return out._jdf.queryExecution().analyzed().rdd().id()


class _FailOnce:
    """Declines every fetch (the pipeline runs its inline fetch) but
    call ``fail_on``, which is handed to ``fail(missed_keys)``."""

    def __init__(self, fail_on: int, fail):
        self.calls, self.fail_on, self.fail = 0, fail_on, fail

    def fetch(self, missed_keys):
        self.calls += 1
        return self.fail(missed_keys) if self.calls == self.fail_on else None


def _raise(missed_keys):
    raise RuntimeError("injected fetch failure")


def _failing_frame(layout: list[tuple[str, str]]):
    """A fetch result in ``layout`` whose projection raises when it
    runs (a Range, not a local relation, so the optimizer cannot
    evaluate it early)."""

    def fail(missed_keys):
        boom = F.raise_error(F.lit("injected fetch failure"))
        return missed_keys.sparkSession.range(1).select(
            *[boom.cast(t).alias(c) for c, t in layout]
        )

    return fail


def _run_with_failed_batch(spark, make, batches, expected):
    """Batches 0..2 through ``make()``'s pipeline, batch 1 failing:
    the failed batch adds no persistent RDD, batch 2 is still right,
    and close() leaves only the two successful outputs."""
    before = _persistent(spark)
    j = make()
    out0 = j.process_batch(batches[0], 0)
    assert sorted(out0.collect()) == expected(0)
    ok = _persistent(spark)
    with pytest.raises(Exception, match="injected fetch failure"):
        j.process_batch(batches[1], 1)
    assert _persistent(spark) - ok == set()
    out2 = j.process_batch(batches[2], 2)
    assert sorted(out2.collect()) == expected(2)
    j.close()
    assert _persistent(spark) - before == {_rdd_id(out0), _rdd_id(out2)}


@pytest.mark.parametrize(
    "fail",
    [_raise, _failing_frame([("k", "bigint"), ("v", "bigint")])],
    ids=["fetch_raises", "fetch_fails_in_execution"],
)
def test_semi_stream_join_failed_batch_releases_pins(spark, fail):
    store = spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    batches = [
        spark.range(b * 100, b * 100 + 200).withColumnRenamed("id", "k")
        for b in range(3)
    ]

    def expected(b):
        return sorted(batches[b].join(store, "k").collect())

    _run_with_failed_batch(
        spark,
        lambda: SemiStreamJoin(store=store, key="k", fetcher=_FailOnce(2, fail)),
        batches,
        expected,
    )


def _docs(spark):
    return spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i % 40}")
            for i in range(80)
        ],
        "id long, text string",
    ).select("id", F.split("text", " ").alias("tokens"))


@pytest.mark.parametrize(
    "fail",
    [
        _raise,
        _failing_frame(
            [("sk", "bigint"), ("b_id", "bigint"), ("b_sz", "int"), ("b_kind", "int")]
        ),
    ],
    ids=["fetch_raises", "fetch_fails_in_execution"],
)
def test_semi_stream_similarity_failed_batch_releases_pins(spark, fail):
    t = Fraction(1, 2)
    docs = _docs(spark)
    stored = {r.id: set(r.tokens) for r in docs.filter(F.col("id") < 40).collect()}
    store = build_similarity_store(docs.filter(F.col("id") < 40), t)
    batches = [
        docs.filter((F.col("id") >= 40 + 8 * b) & (F.col("id") < 48 + 8 * b))
        for b in range(3)
    ]

    def expected(b):
        # brute-force Jaccard join of the batch against the stored docs
        pairs = []
        for r in batches[b].collect():
            a = set(r.tokens)
            for b_id, s in stored.items():
                inter, uni = len(a & s), len(a | s)
                if t.denominator * inter >= t.numerator * uni:
                    pairs.append((r.id, b_id, inter, uni))
        return sorted(pairs)

    assert expected(0) and expected(2), "fixture lost its similar pairs"
    _run_with_failed_batch(
        spark,
        lambda: SemiStreamSimilarityJoin(
            threshold=t, artifacts=store, fetcher=_FailOnce(2, fail)
        ),
        batches,
        expected,
    )


def test_duplicate_clusters_unconverged_releases_pins(spark):
    """max_rounds exhaustion raises and leaves no pinned label, edge or
    pair blocks behind."""
    from distributed_stream_processing_spark.operators.dedup import (
        duplicate_clusters,
    )

    n = 200
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(ids, pairs, max_rounds=1)
    assert _persistent(spark) - before == set()
