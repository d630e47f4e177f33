"""Deferred-compaction state layer (r15) — equivalence + block release.

ADVICE r15: no test pinned output equivalence through the deferred
fold over MULTIPLE pending deltas with overlapping keys (duplicate
last_seen rows in the flat LRU view, latest-wins fold, eviction
over-stay), and the checkpoint-leaf release path was a silent no-op
(DataFrame.unpersist does not touch RDD-level checkpoint blocks).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
)
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)


def _fixed_controller(w: int) -> AdaptiveCacheController:
    return AdaptiveCacheController(window=w, min_window=w, max_window=w)


def test_deferred_fold_multi_delta_equivalence(spark):
    """8 batches with overlapping key sets through (A) the per-batch
    exact fold (compact_every=1, the r14 semantics) and (B) the
    deferred fold at cadence min(100, window=4): every batch's output
    must equal the plain join, the flat LRU view must really carry
    duplicate last_seen rows between compactions, and the
    post-compaction cache/LRU must match A's exactly (latest-wins +
    eviction equivalence)."""
    store = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    # each batch overlaps the previous by half its key range, so keys
    # recur across pending deltas (multi-row flat-LRU regime)
    batches = [
        spark.range(i * 300, i * 300 + 600).withColumnRenamed("id", "k")
        for i in range(8)
    ]
    a = SemiStreamJoin(store=store, key="k", compact_every=1,
                       controller=_fixed_controller(4))
    b = SemiStreamJoin(store=store, key="k", compact_every=100,
                       controller=_fixed_controller(4))
    saw_multi_delta = False
    saw_dup_lru_rows = False
    for i, batch in enumerate(batches):
        plain = sorted(batch.join(store, "k").collect())
        out_a = sorted(a.process_batch(batch, i).collect())
        out_b = sorted(b.process_batch(batch, i).collect())
        assert out_a == plain, f"batch {i}: exact-fold output diverged"
        assert out_b == plain, f"batch {i}: deferred output diverged"
        if len(b._pend) >= 2:
            saw_multi_delta = True
            lru_rows = b.lru.count()
            lru_keys = b.lru.select("k").distinct().count()
            if lru_rows > lru_keys:
                saw_dup_lru_rows = True
    assert saw_multi_delta, "deferred pipeline never held 2+ pending deltas"
    assert saw_dup_lru_rows, (
        "overlapping batches never produced duplicate last_seen rows — "
        "the flat-view regime under test did not occur"
    )
    # batch 7 is a compaction batch for B (cadence 4: compactions at
    # batches 3 and 7) and A folds per batch — post-compaction state
    # must agree exactly: same latest-wins last_seen, same eviction
    assert not b._pend, "batch 7 was expected to compact (cadence 4)"
    lru_a = sorted((r.k, r.last_seen) for r in a.lru.collect())
    lru_b = sorted((r.k, r.last_seen) for r in b.lru.collect())
    assert lru_a == lru_b, "post-compaction LRU diverged from per-batch fold"
    cache_a = sorted(tuple(r) for r in a.cache.collect())
    cache_b = sorted(tuple(r) for r in b.cache.collect())
    assert cache_a == cache_b, "post-compaction cache diverged"
    a.close()
    b.close()


def _persisted_rdd_ids(spark) -> set[int]:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {x.id() for x in info}


def test_close_releases_checkpoint_blocks(spark):
    """close() (and compaction) must actually free the state pins'
    executor blocks: checkpoint leaves are RDD-level persisted, so a
    CacheManager unpersist is a no-op on them (ADVICE r15) and storage
    on long streams floated with GC lag. Batch OUTPUTS stay pinned by
    design (the caller owns them).

    Tracked by RDD-id SETS, not counts: a PRIOR test's async
    unpersists (blocking=False) drain concurrently with this test, and
    a falling total count reads as "no pins held" even while this
    pipeline's own pins sit resident (flaked exactly so in-suite)."""
    store = spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ids0 = _persisted_rdd_ids(spark)
    j = SemiStreamJoin(store=store, key="k", compact_every=3,
                       controller=_fixed_controller(3))
    outs = []
    for i in range(6):
        batch = spark.range(i * 100, i * 100 + 300).withColumnRenamed(
            "id", "k"
        )
        outs.append(j.process_batch(batch, i))
    new_open = _persisted_rdd_ids(spark) - ids0
    assert new_open, "state pins should hold persisted RDDs while open"
    j.close()
    # block removal is async (unpersist(blocking=False)); poll briefly
    budget = 6 + len(outs)  # outputs stay + small slack for the store
    for _ in range(40):
        if len(_persisted_rdd_ids(spark) - ids0) <= budget:
            break
        time.sleep(0.25)
    n_closed = len(_persisted_rdd_ids(spark) - ids0)
    assert n_closed <= budget, (
        f"{n_closed} of this pipeline's persisted RDDs remain after "
        f"close() (budget {budget}: outputs + slack) — state pins leaked"
    )
    # outputs must still be readable after close (pinned blocks)
    assert all(o.count() > 0 for o in outs)


def test_release_stats_count_attempts_and_successes(spark):
    """release_checkpoint swallows per-call failures by contract, but a
    SYSTEMATICALLY broken _ckpt_jrdd handle must be visible: the
    module counters (asserted by tools/soak_q48.py on top of the
    boundedness check) record attempted vs succeeded releases
    (VERDICT r16 item 4)."""
    from distributed_stream_processing_spark.streaming.checkpoint import (
        RELEASE_STATS,
        lazy_local_checkpoint,
        release_checkpoint,
    )

    df = lazy_local_checkpoint(
        spark.range(100).select(F.col("id").alias("k"))
    )
    df.count()
    assert df._ckpt_jrdd is not None, "checkpoint handle not captured"
    before = dict(RELEASE_STATS)
    release_checkpoint(df)
    assert RELEASE_STATS["attempted"] == before["attempted"] + 1
    assert RELEASE_STATS["succeeded"] == before["succeeded"] + 1

    # a broken handle counts the attempt but NOT the success
    class _Broken:
        def unpersist(self, blocking):
            raise RuntimeError("detached py4j handle")

    df2 = spark.range(10).select(F.col("id").alias("k"))
    df2._ckpt_jrdd = _Broken()
    release_checkpoint(df2)
    assert RELEASE_STATS["attempted"] == before["attempted"] + 2
    assert RELEASE_STATS["succeeded"] == before["succeeded"] + 1


def test_checkpoint_leaf_carries_no_source_constraints(spark):
    """A leaf built from ``filter(k IN (...))`` (a pushdown-fetched
    delta) must not carry the IN list into later plans: the optimizer
    copied it onto every semi-join's broadcast side, so each pending
    delta ran its own broadcast job. The session settings the
    checkpoint call scopes must be unchanged after it."""
    from distributed_stream_processing_spark.streaming.checkpoint import (
        lazy_local_checkpoint,
        release_checkpoint,
    )

    keys = ("spark.sql.adaptive.enabled",
            "spark.sql.constraintPropagation.enabled")
    before = {key: spark.conf.get(key) for key in keys}
    src = spark.range(1_000).select(F.col("id").alias("k")).filter(
        F.col("k").isin([3, 7, 11])
    )
    for cols in (None, ["k"]):
        leaf = lazy_local_checkpoint(src, cols=cols)
        it = leaf._jdf.queryExecution().analyzed().constraints().iterator()
        kinds = set()
        while it.hasNext():
            kinds.add(it.next().getClass().getSimpleName())
        assert not kinds & {"In", "InSet"}, f"leaf kept {kinds}"
        assert sorted(r.k for r in leaf.collect()) == [3, 7, 11]
        release_checkpoint(leaf)
    assert {key: spark.conf.get(key) for key in keys} == before


def test_similarity_deferred_fold_multi_delta_equivalence(spark):
    """The similarity pipeline's deferred fold over several pending
    deltas with overlapping signature keys (compact_every=100 at
    window 3: compactions at batches 2 and 5) must match the per-batch
    exact fold (compact_every=1): same output every batch, same LRU
    and cache after each compaction."""
    from fractions import Fraction

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
    )

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i % 40}")
            for i in range(80)
        ],
        "id long, text string",
    ).select("id", F.split("text", " ").alias("tokens"))
    t = Fraction(1, 2)
    store = build_similarity_store(docs.filter(F.col("id") < 40), t)
    a = SemiStreamSimilarityJoin(threshold=t, artifacts=store,
                                 compact_every=1,
                                 controller=_fixed_controller(3))
    b = SemiStreamSimilarityJoin(threshold=t, artifacts=store,
                                 compact_every=100,
                                 controller=_fixed_controller(3))
    stream = docs.filter(F.col("id") >= 40)
    saw_multi_delta = False
    for i in range(6):
        # each batch overlaps the previous one by half
        batch = stream.filter(
            (F.col("id") >= 40 + 4 * i) & (F.col("id") < 48 + 4 * i)
        )
        out_a = sorted(a.process_batch(batch, i).collect())
        out_b = sorted(b.process_batch(batch, i).collect())
        assert out_a == out_b, f"batch {i}: deferred output diverged"
        saw_multi_delta |= len(b._pend) >= 2
        if i in (2, 5):
            assert not b._pend, f"batch {i} was expected to compact"
            lru_a = sorted((r.sk, r.last_seen) for r in a.lru.collect())
            lru_b = sorted((r.sk, r.last_seen) for r in b.lru.collect())
            assert lru_a == lru_b, f"batch {i}: LRU diverged"
            cache_a = sorted(tuple(r) for r in a.cache.collect())
            cache_b = sorted(tuple(r) for r in b.cache.collect())
            assert cache_a == cache_b, f"batch {i}: cache diverged"
    assert saw_multi_delta, "deferred pipeline never held 2+ pending deltas"
    a.close()
    b.close()
