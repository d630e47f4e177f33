"""Pluggable keyed remote-fetch seam (SURVEY S7; VERDICT r15 task 5).

The pipelines' default miss fetch is an in-session scan-side
semi-join — O(store) per batch, fine while the store is
cluster-resident. The seam lets a deployment swap in a keyed EXTERNAL
fetch; the PushdownKeyedFetcher double proves the shape: the
batch-bounded missed-key set reaches the SOURCE SCAN as an ``In``
pushed filter (what a JDBC source compiles to ``WHERE key IN (...)``
— the reference's per-partition Mongo ``in()`` miss path,
ds_join/DS_SimJoin_stream.scala:774-832).
"""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
)
from distributed_stream_processing_spark.sources.fetcher import (
    PushdownKeyedFetcher,
    SemiScanFetcher,
)


def test_pushdown_fetcher_reaches_parquet_scan(spark, tmp_path):
    """The fetch plan must carry the key set as a pushed In filter on
    the parquet scan — the predicate shape an external keyed store
    receives."""
    src_path = str(tmp_path / "store.parquet")
    spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    fetcher = PushdownKeyedFetcher(source, "k")
    keys = spark.createDataFrame([(3,), (77,), (4_242,)], "k long")
    fetched = fetcher.fetch(keys)
    rows = sorted((r.k, r.v) for r in fetched.collect())
    assert rows == [(3, 21), (77, 539), (4_242, 29_694)]
    assert fetcher.pushed_counts == [3]
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(k" in plan, (
        f"key set did not reach the scan as a pushed In filter:\n{plan}"
    )


def test_pushdown_fetcher_empty_and_bounded(spark):
    source = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    f = PushdownKeyedFetcher(source, "k", max_keys=5)
    assert f.fetch(source.select("k").limit(0)).count() == 0
    # max_keys on both sides: exactly max_keys keys is accepted, one
    # more raises
    assert f.fetch(source.select("k").limit(5)).count() == 5
    with pytest.raises(ValueError):
        f.fetch(source.select("k").limit(6))
    with pytest.raises(ValueError):
        f.fetch(source.select("k"))  # 100 keys: an unbounded key set
    # non-integer keys build the predicate through Column.isin
    named = source.select(F.concat(F.lit("n"), "k").alias("s"), "v")
    got = PushdownKeyedFetcher(named, "s").fetch(
        spark.createDataFrame([("n3",), ("n42",)], "s string")
    )
    assert sorted(r.v for r in got.collect()) == [3, 42]


def test_bounded_collect_is_one_job(spark, count_jobs):
    """The pushdown key collect is ONE job however many partitions the
    missed-key leaf has (a plain take scans one partition, then scales
    up), and ``max_keys`` holds on both sides."""
    from distributed_stream_processing_spark.streaming.checkpoint import (
        bounded_collect,
        lazy_local_checkpoint,
    )

    def leaf(n):
        out = lazy_local_checkpoint(
            spark.range(0, n, numPartitions=5).withColumnRenamed("id", "k")
        )
        assert out.rdd.getNumPartitions() == 5
        out.count()
        return out

    five, six = leaf(5), leaf(6)
    rows: list = []
    assert count_jobs(lambda: rows.extend(bounded_collect(five, 5, "keys"))) == 1
    assert sorted(r.k for r in rows) == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError, match="keys: more than 5 rows"):
        bounded_collect(six, 5, "keys")
    f = PushdownKeyedFetcher(five.withColumn("v", F.col("k")), "k", max_keys=5)
    assert count_jobs(lambda: f.fetch(five)) == 1
    assert f.pushed_counts == [5]
    with pytest.raises(ValueError, match="max_keys"):
        f.fetch(six)


def test_pipeline_transparent_through_pushdown_fetcher(spark, tmp_path):
    """The equi pipeline over a PushdownKeyedFetcher must stay
    cache-transparent (output == plain join) and push only per-batch
    MISS counts — hits never reach the external store."""
    src_path = str(tmp_path / "store2.parquet")
    spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    fetcher = PushdownKeyedFetcher(source, "k")
    j = SemiStreamJoin(store=source, key="k", fetcher=fetcher)
    # batch 1 overlaps batch 0 by half: the overlap must be cache hits
    b0 = spark.range(0, 400).withColumnRenamed("id", "k")
    b1 = spark.range(200, 600).withColumnRenamed("id", "k")
    out0 = sorted(j.process_batch(b0, 0).collect())
    out1 = sorted(j.process_batch(b1, 1).collect())
    assert out0 == sorted(b0.join(source, "k").collect())
    assert out1 == sorted(b1.join(source, "k").collect())
    assert fetcher.pushed_counts == [400, 200], (
        "hits leaked into the external fetch: "
        f"{fetcher.pushed_counts}"
    )
    j.close()


def test_semi_scan_fetcher_matches_default(spark):
    source = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    keys = spark.range(0, 50).withColumnRenamed("id", "k")
    via_seam = sorted(SemiScanFetcher(source, "k").fetch(keys).collect())
    inline = sorted(
        source.join(F.broadcast(keys), "k", "left_semi").collect()
    )
    assert via_seam == inline


def test_similarity_pipeline_through_pushdown_fetcher(spark):
    """The similarity pipeline's miss fetch through the external seam
    (flat signature collection filtered by WHERE sk IN (...)) must
    reproduce the default directory-scan output exactly."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
    )

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i}")
            for i in range(60)
        ],
        "id long, text string",
    ).select(
        "id", F.split("text", " ").alias("tokens")
    )
    stored = docs.filter(F.col("id") % 3 != 0)
    stream = docs.filter(F.col("id") % 3 == 0)
    t = Fraction(1, 2)
    store = build_similarity_store(stored, t)
    # external source = the flat signature collection in cache layout
    flat = store.sig_store.select("sk", "b_id", "b_sz", "b_kind")
    fetcher = PushdownKeyedFetcher(flat, "sk")
    j_ext = SemiStreamSimilarityJoin(threshold=t, artifacts=store,
                                     fetcher=fetcher)
    j_def = SemiStreamSimilarityJoin(threshold=t, artifacts=store)
    for b in range(2):
        batch = stream.filter(F.col("id") % 2 == b)
        out_ext = sorted(j_ext.process_batch(batch, b).collect())
        out_def = sorted(j_def.process_batch(batch, b).collect())
        assert out_ext == out_def, f"batch {b}: seam output diverged"
    assert len(fetcher.pushed_counts) == 2
    j_ext.close()
    j_def.close()


def test_auto_fetcher_policy_boundaries(spark):
    """auto_fetcher encodes the measured crossover (BASELINE.md r17
    table; VERDICT r17 task 4): pinned on BOTH sides of each boundary
    so a future edit can't silently flip the 100 TB posture."""
    from distributed_stream_processing_spark.sources.fetcher import (
        SMALL_MISS_THRESHOLD,
        auto_fetcher,
    )

    source = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    GB = 1 << 30

    def pick(**kw):
        return type(auto_fetcher(source, "k", **kw)).__name__

    # unclustered source: ALWAYS the scan — the pushed In prunes
    # nothing, even when the store dwarfs memory or misses are tiny
    assert pick(store_bytes=100 * GB, key_clustered=False,
                memory_bytes=1 * GB, expected_misses=10) == "SemiScanFetcher"
    # clustered + store outgrows memory: pushdown (either side)
    assert pick(store_bytes=2 * GB, key_clustered=True,
                memory_bytes=1 * GB) == "PushdownKeyedFetcher"
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB) == "SemiScanFetcher"
    # clustered + memory-resident + small miss set: pushdown; one
    # miss over the threshold flips back to the warm scan
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB,
                expected_misses=SMALL_MISS_THRESHOLD
                ) == "PushdownKeyedFetcher"
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB,
                expected_misses=SMALL_MISS_THRESHOLD + 1
                ) == "SemiScanFetcher"
    # an expectation of ZERO misses keeps the scan: the pushdown
    # range is 0 < expected_misses <= SMALL_MISS_THRESHOLD
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB, expected_misses=0) == "SemiScanFetcher"
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB, expected_misses=1
                ) == "PushdownKeyedFetcher"
    # unknown miss volume (None) on a memory-resident store: scan
    assert pick(store_bytes=1 * GB, key_clustered=True,
                memory_bytes=2 * GB) == "SemiScanFetcher"


def test_auto_fetcher_selected_pushdown_is_wired(spark, tmp_path):
    """The policy's pushdown pick must be a WORKING fetcher: keys
    reach the parquet scan as a pushed In filter, and max_keys is
    forwarded so the driver collect stays bounded."""
    from distributed_stream_processing_spark.sources.fetcher import (
        PushdownKeyedFetcher,
        auto_fetcher,
    )

    src_path = str(tmp_path / "auto_store.parquet")
    spark.range(1_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    f = auto_fetcher(
        source, "k", store_bytes=2 << 30, key_clustered=True,
        memory_bytes=1 << 30, max_keys=7,
    )
    assert isinstance(f, PushdownKeyedFetcher) and f.max_keys == 7
    keys = spark.createDataFrame([(5,), (500,)], "k long")
    rows = sorted((r.k, r.v) for r in f.fetch(keys).collect())
    assert rows == [(5, 15), (500, 1500)]
    plan = f.fetch(keys)._jdf.queryExecution().executedPlan().toString()
    assert "In(k" in plan


def test_auto_fetcher_per_batch_flip_is_transparent(spark, tmp_path):
    """AutoFetcher LIVE in the equi pipeline (VERDICT r18 task 2):
    batch 0 has no miss signal -> scan; once the controller reports a
    small miss volume, the next batch's fetch flips to the keyed
    pushdown — and the pipeline output stays cache-transparent across
    the flip."""
    from distributed_stream_processing_spark.sources.fetcher import (
        AutoFetcher,
        parquet_clustered_on,
        path_bytes,
    )
    from distributed_stream_processing_spark.streaming.cache_controller import (
        AdaptiveCacheController,
    )

    src_path = str(tmp_path / "auto_flip.parquet")
    spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).coalesce(1).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    ctl = AdaptiveCacheController()
    fetcher = AutoFetcher(
        source=source,
        key="k",
        store_bytes=path_bytes(src_path),
        key_clustered=parquet_clustered_on(src_path, "k"),
        miss_signal=lambda: (ctl.history[-1].n_miss if ctl.history else None),
    )
    j = SemiStreamJoin(store=source, key="k", controller=ctl, fetcher=fetcher)
    b0 = spark.range(0, 400).withColumnRenamed("id", "k")
    b1 = spark.range(200, 600).withColumnRenamed("id", "k")
    out0 = sorted(j.process_batch(b0, 0).collect())
    out1 = sorted(j.process_batch(b1, 1).collect())
    assert out0 == sorted(b0.join(source, "k").collect())
    assert out1 == sorted(b1.join(source, "k").collect())
    j.close()
    impls = [c[0] for c in fetcher.chosen]
    # batch 0: no signal yet -> scan; batch 1: last n_miss=400 <=
    # SMALL_MISS_THRESHOLD on a clustered memory-resident store ->
    # pushdown
    assert impls == ["scan", "pushdown"], fetcher.chosen
    assert fetcher._pushdown.pushed_counts == [200]


def test_auto_fetcher_scan_declines_to_pipeline_default(spark):
    """With scan_declines (the similarity pipeline's wiring) a scan
    pick returns None and the pipeline runs its inline kv-directory
    default — output identical to the unfetchered pipeline."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
    )
    from distributed_stream_processing_spark.sources.fetcher import AutoFetcher

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i}")
            for i in range(60)
        ],
        "id long, text string",
    ).select("id", F.split("text", " ").alias("tokens"))
    stored = docs.filter(F.col("id") % 3 != 0)
    stream = docs.filter(F.col("id") % 3 == 0)
    t = Fraction(1, 2)
    store = build_similarity_store(stored, t)
    fetcher = AutoFetcher(
        source=None, key="sk", key_clustered=False, scan_declines=True
    )
    j_auto = SemiStreamSimilarityJoin(
        threshold=t, artifacts=store, fetcher=fetcher
    )
    j_def = SemiStreamSimilarityJoin(threshold=t, artifacts=store)
    for b in range(2):
        batch = stream.filter(F.col("id") % 2 == b)
        out_auto = sorted(j_auto.process_batch(batch, b).collect())
        out_def = sorted(j_def.process_batch(batch, b).collect())
        assert out_auto == out_def, f"batch {b}: decline path diverged"
    assert [c[0] for c in fetcher.chosen] == ["scan", "scan"]
    j_auto.close()
    j_def.close()
