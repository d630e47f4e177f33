"""Semi-stream cache layer, controller, streaming parity, online ML."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.catalog import Catalog
from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
    replay_in_batches,
    run_semi_stream_join,
)
from distributed_stream_processing_spark.sources.fetcher import (
    PushdownKeyedFetcher,
)
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
    BatchTimings,
)
from distributed_stream_processing_spark.streaming.online_ml import (
    OnlineLinearRegressionSGD,
    batch_best_match,
    run_s3m_pipeline,
)


# ---------------- controller (pure, synthetic traces) ----------------


def test_controller_grows_when_fetch_dominates():
    c = AdaptiveCacheController(window=8, smoothing=1)
    for b in range(5):
        c.observe(BatchTimings(b, n_miss=10, store_fetch_s=2.0, cache_maintain_s=0.5))
    assert c.window == 13


def test_controller_shrinks_when_maintenance_dominates():
    c = AdaptiveCacheController(window=8, smoothing=1)
    for b in range(5):
        c.observe(BatchTimings(b, n_miss=10, store_fetch_s=0.1, cache_maintain_s=2.0))
    assert c.window == 3


def test_controller_grows_on_no_misses_and_clamps():
    c = AdaptiveCacheController(window=8, min_window=2, max_window=10, smoothing=1)
    for b in range(10):
        c.observe(BatchTimings(b, n_miss=0, store_fetch_s=0.0, cache_maintain_s=5.0))
    assert c.window == 10  # clamped at max despite maintenance cost
    c2 = AdaptiveCacheController(window=3, min_window=2, smoothing=1)
    for b in range(10):
        c2.observe(BatchTimings(b, n_miss=5, store_fetch_s=0.0, cache_maintain_s=9.0))
    assert c2.window == 2  # clamped at min


# ---------------- semi-stream join transparency ----------------


def test_cache_transparency_across_cache_states(spark, sf_smoke):
    """Output equals plain join for wildly different cache setups."""
    cat = Catalog(spark, sf_smoke)
    stream = cat.lineitem.select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
    )
    store = cat.part.select("p_partkey", "p_retailprice").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    plain = stream.join(store, "l_partkey").select(
        "l_orderkey", "l_partkey", "p_retailprice"
    )
    for cache in (None, store, store.filter(F.col("p_retailprice") < 900)):
        out = run_semi_stream_join(
            stream,
            store,
            "l_partkey",
            ["l_orderkey", "l_partkey", "p_retailprice"],
            n_batches=3,
            bucket_col="l_orderkey",
            initial_cache=cache,
            controller=AdaptiveCacheController(window=2, min_window=1),
        )
        assert out.exceptAll(plain).count() == 0
        assert plain.exceptAll(out).count() == 0


def test_replay_batches_partition_stream(spark, sf_smoke):
    li = Catalog(spark, sf_smoke).lineitem
    batches = replay_in_batches(li, 4, "l_orderkey")
    assert sum(b.count() for _, b in batches) == li.count()


def _jobs_per_batch(
    spark, j, batches, rows: int | None = None, inside: list | None = None
) -> list[int]:
    """Spark jobs launched by each process_batch call over ``batches``
    (each output drained; ``rows``: its expected row count). ``inside``
    receives the jobs launched inside each process_batch call alone."""
    sc = spark.sparkContext
    jobs = []
    for b, batch in enumerate(batches):
        j0 = sc._jsc.sc().dagScheduler().nextJobId()
        out = j.process_batch(batch, b)
        if inside is not None:
            inside.append(sc._jsc.sc().dagScheduler().nextJobId() - j0)
        n = out.count()
        assert rows is None or n == rows
        j.flush_attribution()
        jobs.append(sc._jsc.sc().dagScheduler().nextJobId() - j0)
    j.close()
    return jobs


def test_semi_stream_jobs_per_batch_bounded(spark, tmp_path):
    """A batch's Spark work must not depend on how many state deltas
    are pending.

    r15 pinned the exponential-lineage bug class: when the per-batch
    deltas were caches, the analyzer's relation dedup re-instanced the
    subtrees embedded across join sides, the CacheManager lookup
    missed, and every batch re-executed all prior batches' fetch
    lineage (measured 20 -> 34 -> 63 -> ... -> 1053 jobs over seven
    batches). Checkpoint leaves fixed that.

    Two linear growths remained, both pinned here through a
    PushdownKeyedFetcher over a key-sorted parquet store:
    * a pushdown-fetched leaf kept its ``k IN (...)`` constraint, the
      optimizer copied it onto each semi-join's broadcast side, and
      every pending delta ran its own broadcast job (+2 jobs per
      pending delta);
    * the compaction fold chained one broadcast anti-join per delta.

    The similarity pipeline runs the same state code and is held to
    the same two bounds.

    Absolute bounds on the equi pipeline, inside process_batch: at
    most 3 jobs on an ordinary batch (the broadcast of the batch keys
    against the cache, the fetch's one job — the pushdown key collect
    or the scan fetch's missed-key broadcast — and the combined
    action), and at most 4 on a compaction batch (plus the stale-set
    broadcast). Every other pin is planned with no job at its call.
    """
    from fractions import Fraction

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
    )

    src = str(tmp_path / "store_sorted.parquet")
    spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).sortWithinPartitions("k").write.parquet(src)
    store = spark.read.parquet(src)

    # 1,000 keys a batch, half of them new: every batch misses
    def key_batches(n):
        return [
            spark.range(b * 500, b * 500 + 1_000).withColumnRenamed("id", "k")
            for b in range(n)
        ]

    # in-session store, no compaction: flat
    inside: list[int] = []
    jobs = _jobs_per_batch(
        spark, SemiStreamJoin(store=store, key="k", compact_every=100),
        key_batches(6), rows=1_000, inside=inside,
    )
    assert len(set(jobs[1:])) == 1, f"per-batch job counts moved: {jobs}"
    assert max(inside) <= 3, f"scan-fetch batches ran > 3 jobs: {inside}"

    def fixed() -> AdaptiveCacheController:
        return AdaptiveCacheController(
            window=100, min_window=100, max_window=100
        )

    # pushdown fetch: batches 1-5 hold 1-5 pending deltas, batch 6
    # compacts 6 of them; a second pipeline compacts 2 at batch 2
    def pushdown(compact_every: int) -> SemiStreamJoin:
        return SemiStreamJoin(
            store=store,
            key="k",
            fetcher=PushdownKeyedFetcher(store, "k"),
            compact_every=compact_every,
            controller=fixed(),
        )

    inside = []
    jobs = _jobs_per_batch(
        spark, pushdown(7), key_batches(7), rows=1_000, inside=inside
    )
    assert len(set(jobs[1:6])) == 1, (
        f"per-batch job counts grew with pending deltas: {jobs}"
    )
    assert max(inside[:6]) <= 3, f"pushdown batches ran > 3 jobs: {inside}"
    assert inside[6] <= 4, f"the compaction batch ran > 4 jobs: {inside}"
    fold2 = _jobs_per_batch(spark, pushdown(3), key_batches(3), rows=1_000)[2]
    assert fold2 == jobs[6], (
        f"compaction jobs depend on the deltas folded: 2 -> {fold2}, "
        f"6 -> {jobs[6]}"
    )

    # the similarity pipeline, same cadences: 20 documents a batch,
    # none of them seen before
    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i % 40}")
            for i in range(180)
        ],
        "id long, text string",
    ).select("id", F.split("text", " ").alias("tokens"))
    t = Fraction(1, 2)
    sim_store = build_similarity_store(docs.filter(F.col("id") < 40), t)
    doc_batches = [
        docs.filter((F.col("id") >= 40 + 20 * b) & (F.col("id") < 60 + 20 * b))
        for b in range(7)
    ]

    def similarity(compact_every: int) -> SemiStreamSimilarityJoin:
        return SemiStreamSimilarityJoin(
            threshold=t, artifacts=sim_store, compact_every=compact_every,
            controller=fixed(),
        )

    jobs = _jobs_per_batch(spark, similarity(7), doc_batches)
    assert len(set(jobs[1:6])) == 1, (
        f"similarity per-batch job counts moved: {jobs}"
    )
    fold2 = _jobs_per_batch(spark, similarity(3), doc_batches[:3])[2]
    assert fold2 == jobs[6], (
        f"similarity compaction jobs depend on the deltas folded: "
        f"2 -> {fold2}, 6 -> {jobs[6]}"
    )


def test_lru_eviction_bounds_cache(spark, sf_smoke):
    """With a tiny window, old uncontacted keys must leave the cache."""
    cat = Catalog(spark, sf_smoke)
    store = cat.part.select("p_partkey", "p_retailprice").withColumnRenamed(
        "p_partkey", "key"
    )
    j = SemiStreamJoin(
        store=store,
        key="key",
        controller=AdaptiveCacheController(window=1, min_window=1, max_window=1),
    )
    spark_ = store.sparkSession
    b1 = spark_.range(1, 50).withColumnRenamed("id", "key")
    b2 = spark_.range(100, 150).withColumnRenamed("id", "key")
    b3 = spark_.range(200, 250).withColumnRenamed("id", "key")
    j.process_batch(b1, 0)
    j.process_batch(b2, 1)
    j.process_batch(b3, 2)
    cached_keys = {r.key for r in j.cache.select("key").collect()}
    assert cached_keys.isdisjoint(set(range(1, 50)))  # batch-0 keys evicted


# ---------------- online ML ----------------


def test_batch_best_match_finds_planted(spark):
    rng = np.random.default_rng(3)
    vals = np.round(rng.normal(0, 1, 2000).cumsum(), 2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    w = {0: vals[300:350], 1: vals[1200:1250]}
    got = batch_best_match(df, w, chunk=512)
    assert got[0][0] == 300 and got[0][1] == 0.0
    assert got[1][0] == 1200 and got[1][1] == 0.0


def test_batch_best_match_window_straddles_record_batches(
    spark, small_arrow_batches
):
    """A chunk's rows arrive in several Arrow record batches when the
    chunk outgrows ``maxRecordsPerBatch``; a window straddling two
    record batches must still be scored (it was dropped, and the
    search returned some other window)."""
    rng = np.random.default_rng(11)
    vals = np.round(rng.normal(0, 1, 5_000).cumsum(), 2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    m = 64
    w = {0: vals[990 : 990 + m], 1: vals[2_995 : 2_995 + m]}
    X = np.lib.stride_tricks.sliding_window_view(vals, m)
    got = batch_best_match(df, w)
    for wid, q in w.items():
        assert got[wid][0] == int(np.argmin(((X - q) ** 2).sum(axis=1)))


def test_batch_best_match_one_exchange(spark, count_jobs, monkeypatch):
    """The per-window minimum is merged per partition and then on the
    driver, with no aggregation exchange: on the first call, one
    shuffle-map job for the chunk exchange plus the result job. From
    the second call on, the series' chunk layout is kept: one job
    and no exchange. The merge keeps every window's argmin over all
    partitions, and ties go to the lowest position."""
    from distributed_stream_processing_spark.streaming import online_ml

    rng = np.random.default_rng(5)
    vals = np.round(rng.normal(0, 1, 6_000).cumsum(), 2)
    vals[4_000:4_064] = vals[100:164]  # an exact tie at 100 and 4000
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    ).cache()
    df.count()
    m = 64
    w = {j: vals[100 + 900 * j : 164 + 900 * j] + 0.01 * j for j in range(6)}
    got = {}
    n_jobs = count_jobs(
        lambda: got.update(batch_best_match(df, w, chunk=512, value_scale=100))
    )
    assert n_jobs == 2
    X = np.lib.stride_tricks.sliding_window_view(np.rint(vals * 100), m)
    for wid, q in w.items():
        d2 = ((X - np.rint(q * 100)) ** 2).sum(axis=1)
        assert got[wid][0] == int(np.argmin(d2))
        assert got[wid][2] == float(d2.min())
    assert got[0][0] == 100
    # repeat calls read the kept layout: the frame each call collects
    # is recorded to read its executed plan
    passes = []
    run_chunks = online_ml._run_chunks
    monkeypatch.setattr(
        online_ml,
        "_run_chunks",
        lambda *a, **k: passes.append(run_chunks(*a, **k)) or passes[-1],
    )
    for _ in range(2):
        again = {}
        n_jobs = count_jobs(
            lambda: again.update(batch_best_match(df, w, chunk=512, value_scale=100))
        )
        assert n_jobs == 1
        assert again == got
        plan = passes[-1]._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    df.unpersist()


def test_sgd_matches_numpy_reference():
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 6))
    true_w = np.arange(6, dtype=float)
    y = X @ true_w + 1.0
    m = OnlineLinearRegressionSGD(dim=6, step_size=0.1, num_iterations=50)
    for i in range(0, 40, 8):
        m.train(X[i : i + 8], y[i : i + 8])
    pred = X @ m.weights + m.intercept
    assert float(np.mean((pred - y) ** 2)) < float(np.var(y))  # learned signal


def test_s3m_pipeline_trajectory(spark, sf_correct):
    from distributed_stream_processing_spark.plans.timeseries_plans import series_df

    rows = run_s3m_pipeline(series_df(spark, sf_correct), n_windows=8)
    assert len(rows) >= 4
    # windows emit in order, delayed by the queue
    ids = [r["window_id"] for r in rows]
    assert ids == sorted(ids)
    # exact stored-copy windows are impossible here (stream is disjoint
    # tail), but match_dist must be finite and positive
    assert all(np.isfinite(r["match_dist"]) for r in rows)


def test_streaming_rollup_matches_batch(spark, sf_smoke):
    from distributed_stream_processing_spark.plans import load_all
    from distributed_stream_processing_spark.plans.relational import (
        q10_event_minute_rollup,
    )

    specs = load_all()
    stream_out = specs["q34_stream_minute_rollup"].fn(spark, sf_smoke)
    batch_out = q10_event_minute_rollup(spark, sf_smoke)
    assert stream_out.exceptAll(batch_out).count() == 0
    assert batch_out.exceptAll(stream_out).count() == 0


def test_semi_stream_join_via_foreachbatch(spark, sf_smoke):
    """The real Structured Streaming integration: a readStream source
    driving SemiStreamJoin.process_batch inside foreachBatch; union of
    emitted batches must equal the plain join (cache transparency
    through the actual streaming engine, not the replay harness)."""
    from distributed_stream_processing_spark.sources.stream import stage_stream_files

    cat = Catalog(spark, sf_smoke)
    stream_tbl = cat.lineitem.select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
    )
    store = cat.part.select(
        F.col("p_partkey").cast("bigint").alias("l_partkey"), "p_retailprice"
    )
    path = stage_stream_files(stream_tbl, "febatch_lineitem", 3, "l_orderkey")
    sdf = (
        spark.readStream.schema(stream_tbl.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    j = SemiStreamJoin(
        store=store,
        key="l_partkey",
        initial_cache=store.filter(F.col("p_retailprice") < 1000),
        controller=AdaptiveCacheController(window=2, min_window=1),
    )
    collected = []

    def handle(batch_df, batch_id):
        out = j.process_batch(batch_df, int(batch_id))
        collected.append(out.select("l_orderkey", "l_partkey", "p_retailprice"))

    q = sdf.writeStream.foreachBatch(handle).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(collected) >= 3  # one per staged file
    got = collected[0]
    for o in collected[1:]:
        got = got.unionByName(o)
    plain = stream_tbl.join(store, "l_partkey").select(
        "l_orderkey", "l_partkey", "p_retailprice"
    )
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0


def test_rate_live_source_smoke(spark):
    """Live-source adapter parity (streaming.scala:139-156): the rate
    source emits the (event_id, ts, value) events shape and drives the
    same downstream transformations as the file replay. The socket
    variant shares the parser and needs a listener, so it is exercised
    only for plan construction here (no network in CI)."""
    from distributed_stream_processing_spark.sources.stream import (
        drain_stream,
        read_live_stream,
    )

    live = read_live_stream(spark, source="rate", rows_per_second=500)
    assert [f.name for f in live.schema.fields] == ["event_id", "ts", "value"]
    agg = live.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.max("event_id").alias("max_id")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time as _t

        deadline = _t.monotonic() + 30
        n = 0
        while _t.monotonic() < deadline:
            rows = spark.table("rate_smoke").collect()
            if rows and rows[0].n and rows[0].n > 0:
                n = rows[0].n
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    assert n > 0

    # socket variant: plan constructs with the same output schema
    sock = read_live_stream(spark, source="socket", port=19999)
    assert [f.name for f in sock.schema.fields] == ["event_id", "ts", "value"]
    assert sock.isStreaming


def test_socket_source_end_to_end(spark):
    """Drive read_live_stream('socket') against a real loopback TCP
    feeder once (S1: the reference's socketTextStream feeds,
    streaming.scala:139-156) — plan-checking alone left the socket
    path untested territory for a user's first real feed."""
    import socket
    import threading
    import time

    from distributed_stream_processing_spark.sources.stream import (
        read_live_stream,
    )

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    try:
        server.bind(("127.0.0.1", 0))
    except OSError:
        pytest.skip("no loopback networking in this environment")
    port = server.getsockname()[1]
    server.listen(1)
    done = threading.Event()

    def feeder():
        conn, _ = server.accept()
        with conn:
            for i in range(20):
                conn.sendall(f"{i},{i * 1.5}\n".encode())
            done.wait(timeout=60)  # keep the feed open while Spark reads

    threading.Thread(target=feeder, daemon=True).start()
    sdf = read_live_stream(spark, "socket", host="127.0.0.1", port=port)
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName("socket_smoke")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if spark.table("socket_smoke").count() >= 20:
                break
            time.sleep(0.5)
        rows = {r.event_id: r for r in spark.table("socket_smoke").collect()}
    finally:
        q.stop()
        done.set()
        server.close()
    assert len(rows) >= 20
    assert rows[3].value == 4.5  # csv line parsed into the events shape
    assert rows[3].ts is not None  # arrival clock assigned
