"""Semi-stream equi-join with an adaptive distributed cache
(DS-Join parity: SURVEY §3.1).

The reference's per-batch dataflow — cogroup stream x cache, hit
join, miss detect, per-partition remote fetch, LRU upsert, eviction,
cache swap, hand-rolled threads (streaming.scala:211-617) — becomes
ONE DataFrame program per batch:

* hit    = cache ⋉ batch-keys     (left_semi on the broadcast key set:
           the cache is scanned, never shuffled)
* missed = batch-keys ⋉̸ hit-keys  (left_anti, shuffled hash)
* fetch  = store ⋉ missed-keys    (left_semi on a broadcast key set —
           the JDBC/connector analogue is WHERE key IN (...) pushdown)
* out    = batch ⋈ (hit ∪ fetch)  (inner, shuffled hash built on the
           batch; hit and fetch keys are disjoint)
* state: LRU last-seen upsert, eviction of keys older than the
  adaptive window, cache rebuild = (cache ∖ evicted) ∪ fetch

Spark schedules the formerly-threaded stages from one DAG. Each pin
is a checkpoint planned AQE-off; only the hit pin runs a job at its
call (the key-set broadcast), so an ordinary batch runs three jobs:
that broadcast, the fetch's one job (the pushdown key collect or the
scan fetch's missed-key broadcast) and the combined action. STATE:
streaming/lru_state.py (``CacheState``, shared with the similarity
pipeline) owns the deferred-compaction cache/LRU, the batch's one
combined action and every pin; this module builds the key set, the
hit/miss split, the fetch and the output.

Semantic invariant (tested): output == plain stream ⋈ store for every
cache state — the cache is transparent.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)
from distributed_stream_processing_spark.streaming.lru_state import (
    CachedPipeline,
    CacheState,
)


@dataclass
class SemiStreamJoin(CachedPipeline):
    store: DataFrame  # full stored dimension (stand-in for the remote DB)
    key: str  # join key column name, shared by stream and store
    initial_cache: DataFrame | None = None
    controller: AdaptiveCacheController = field(default_factory=AdaptiveCacheController)
    # frequency-based admission (DSim's filter(freq < 50),
    # DS_SimJoin_stream.scala:838): keys seen in >= this many batches
    # are NOT admitted to the cache (ultra-hot keys would bloat it and
    # are cheap to refetch); None disables
    admit_below_freq: int | None = None
    # compaction cadence (streaming/lru_state.py): the real cadence is
    # min(compact_every, controller window). Forced to 1 when
    # frequency admission is on — the per-key freq table must stay
    # per-batch exact.
    compact_every: int = 8
    # pluggable keyed remote fetch (SURVEY S7; sources/fetcher.py):
    # any object with fetch(missed_keys) -> DataFrame in the store's
    # schema. None = the default in-session scan-side semi-join; a
    # PushdownKeyedFetcher turns the miss path into the external
    # WHERE key IN (...) shape a 100 TB store needs.
    fetcher: object | None = None

    def __post_init__(self):
        if self.admit_below_freq is not None:
            self.compact_every = 1
        cache = (
            self.initial_cache
            if self.initial_cache is not None
            else self.store.limit(0)
        ).cache()
        lru = cache.select(F.col(self.key), F.lit(0).alias("last_seen")).cache()
        # (key, n_batches_seen): the state's extra table
        freq = cache.select(
            F.col(self.key), F.lit(0).alias("n_batches_seen")
        ).limit(0).cache()
        # an initial cache is counted ONCE at setup — one tiny job,
        # never per batch — for the eviction-set broadcast gate
        self._state = CacheState(
            cache, lru, [self.key], self.controller, self.compact_every,
            lru_rows=0 if self.initial_cache is None else self.initial_cache.count(),
            extra=freq,
        )

    @property
    def freq(self) -> DataFrame | None:
        """(key, n_batches_seen) of the frequency admission."""
        return self._state.extra

    def _fetch(self, missed_keys: DataFrame) -> DataFrame:
        """Fetch phase: the store rows of the missed keys. A fetcher
        may DECLINE (return None — AutoFetcher's scan pick with no
        delegate); the inline default is a scan-side semi-join."""
        fetch_in = (
            self.fetcher.fetch(missed_keys) if self.fetcher is not None else None
        )
        if fetch_in is None:
            fetch_in = self.store.join(F.broadcast(missed_keys), self.key, "left_semi")
        return fetch_in

    def _admission(self, batch_keys: DataFrame, fetched: DataFrame) -> tuple:
        """Frequency admission: (the fetched rows admitted to the
        cache, the hot keys to evict, the new freq table). Admission
        forces compact_every=1, so every batch compacts, the fold
        covers exactly this batch and the freq groupBy stays per-batch
        exact."""
        k = self.key
        new_freq = (
            self.freq.unionByName(batch_keys.withColumn("n_batches_seen", F.lit(1)))
            .groupBy(k)
            .agg(F.sum("n_batches_seen").alias("n_batches_seen"))
        )
        # a key only reveals itself as hot after repeat batches, so the
        # filter both blocks admission AND evicts already-cached keys
        # that crossed the threshold
        hot = new_freq.filter(
            F.col("n_batches_seen") >= self.admit_below_freq
        ).select(k)
        admitted = fetched.join(
            bounded_broadcast(hot, self._state.extra_rows), k, "left_anti"
        )
        return admitted, hot, new_freq

    def process_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Join one micro-batch against store-through-cache; maintain
        state; return the enriched output (hit ∪ miss-fetched).

        The previous batch's attribution walk (background, diagnostics
        only) is joined before this batch launches its FIRST job, the
        broadcast at the matching-cache pin: a job of this batch that
        scans the shared cached relations would update the SQL-metric
        accumulators the walk reads. The walk still overlaps the
        previous batch's tail. Callers that read
        ``controller.history`` directly after a bare process_batch
        must call :meth:`flush_attribution`."""
        k, state = self.key, self._state
        state.flush()
        with state.batch():
            batch_keys = state.pin_keys(batch)
            # hit/miss split, SCAN-SIDE: one semi-scan of the cache
            # against the broadcast batch keys yields the matching
            # cache rows, pinned; everything after joins THOSE, so the
            # cache is scanned and never shuffled, whatever its size
            # (a batch x cache join falls to a sort-merge join that
            # shuffles the cache every batch once the cache outgrows
            # the broadcast threshold, the q33_100x axis). This pin is
            # the batch's one broadcast-bearing checkpoint: its call
            # runs the broadcast job (streaming/checkpoint.py), and
            # batch_keys is bounded by the batch's distinct keys.
            cached_in = self.cache.join(F.broadcast(batch_keys), k, "left_semi")
            cached_hit = state.pin(cached_in, cols=list(self.cache.columns))
            # miss detect: batch keys minus the hit keys, both sides
            # bounded by the batch's distinct keys, a shuffled hash
            # anti-join built on the hit keys (no job at the pin call).
            # It is pinned as its own leaf: the fetch plan then embeds
            # only a leaf scan, so the miss-detect work is attributed
            # to the JOIN phase via the missed_in extra instead of
            # riding inside the fetch leaf and inflating fetch_s — the
            # controller signal a zero-miss batch must read ~0 on
            # (pinned by test_attributor_survives_aqe_pruned_fetch_branch)
            hit_keys = cached_hit.select(k).distinct()
            missed_in = batch_keys.join(hit_keys.hint("shuffle_hash"), k, "left_anti")
            missed_keys = state.pin(missed_in, cols=[k])
            fetch_in = self._fetch(missed_keys)
            fetched = state.pin(fetch_in, cols=list(self.store.columns))
            # out = hit ∪ (miss ⋈ fetched) as ONE join: the cached and
            # fetched rows carry disjoint keys (fetched keys are missed
            # keys), so batch ⋈ (cached_hit ∪ fetched) is the same
            # rows. Planned AQE-off like every pin, its build side is
            # the batch (bounded by the batch's rows); the cached and
            # fetched rows per key are bounded by the store's rows per
            # batch key, never by the cache.
            out_in = batch.hint("shuffle_hash").join(
                cached_hit.unionByName(fetched), k, "inner"
            )
            # fresh expression ids, aliased BEFORE the pin so the output
            # stays a bare checkpoint leaf: the join output carries the
            # batch's own ids, and a caller comparing the output with a
            # plan over the same stream (exceptAll) cannot re-alias a
            # leaf that shares them
            out_in = out_in.toDF(*out_in.columns)
            out = state.pin(out_in)
            tail = hot = new_freq = None
            if self.admit_below_freq is not None:
                tail, hot, new_freq = self._admission(batch_keys, fetched)
            state.commit(
                batch_id, keys=batch_keys, missed=missed_keys,
                fetched=fetched, out=out,
                join_extras=[cached_in, out_in, missed_in],
                fetch_extra=fetch_in, tail=tail, evict=hot, extra=new_freq,
            )
        return out


def replay_in_batches(
    df: DataFrame, n_batches: int, bucket_col: str
) -> list[tuple[int, DataFrame]]:
    """Deterministic micro-batch replay of a static table: batch i =
    rows with pmod(bucket_col, n_batches) == i (the test harness's
    replacement for socket feeds — SURVEY §7 'what's hard' #5)."""
    return [
        (i, df.filter(F.pmod(F.col(bucket_col), F.lit(n_batches)) == i))
        for i in range(n_batches)
    ]


def run_semi_stream_join(
    stream_table: DataFrame,
    store: DataFrame,
    key: str,
    out_cols: list[str],
    n_batches: int = 4,
    bucket_col: str | None = None,
    initial_cache: DataFrame | None = None,
    controller: AdaptiveCacheController | None = None,
    admit_below_freq: int | None = None,
    fetcher: object | None = None,
) -> DataFrame:
    """Replay ``stream_table`` through the cached semi-stream join and
    return the union of per-batch outputs (cache-transparent: equals
    the plain stream ⋈ store join)."""
    j = SemiStreamJoin(
        store=store,
        key=key,
        initial_cache=initial_cache,
        controller=controller or AdaptiveCacheController(),
        admit_below_freq=admit_below_freq,
        fetcher=fetcher,
    )
    # close() releases the state blocks, on error too (batch outputs
    # are checkpoint-pinned by each batch's action and stay readable),
    # so repeated invocations don't accrete dead cache/LRU state; it
    # also lands the last batch's background attribution before anyone
    # reads the controller history off the diagnostics seam
    try:
        outs = [
            j.process_batch(batch, batch_id).select(*out_cols)
            for batch_id, batch in replay_in_batches(
                stream_table, n_batches, bucket_col or key
            )
        ]
    finally:
        j.close()
    result = reduce(DataFrame.unionByName, outs)
    # per-invocation diagnostics seam (bench.py publishes the
    # measured/estimated regime split): carried on the result, not a
    # module global, so interleaved pipelines can't cross-report
    result._controller = j.controller
    return result
