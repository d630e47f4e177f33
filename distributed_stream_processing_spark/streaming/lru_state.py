"""Cache state of the two cached semi-stream pipelines
(``SemiStreamJoin`` and ``SemiStreamSimilarityJoin``).

Both pipelines run the same per-batch life cycle around their own
probe and verify: miss detect, fetch, LRU upsert with eviction, cache
swap. ``CacheState`` owns that life cycle once; a pipeline builds only
its key set, miss detect, fetch and output plans and hands the pinned
results to ``CacheState.commit``.

DEFERRED COMPACTION. The state is a base localCheckpoint of the cache
and of the LRU ``(key, last_seen)`` plus one delta per pending batch,
``(batch_id, keys, fetched)``: the batch's pinned key set and its
pinned fetch leaf. Between compactions the pipelines read flat
append-only views over them (``with_delta``: unions, no joins), so
reading the state costs one scan and no extra job, and a batch's one
action materializes only O(batch) rows. A batch compacts when
``len(pending) + 1 >= max(1, min(compact_every, window))``, with
``window`` the controller's eviction window: it folds every pending
key set latest-wins (``fold_lru``), drops the keys not seen in the
last ``window`` batches from cache and LRU, and re-checkpoints both,
coalesced to the shuffle width. The fold is ONE shuffle,
``groupBy(key).max(last_seen)`` over the union, so a compaction
launches the same Spark jobs whether it folds two deltas or six; a
per-delta chain of broadcast anti-joins (``lru.anti(keys_i) ∪
keys_i``) runs one broadcast job per delta, and chaining those
rewrites lazily batch after batch re-ran every prior batch's
broadcast subqueries at each evaluation (14 -> 29 -> 66 jobs over
three sf0.1 batches). The fold also runs ONCE per compaction: it is
pinned, the new LRU keeps the folded rows by filter
(``last_seen >= batch_id - window``) and anti-joins only the extra
table's evict set, and only the cache anti-joins the stale set. That
broadcast's job, at its pin call, materializes the fold, and it is the
compaction's one job outside the combined action (a stale-set
broadcast into the LRU too would be a second job, and an unpinned fold
would re-run in each job and in the LRU branch). Eviction between
compactions is deferred, never lost: a key due for eviction over-stays
at most window-1 batches, and window=1 keeps strict per-batch
eviction. The LRU still holds exactly
the keys whose store rows are cached or known absent, so the cache
stays transparent. The eviction sets are only usually small (after a
workload shift the stale set can be the whole cache), so their
broadcast hints are gated on tracked row bounds
(``bounded_broadcast``; the checkpoint plans are AQE-off with no
runtime fallback): exact at each compaction, grown by the batch's key
count between them.

THE COMBINED ACTION. Each batch runs one action: a union of tagged
branches, each counting one pin, grouped by tag and collected. It
materializes every pin of the batch together, so output and state
maintenance share the cluster instead of serializing. It is collected
AQE-off, so it is ONE job (AQE runs the grouping's map stage as a job
of its own, and the plan has no join for AQE to re-plan). Branches, in
union order, with their phase:

    m  missed-key set      join       k  key set            join
    x  fetch leaf          fetch      o  output             join
    c  compacted cache     maintain   l  compacted LRU      maintain
    f  extra state table   maintain   (c, l, f: compaction batches)

The miss detect embeds the hit-key computation (a semi scan of the
state), which is join work, so m is a join branch. A background plan
walk (``PlanTimeAttributor``) splits the action's SQL metrics into
phases in the walk order k, m, x, c, l, f, o; the first walker owns a
shared subtree, so the fetch phase owns exactly the store scan and
fetch join the controller's window policy feeds on, and a zero-miss
fetch (a scan of an empty leaf) reads ~0. The leaves print as Scan
ExistingRDD in the action, so the walk first reads the checkpoint INPUTS' plans: the
pipeline's join inputs, then its fetch input, then the compaction
inputs. The walk is py4j-bound, so it runs in the background
(``DeferredObservation``) and is joined by ``flush``, which runs
before the next batch's first read of the controller window. A
compaction's maintenance time is amortized over the batches it folded:
the controller compares per-batch fetch and maintenance, and an
unamortized spike would shrink the window that sets the compaction
cadence.

PIN LIFE CYCLE. A batch runs inside ``with state.batch():`` and takes
every checkpoint through ``pin``. After the combined action the output
stays pinned and belongs to the caller; the key set and fetch leaf become
the batch's pending delta or, on a compaction batch, are released with
every pending delta and the previous base, which the new base
checkpoints absorbed; every other pin of the batch is released. If the
batch raises anywhere, every pin it took is released, the state is left
as it was before the batch, and the error is re-raised. ``close()``
releases the state pins. Every release goes through
``release_checkpoint``: ``DataFrame.unpersist`` does not free a
checkpoint leaf's blocks.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
    BatchTimings,
)
from distributed_stream_processing_spark.streaming.checkpoint import (
    lazy_local_checkpoint,
    release_checkpoint,
    scoped_conf,
)
from distributed_stream_processing_spark.streaming.plan_timing import (
    DeferredObservation,
    PlanTimeAttributor,
)

# combined-action branch tag -> phase, in attribution walk order
_PHASES = {
    "k": "join", "m": "join", "x": "fetch",
    "c": "maintain", "l": "maintain", "f": "maintain",
    "o": "join",
}
_WALK = list(_PHASES)


def with_delta(
    cache: DataFrame, lru: DataFrame, batch_id: int, keys: DataFrame,
    fetched: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The (cache, lru) views with one more delta appended: unions, so
    a key probed in several pending batches appears with several
    ``last_seen`` rows. Every pipeline read of the views is set
    membership (semi/anti joins), and ``fold_lru`` resolves the
    duplicates at compaction. A batch appends its own delta, never
    rebuilding the views from the base (O(1) plan calls a batch)."""
    return (
        cache.unionByName(fetched),
        lru.unionByName(keys.withColumn("last_seen", F.lit(batch_id))),
    )


def fold_lru(lru_view: DataFrame, key: list[str]) -> DataFrame:
    """Latest-wins fold of a flat LRU view: one row per key carrying
    its most recent ``last_seen``."""
    return lru_view.groupBy(*key).agg(F.max("last_seen").alias("last_seen"))


class CacheState:
    """One pipeline's cache, LRU and pins (module docstring).

    ``extra`` is an optional third state table keyed like the LRU (the
    equi pipeline's admission frequencies): a batch may replace it at
    compaction (``commit(extra=...)``), and ``close`` releases it."""

    def __init__(
        self,
        cache: DataFrame,
        lru: DataFrame,
        key: list[str],
        controller: AdaptiveCacheController,
        compact_every: int,
        lru_rows: int = 0,
        extra: DataFrame | None = None,
    ):
        self.key, self.controller = key, controller
        self.compact_every = compact_every
        self.cache, self.lru, self.extra = cache, lru, extra
        # row bounds for the eviction-set broadcast gates
        self.lru_rows, self.extra_rows = lru_rows, 0
        self.pend: list[tuple] = []
        self._base = [cache, lru]
        self._pins: list[DataFrame] = []
        self._t0 = 0.0
        self._attributor = PlanTimeAttributor()
        self._deferred = DeferredObservation()
        # the combined action's columns, built once (each is several
        # py4j calls)
        self._tag_cols = {t: F.lit(t).alias("t") for t in _PHASES}
        self._count_col = F.count(F.lit(1)).alias("n")

    @contextmanager
    def batch(self):
        """Scope of one batch: its pins are released if it raises."""
        self._pins, self._t0 = [], time.monotonic()
        try:
            yield
        except BaseException:
            pins, self._pins = self._pins, []
            for df in pins:
                release_checkpoint(df)
            raise

    def pin(self, df: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """A batch pin: a checkpoint LEAF (LogicalRDD), not a cache. A
        ``.cache()`` relies on the CacheManager substituting the subtree
        wherever it is embedded, but the analyzer's relation dedup
        re-instances subtrees that share expression ids across join
        sides, the canonical lookup then misses, and the consumer
        silently re-executes the lineage, which holds every prior
        pending batch's fetch (per-batch jobs measured 20 -> 34 -> 63
        -> ... -> 1053 over seven batches). A leaf has no lineage to
        re-execute. ``cols`` re-aliases the leaf (toDF) so it gets fresh
        expression ids: it inherits its input's otherwise, and joining
        the batch against a plan derived from it trips the analyzer's
        conflicting-reference check."""
        out = lazy_local_checkpoint(df, cols=cols)
        self._pins.append(out)
        return out

    def pin_keys(self, rows: DataFrame) -> DataFrame:
        """The batch's pinned key set. The state views reference it
        until the next compaction, so it must not recompute through
        the caller's batch. coalesce(8): it is batch-sized, and read
        only by broadcasts, the miss-detect anti-join and compaction
        folds, which 8 partitions keep off the scheduling floor of
        empty batches."""
        return self.pin(
            rows.select(*self.key).distinct().coalesce(8), cols=self.key
        )

    def flush(self) -> None:
        """Join the previous batch's background attribution walk (and
        re-raise its error). Required before reading
        ``controller.history`` after the last batch."""
        self._deferred.flush()

    def commit(
        self,
        batch_id: int,
        keys: DataFrame,
        missed: DataFrame,
        fetched: DataFrame,
        out: DataFrame,
        join_extras: list[DataFrame],
        fetch_extra: DataFrame,
        tail: DataFrame | None = None,
        evict: DataFrame | None = None,
        extra: DataFrame | None = None,
    ) -> None:
        """Run the batch's combined action, then move the state on and
        submit the attribution walk. ``join_extras``/``fetch_extra``
        are the checkpoint inputs the walk reads first. At compaction
        only: ``tail`` replaces ``fetched`` as the delta folded into
        the cache, ``evict`` (keys of the extra table, so bounded by
        ``extra_rows``) is evicted along with the stale keys, and
        ``extra`` is the plan of the new extra table (branch f)."""
        key = self.key
        # the first controller read of the batch
        self.flush()
        window = self.controller.window
        compact = len(self.pend) + 1 >= max(1, min(self.compact_every, window))
        n_folded = len(self.pend) + 1 if compact else 1
        n_part = int(out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        branches = {"m": missed, "k": keys, "x": fetched, "o": out}
        extras = [("join", df) for df in join_extras] + [("fetch", fetch_extra)]
        if compact:
            cache_full, lru_view = with_delta(
                self.cache, self.lru, batch_id, keys,
                fetched if tail is None else tail,
            )
            # the fold runs ONCE: pinned (one shuffle, no job at the
            # call), then read by the stale broadcast below, whose job
            # materializes it, and by the l branch
            fold_in = fold_lru(lru_view, key)
            folded = self.pin(fold_in, cols=[*key, "last_seen"])
            # this batch's keys carry last_seen == batch_id, never stale
            fresh = F.col("last_seen") >= batch_id - window
            lru_in = folded.filter(fresh)
            stale = folded.filter(~fresh).select(*key)
            bound = self.lru_rows
            if evict is not None:
                lru_in = lru_in.join(
                    bounded_broadcast(evict, self.extra_rows), key, "left_anti"
                )
                stale, bound = stale.unionByName(evict), bound + self.extra_rows
            cache_in = cache_full.join(
                bounded_broadcast(stale, bound), key, "left_anti"
            ).coalesce(n_part)
            lru_in = lru_in.coalesce(n_part)
            branches["c"], branches["l"] = self.pin(cache_in), self.pin(lru_in)
            extras += [
                ("maintain", fold_in), ("maintain", cache_in), ("maintain", lru_in)
            ]
            if extra is not None:
                extra_in = extra.coalesce(n_part)
                branches["f"] = self.pin(extra_in)
                extras.append(("maintain", extra_in))
        tags = list(branches)
        phases = [_PHASES[t] for t in tags]
        walk_order = sorted(range(len(tags)), key=lambda i: _WALK.index(tags[i]))
        tagged = reduce(
            DataFrame.unionAll,
            [df.select(self._tag_cols[t]) for t, df in branches.items()],
        )
        counts_df = tagged.groupBy("t").agg(self._count_col)
        # AQE-off: one job (an AQE plan runs its map stage as a job of
        # its own); the plan has no join for AQE to re-plan
        aqe_off = {"spark.sql.adaptive.enabled": "false"}
        with scoped_conf(counts_df.sparkSession, aqe_off):
            counts = {r.t: r.n for r in counts_df.collect()}
        total_s = time.monotonic() - self._t0
        n_miss, n_keys = int(counts.get("m", 0)), int(counts.get("k", 0))

        pins, self._pins = self._pins, []
        if compact:
            for _, keys_i, fetched_i in self.pend:
                release_checkpoint(keys_i)
                release_checkpoint(fetched_i)
            for df in self._base:
                release_checkpoint(df)
            self.pend = []
            self._base = [branches["c"], branches["l"]]
            self.cache, self.lru = self._base
            self.lru_rows = int(counts.get("l", 0))
            if extra is not None:
                release_checkpoint(self.extra)
                self.extra = branches["f"]
                self.extra_rows = int(counts.get("f", 0))
            kept = [out, *self._base, self.extra]
        else:
            self.pend.append((batch_id, keys, fetched))
            # upper bound: every batch key could be new to the LRU
            self.lru_rows += n_keys
            self.cache, self.lru = with_delta(
                self.cache, self.lru, batch_id, keys, fetched
            )
            kept = [out, keys, fetched]
        for df in pins:
            if not any(df is k for k in kept):
                release_checkpoint(df)

        attributor, controller = self._attributor, self.controller

        def attribute_and_observe():
            split = attributor.attribute(
                counts_df, phases=phases, tags=tags, walk_order=walk_order,
                extra=extras,
            )
            if split is not None:
                fetch_s = split["fetch"]
                maintain_s = split.get("maintain", 0.0) / n_folded
                join_s, measured = split["join"], True
            else:
                # fallback: miss-fraction attribution, the signal the
                # reference's rule-based window policy keys on
                # (ds_join/DS_SimJoin_stream.scala:645-667)
                miss_frac = n_miss / n_keys if n_keys else 0.0
                fetch_s = total_s * miss_frac
                maintain_s = total_s - fetch_s
                join_s, measured = 0.0, False
            controller.observe(
                BatchTimings(
                    batch_id=batch_id,
                    n_miss=n_miss,
                    store_fetch_s=fetch_s,
                    cache_maintain_s=maintain_s,
                    join_s=join_s,
                    measured=measured,
                )
            )

        self._deferred.submit(attribute_and_observe)

    def close(self) -> None:
        """Release every pin backing the state (base checkpoints,
        pending deltas, extra table). Batch outputs stay readable; no
        batch may run afterwards."""
        self.flush()
        pins = [*self._base, *(p for _, *d in self.pend for p in d), self.extra]
        for df in pins:
            if df is not None:
                release_checkpoint(df)
        self._base, self.pend, self.extra = [], [], None


class CachedPipeline:
    """The state surface both pipelines share, over ``self._state``."""

    _state: CacheState

    cache = property(lambda self: self._state.cache)
    lru = property(lambda self: self._state.lru)
    # pending deltas; empty right after a compaction
    _pend = property(lambda self: self._state.pend)

    def flush_attribution(self) -> None:
        """Join the pending background attribution walk — required
        before reading ``controller.history`` after the last batch."""
        self._state.flush()

    def close(self) -> None:
        """Release the state's pins; batch outputs stay readable."""
        self._state.close()
