"""Pluggable keyed remote-fetch seam for the semi-stream pipelines
(SURVEY S7 batched remote point-lookup; VERDICT r15 task 5).

Both cached pipelines fetch the rows of MISSED keys from the backing
store once per batch. The default implementation is a scan-side
semi-join of the in-session store (equi pipeline) or key directory
(similarity pipeline) against the broadcast missed-key set — measured
cheap at the 100x stores (q33 fetch share 0.29; q48 directory scan
~0.6 s/batch) but LINEAR in store size: at a genuine 100 TB store the
honest answer is a keyed EXTERNAL fetch, pushing the (batch-bounded)
key set into the source as a ``WHERE key IN (...)`` predicate — the
reference's own miss path is exactly that shape (per-partition Mongo
``in()`` lookups, ds_join/DS_SimJoin_stream.scala:774-832; DS-Join's
indexed fetch, DS_join_step4 streaming.scala:343-377).

The seam is one method: ``fetch(missed_keys: DataFrame) ->
DataFrame``. A pipeline given a ``fetcher`` routes every miss fetch
through it; the returned frame must carry the pipeline's fetch
layout (the equi pipeline: the store's columns; the similarity
pipeline: ``sk, b_id, b_sz, b_kind``). Implementations here:

* ``SemiScanFetcher`` — the default semantics as an explicit object
  (store ⋉ broadcast(missed_keys)); what both pipelines inline when
  no fetcher is given.
* ``PushdownKeyedFetcher`` — the external-store shape: collects the
  batch-bounded key set to the driver and issues
  ``source.filter(key IN (keys))`` (``in_predicate``), which Spark
  pushes into the scan as an ``In`` filter (``PushedFilters:
  [In(key, ...)]`` on a parquet source — asserted by
  tests/test_fetch_seam.py) and a JDBC source compiles to
  ``WHERE key IN (...)``. The driver collect is
  bounded by the per-batch miss count, the same bound the reference's
  ``in()`` batches rely on.

When to flip the default (measured at the 100x store, 75.4M-row sigs
collection — tools/exp_fetch_pushdown.py, table in BASELINE.md r17):
pushdown is O(misses) ONLY when the source is physically CLUSTERED on
the key (sk-range-partitioned files: 0.09 s at 10 keys vs the ~0.7-
0.9 s warm O(store) scan floor, converging at ~300k fetched rows
where output volume dominates); against an unclustered source the
pushed In filter prunes nothing and still reads the whole store. So:
stay with the default scan while the store fits cluster memory;
switch to ``PushdownKeyedFetcher`` over a key-clustered/indexed
source when the store outgrows page cache (the scan floor becomes
disk-bound and store-size-linear: 5.75-22 s measured cold at 1 GB)
or when batches are small relative to the store (<=1k misses: 3-7x
under the warm scan). Both conditions hold in the 100 TB regime.

Since r18 that rule is CODE, not prose: ``auto_fetcher`` selects the
implementation from the measured crossover (VERDICT r17 task 4),
test-pinned on both sides of each boundary in
tests/test_fetch_seam.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.streaming.checkpoint import bounded_collect


@dataclass
class SemiScanFetcher:
    """Default fetch semantics as a seam object: one scan of the
    in-session ``source``, semi-joined against the broadcast missed
    keys — no shuffle at any source size, but the scan is O(source)
    per batch (fine while the source is cluster-resident; see module
    docstring for the 100 TB shape)."""

    source: DataFrame
    key: str

    def fetch(self, missed_keys: DataFrame) -> DataFrame:
        return self.source.join(F.broadcast(missed_keys), self.key, "left_semi")


@dataclass
class PushdownKeyedFetcher:
    """Keyed external fetch: the missed keys become a source-side
    ``IN`` predicate, so only the matching rows are read — O(misses)
    per batch, independent of source size when the source is indexed
    or partition/row-group pruned on ``key``.

    The key set reaches the driver through ``bounded_collect``: ONE
    job over the missed-key leaf (a plain ``limit().collect()`` scans
    one partition, then scales up, at up to three jobs a batch), and
    ``max_keys`` bounds it (the pipelines' miss sets are batch-bounded
    by construction; a miss set above the bound is a caller bug, and
    failing loudly beats an unbounded collect). ``pushed_counts``
    records each batch's key count for tests and diagnostics."""

    source: DataFrame
    key: str
    max_keys: int = 1_000_000
    pushed_counts: list = field(default_factory=list)

    def fetch(self, missed_keys: DataFrame) -> DataFrame:
        rows = bounded_collect(
            missed_keys.select(self.key), self.max_keys,
            "PushdownKeyedFetcher miss set (max_keys)",
        )
        keys = [r[0] for r in rows]
        self.pushed_counts.append(len(keys))
        if not keys:
            # isin() rejects an empty list; a statically-false filter
            # keeps the schema and lets the optimizer prune the branch
            return self.source.filter(F.lit(False))
        return self.source.filter(in_predicate(self.key, keys))


def in_predicate(key: str, keys: list):
    """``key IN (keys)`` built in ONE JVM call for integer keys: the
    list is rendered into one SQL expression that the JVM parses,
    where ``Column.isin`` makes one py4j round trip per literal
    (0.19 s of a 1.85 s batch at ~1k keys). Other key types keep
    ``isin``. Either form reaches a parquet scan as a pushed ``In``
    filter (tests/test_fetch_seam.py)."""
    if not all(type(v) is int for v in keys):
        return F.col(key).isin(keys)
    name = "`" + key.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({', '.join(map(str, keys))})")


# below this many misses per batch the clustered pushdown beats even
# the WARM in-memory scan (measured 3-7x at <=1k keys vs the ~0.7-0.9s
# warm scan floor — tools/exp_fetch_pushdown.py, BASELINE.md r17)
SMALL_MISS_THRESHOLD = 1_000


def host_memory_bytes() -> int:
    """Physical memory of this host — the default stand-in for "what
    the scan path can keep resident" (page cache + executor storage).
    A real deployment passes the CLUSTER's aggregate memory instead."""
    import os as _os

    try:
        return _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # non-POSIX fallback
        return 64 << 30


def pushdown_applies(
    *,
    store_bytes: int,
    key_clustered: bool,
    memory_bytes: int,
    expected_misses: int | None,
) -> bool:
    """The crossover DECISION shared by auto_fetcher (one-shot pick)
    and AutoFetcher (per-batch re-pick): pushdown iff the source is
    key-clustered AND (the store outgrows memory, or the expected miss
    set is small — but non-zero — so the keyed lookup beats even the
    warm scan). An expectation of ZERO misses keeps the scan: there is
    (probably) nothing to fetch, the in-plan scan against an empty key
    set costs nothing extra inside the batch's combined action, while
    the pushdown's key collect is an unconditional extra driver job
    per batch (measured +0.3 s/batch on all-hit sf0.1 q33 batches).
    See auto_fetcher's docstring for the crossover measurements."""
    return key_clustered and (
        store_bytes > memory_bytes
        or (
            expected_misses is not None
            and 0 < expected_misses <= SMALL_MISS_THRESHOLD
        )
    )


def path_bytes(path: str) -> int:
    """Total bytes under ``path`` (file or directory) — the policy's
    ``store_bytes`` input for file-backed stores."""
    import os as _os

    if _os.path.isfile(path):
        return _os.path.getsize(path)
    total = 0
    for root, _dirs, files in _os.walk(path):
        for fn in files:
            try:
                total += _os.path.getsize(_os.path.join(root, fn))
            except OSError:
                pass
    return total


def parquet_clustered_on(path: str, col: str) -> bool:
    """Whether the parquet data under ``path`` is physically CLUSTERED
    on ``col``: every row group carries min/max stats for the column
    and the (min, max) ranges are pairwise non-overlapping once sorted
    by min — the condition under which a pushed ``In`` filter actually
    prunes row groups instead of re-reading the whole store. Footer
    metadata only (driver-side, milliseconds); any missing stats or
    unreadable file answers False (the conservative side: the policy
    then keeps the scan fetch)."""
    import os as _os

    try:
        import pyarrow.parquet as _pq
    except ImportError:
        return False
    if _os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, _dirs, fns in _os.walk(path):
            files += [
                _os.path.join(root, f) for f in fns if f.endswith(".parquet")
            ]
    if not files:
        return False
    ranges = []
    try:
        for f in files:
            pf = _pq.ParquetFile(f)
            names = pf.schema_arrow.names
            if col not in names:
                return False
            ci = names.index(col)
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(ci).statistics
                if st is None or st.min is None or st.max is None:
                    return False
                ranges.append((st.min, st.max))
    except Exception:
        return False
    ranges.sort()
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        # a key shared at the boundary (lo2 == hi) still prunes; a
        # strict overlap means interleaved keys — not clustered
        if lo2 < hi:
            return False
    return True


def auto_fetcher(
    source: DataFrame,
    key: str,
    *,
    store_bytes: int,
    key_clustered: bool,
    memory_bytes: int | None = None,
    expected_misses: int | None = None,
    max_keys: int = 1_000_000,
):
    """Select the fetch implementation from the MEASURED crossover
    rule (tools/exp_fetch_pushdown.py at the 75.4M-row 100x store;
    VERDICT r17 task 4 asked for the docstring rule as policy):

    * source NOT physically clustered/indexed on ``key`` →
      ``SemiScanFetcher``. The pushed ``In`` reaches the scan but
      prunes nothing (file min/max spans every key), so pushdown just
      adds a driver collect on top of the same O(store) read.
    * clustered AND the store no longer fits memory
      (``store_bytes > memory_bytes``) → ``PushdownKeyedFetcher``.
      The scan floor is disk-bound and store-size-linear (5.75-22 s
      measured cold at 1 GB); pushdown stays O(misses).
    * clustered AND the batch's miss set is small but non-zero
      (``0 < expected_misses <= SMALL_MISS_THRESHOLD``) →
      ``PushdownKeyedFetcher``: 3-7x under even the warm scan floor.
    * otherwise (memory-resident store with big, zero or unknown
      expected miss sets) → ``SemiScanFetcher``: one warm scan +
      broadcast semi-join, no per-batch driver collect. An expectation
      of zero misses keeps the scan (see ``pushdown_applies``).

    ``memory_bytes`` defaults to this host's physical memory; a
    cluster deployment passes aggregate executor memory. Both sides
    of each boundary are pinned by tests/test_fetch_seam.py."""
    if memory_bytes is None:
        memory_bytes = host_memory_bytes()
    if pushdown_applies(
        store_bytes=store_bytes,
        key_clustered=key_clustered,
        memory_bytes=memory_bytes,
        expected_misses=expected_misses,
    ):
        return PushdownKeyedFetcher(source, key, max_keys=max_keys)
    return SemiScanFetcher(source, key)


@dataclass
class AutoFetcher:
    """The crossover rule LIVE in a pipeline, re-evaluated PER BATCH
    (VERDICT r18 task 2): ``auto_fetcher`` picks once at wiring time,
    but the rule's ``expected_misses`` input is a per-batch signal —
    a stream's miss volume collapses after the cache warms, which is
    exactly when the keyed pushdown starts beating the warm scan.

    ``miss_signal`` supplies the expectation before each fetch (the
    pipelines pass the controller's last observed ``n_miss``; None =
    no signal yet, e.g. batch 0). ``default_fetcher`` is the
    pipeline's own scan-side shape when the policy picks the scan;
    when omitted, ``fetch`` returns **None** on a scan pick and the
    pipeline falls back to its INLINE default (the similarity
    pipeline's kv-directory fetch — both pipelines honor the
    None-decline). ``source`` may be None (no keyed external
    collection available — e.g. an in-session store): the policy then
    always declines/delegates. ``chosen`` records
    (impl, expected_misses) per batch for tests and diagnostics."""

    source: DataFrame | None
    key: str
    store_bytes: int = 0
    key_clustered: bool = False
    memory_bytes: int | None = None
    max_keys: int = 1_000_000
    miss_signal: object | None = None  # callable () -> int | None
    default_fetcher: object | None = None
    # True = a scan pick always DECLINES (returns None) so the
    # pipeline's inline default runs — for pipelines whose scan shape
    # is not a flat semi-join (the similarity kv-directory fetch)
    scan_declines: bool = False
    chosen: list = field(default_factory=list)

    def __post_init__(self):
        if self.memory_bytes is None:
            self.memory_bytes = host_memory_bytes()
        self._pushdown = (
            PushdownKeyedFetcher(self.source, self.key, max_keys=self.max_keys)
            if self.source is not None
            else None
        )
        if (
            self.default_fetcher is None
            and self.source is not None
            and not self.scan_declines
        ):
            self.default_fetcher = SemiScanFetcher(self.source, self.key)

    def fetch(self, missed_keys: DataFrame) -> DataFrame | None:
        expected = self.miss_signal() if self.miss_signal else None
        use_pushdown = self._pushdown is not None and pushdown_applies(
            store_bytes=self.store_bytes,
            key_clustered=self.key_clustered,
            memory_bytes=self.memory_bytes,
            expected_misses=expected,
        )
        if use_pushdown:
            self.chosen.append(("pushdown", expected))
            return self._pushdown.fetch(missed_keys)
        self.chosen.append(("scan", expected))
        if self.default_fetcher is None:
            return None  # decline: pipeline runs its inline default
        return self.default_fetcher.fetch(missed_keys)
