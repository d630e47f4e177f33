"""Subsequence matching over a stored series — the engine's KV-match
(S3M) equivalent.

Reference pipeline (Java, driver-local): build per-width sorted
mean->interval indexes (S3M kvmatch/IndexBuilder.java:62-302), probe
them with query-segment mean ranges, intersect candidate intervals,
then verify ED/DTW with early abandoning (kvmatch/QueryEngine.java:
74-293, utils/DtwUtils.java:50-338). This engine re-expresses it
distributed:

* index build  = one numpy pass over overlap-replicated chunks (no
  global-order Window bottleneck) + run-length grouping into
  (w, mr, pos_start, pos_end) rows;
* probe        = one scan of the index DataFrame for all query
  segments (Cauchy-Schwarz bound: ED <= eps over a width-w segment
  implies |segment mean diff| <= eps/sqrt(w), plus the grid rounding
  slack), then an interval sweep-line intersects the segments'
  candidate start-ranges;
* ED verify    = for fixed-decimal data (``value_scale``), exact int64
  distances from prefix sums and one correlation with the query, in a
  numpy pass over every window of the series' chunk layout: no index
  and no probe; otherwise an
  equi-join of candidates x series with a deterministic left-to-right
  fold (bit-reproducible vs the DuckDB oracle); DTW = the LB_Kim /
  LB_Keogh cascade with early abandon, and zNorm / cNSM = batched
  closed forms (float, or exact integer window sums with
  ``value_scale``).

Every numpy pass runs through one chunk runner (``_run_chunks``), and
every ``value_scale`` path through one fixed-decimal contract
(``_fixed_decimal``: off-grid or non-finite input raises ValueError).

The runner looks a stored series' chunk layout up once per pass
(``_series_layout``) and reads it: its (pos, value,
chunk_id) rows with the m-1 overlap, partitioned by chunk (so a window
may be at most chunk + 1 points long; a longer one raises ValueError).
The first pass over a series object at a given (m, chunk) builds
the layout inside its own plan (one exchange, nothing kept, so a series
passed once, as every one-shot query does, holds nothing after its
frame is read); the second keeps that shuffle, and every later pass
over the same series reads it: one narrow mapInPandas, one job and no
exchange. No block is persisted for it: the shuffle files stay while a
frame that can read them exists and go, as every shuffle's do, with the
last of them; a lost file is recomputed from the lineage.

The fixed-decimal ED range query has one plan on every pass: the
verify reads every layout row anyway, so an index probe would add an
index build or scan, a count and an exchange, and save only numpy
work. It lost every measurement taken, on the first pass and over a
kept layout. The index probe serves the float ED verify and the DTW
verify, the only paths for their inputs.

Positions are 0-based window starts; a window of width m covers
[start, start+m-1].
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.session import session_key
from distributed_stream_processing_spark.streaming.checkpoint import scoped_conf

DEFAULT_WIDTHS = (25, 50, 100, 200, 400)
# points per chunk of a stored series' layout; a best match and a range
# query share a kept layout only when they read it at the same chunk
DEFAULT_CHUNK = 8192
_GRID = 0.5  # KV-match half-integer mean rounding (MeanIntervalUtils.java:51-60)


# ---------------------------------------------------------------------------
# fixed-decimal contract + the chunk runner
# ---------------------------------------------------------------------------


def _fixed_decimal(
    values, value_scale: int, what: str, against: np.ndarray | None = None
) -> np.ndarray:
    """``values`` as exact scaled int64 (``value_scale`` = 100 for
    2-decimal data) — the one contract of every ``value_scale`` path.

    Exactness is data-dependent, so a value more than 1e-6 off the
    scaled grid raises ValueError instead of being quantized to a
    different problem, and so does a value the int64 grid cannot hold:
    NaN, ±inf or a scaled magnitude of 2^63 or more (each would cast to
    INT64_MIN). ``against`` is the scaled query (1-D) or queries (2-D,
    one per row) these values are matched against: the squared distance
    of a width-m window, an int64 sum later read as a double, is exact
    only below 2^53, so a bound that could reach it raises too."""
    sv = np.asarray(values, dtype=np.float64) * value_scale
    # NaN fails the magnitude test (every comparison with NaN is false)
    if sv.size and not (
        bool((np.abs(sv) < 2.0**63).all())
        and float(np.abs(sv - np.rint(sv)).max()) <= 1e-6
    ):
        raise ValueError(
            f"value_scale={value_scale} but the {what} is not "
            "fixed-decimal at that scale"
        )
    ints = np.rint(sv).astype(np.int64)
    if against is not None and ints.size and against.size:
        dmax = float(np.abs(ints).max()) + float(np.abs(against).max())
        if dmax * dmax * against.shape[-1] >= 2.0**53:
            raise ValueError(
                "scaled |diff|^2 * m may exceed 2^53 — exact int64 "
                "distance contract would break; lower value_scale or "
                "shorten the query"
            )
    return ints


def _fixed_decimal_d2(cents: np.ndarray, rows: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Exact int64 squared distance of each width-m window of ``cents``
    starting at ``rows`` to each scaled query (the rows of the 2-D
    ``Q``, m wide): a (len(Q), len(rows)) array.

    d2 = sum x^2 - 2 sum xq + sum q^2, from int64 prefix sums of x^2
    and one float64 correlation per query, so memory grows with the
    chunk, not with chunk x m. Both ``cents`` and ``Q`` come from
    _fixed_decimal with ``against`` bounding cents against Q: each
    product and partial sum of sum xq is then an integer below 2^53, so
    the correlation is exact; the prefix sums may wrap, their
    differences (below 2^53) do not."""
    m = Q.shape[1]
    sq = np.concatenate(([0], np.cumsum(cents * cents)))
    ssq = sq[rows + m] - sq[rows]
    xf = cents.astype(np.float64)
    d2 = np.empty((len(Q), len(rows)), dtype=np.int64)
    for i, q in enumerate(Q):
        sxq = np.correlate(xf, q.astype(np.float64), "valid")[rows]
        d2[i] = ssq - 2 * sxq.astype(np.int64) + int((q * q).sum())
    return d2


def _chunked(series: DataFrame, m: int, chunk: int) -> DataFrame:
    """(pos, value, chunk_id) rows of ``series`` in one scan, so that
    chunk c holds every width-``m`` window starting in [c*chunk,
    (c+1)*chunk): a row within m-1 of its chunk's start is exploded
    into its own chunk and the preceding one. One SQL projection, so
    the plan costs a few JVM calls, not one per Column node.

    The replication reaches exactly one chunk back, so a window longer
    than chunk + 1 points, which reaches two chunk boundaries, would be
    in no chunk and silently go unscored; every layout is built here,
    so such a width raises ValueError before any layout is kept."""
    if m - 1 > chunk:
        raise ValueError(
            f"window width {m} exceeds the chunk overlap bound "
            f"(chunk={chunk}); raise chunk= to at least width-1"
        )
    pos = "CAST(pos AS BIGINT)"
    cid = f"CAST(floor({pos} / {chunk}) AS BIGINT)"
    return series.selectExpr(
        f"{pos} AS pos",
        "CAST(value AS DOUBLE) AS value",
        f"explode(IF(pmod({pos}, {chunk}) < {m - 1} AND {pos} >= {chunk}, "
        f"array({cid}, {cid} - 1), array({cid}))) AS chunk_id",
    )


def _layout_partitions(series: DataFrame, chunk: int) -> int:
    """Partition count of a kept layout. Its shuffle is planned static
    (no AQE coalescing), so it is chosen here: one partition per chunk
    of the series' row count where the plan knows it (a materialized
    cache), at most spark.sql.shuffle.partitions and the default
    parallelism, and that cap where it does not."""
    spark = series.sparkSession
    cap = max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        ),
    )
    rows = series._jdf.queryExecution().optimizedPlan().stats().rowCount()
    if not rows.isDefined():
        return cap
    return max(1, min(cap, -(-int(rows.get()) // chunk)))


def _series_layout(series: DataFrame, m: int, chunk: int) -> DataFrame | None:
    """The kept chunk layout of ``series`` for width-``m`` windows, or
    None on the first pass over this series object at (m, chunk),
    which builds the layout inside its own plan.

    The second pass keeps ``_chunked(series)`` partitioned by chunk_id
    as a leaf over the RDD of that shuffle, planned AQE-off (so no job
    runs at the call): the first job that reads the leaf runs the
    shuffle's map stage, and every later job skips it. No block is
    persisted. The shuffle files stay while a frame that can read them
    exists (the memo, or a frame a pass returned), go with the last of
    them as every shuffle's do, and a lost file is recomputed from the
    lineage. Held by the series object, not keyed by its plan, so a
    different series never reuses a layout; keyed by the session, m
    and chunk."""
    key = (session_key(series.sparkSession), m, chunk)
    # {key: kept layout, or None after the first pass}, kept on the series
    # object so it goes with it (__dict__ directly: a missing DataFrame
    # attribute is looked up as a column, a JVM call)
    seen = series.__dict__.setdefault("_chunk_layouts", {})
    if key not in seen:
        seen[key] = None
        return None
    if seen[key] is None:
        spark = series.sparkSession
        shuffled = _chunked(series, m, chunk).repartition(
            _layout_partitions(series, chunk), "chunk_id"
        )
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            jrdd = shuffled._jdf.javaRDD()
        jschema = spark._jsparkSession.parseDataType(shuffled.schema.json())
        seen[key] = DataFrame(
            spark._jsparkSession.createDataFrame(jrdd, jschema), spark
        )
    return seen[key]


def _owned_rows(pos: np.ndarray, base: int, chunk: int, w: int) -> np.ndarray:
    """Row offsets of the gap-free width-``w`` windows a chunk owns:
    the start lies in [base, base + chunk) and the window's last row
    holds start + w - 1 (positions are strictly increasing integers, so
    endpoint equality means no gap)."""
    starts = pos[: max(len(pos) - w + 1, 0)]
    return np.flatnonzero(
        (starts >= base)
        & (starts < base + chunk)
        & (pos[w - 1 : w - 1 + len(starts)] == starts + w - 1)
    )


def _aligned_rows(pos: np.ndarray, starts: np.ndarray, w: int) -> np.ndarray:
    """Row offsets of the candidate ``starts`` whose gap-free width-``w``
    window the chunk holds."""
    s = np.searchsorted(pos, starts)
    ok = s + w <= len(pos)
    s, starts = s[ok], starts[ok]
    return s[(pos[s] == starts) & (pos[s + w - 1] == starts + w - 1)]


def _partition_chunks(batches, m: int, chunk: int):
    """Yield ``(base, pos, val, rows)`` for every chunk of one
    mapInPandas partition, pos ascending; ``rows`` are the row offsets
    of the width-``m`` windows to score.

    A chunk's rows can arrive in several Arrow record batches
    (spark.sql.execution.arrow.maxRecordsPerBatch), and a window that
    straddles two of them is never scored if each batch is scored on
    its own, so the partition's batches are gathered first. When the
    rows carry a ``start`` column (_run_chunks' union of series rows
    and candidate rows), ``rows`` align the chunk's candidate starts
    and chunks without candidates are skipped; otherwise ``rows`` are
    every window the chunk owns."""
    pdfs = list(batches)
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    with_starts = "start" in pdf.columns
    for cid, grp in pdf.groupby("chunk_id"):
        if with_starts:
            is_cand = grp["start"].notna()
            if not is_cand.any():
                continue
            starts = np.unique(grp.loc[is_cand, "start"].to_numpy(np.int64))
            grp = grp[~is_cand]
        pos = grp["pos"].to_numpy(np.int64)
        order = np.argsort(pos, kind="stable")
        pos, val = pos[order], grp["value"].to_numpy(np.float64)[order]
        base = int(cid) * chunk
        rows = (
            _aligned_rows(pos, starts, m)
            if with_starts
            else _owned_rows(pos, base, chunk, m)
        )
        yield base, pos, val, rows


def _run_chunks(
    series: DataFrame,
    m: int,
    chunk: int,
    kernel,
    schema: str,
    candidates: DataFrame | None = None,
    reuse: bool = True,
) -> DataFrame:
    """The one per-chunk driver of every numpy pass: ``kernel`` maps
    the ``(base, pos, val, rows)`` chunks of one partition
    (_partition_chunks) to pandas frames of ``schema``, in ONE
    mapInPandas over the series' chunk layout. No global sort, and no
    stage holds the whole series in one task.

    The layout is looked up here (_series_layout): a kept layout is
    read as a leaf, so the pass has no exchange (one job); otherwise
    the layout is built inside this plan, behind one exchange on
    chunk_id. ``reuse=False`` (the one-time index build) always builds
    it in the plan and records nothing.

    Without ``candidates``, ``rows`` are every window a chunk owns.
    With ``candidates`` (a ``start`` column; the indexed DTW verify),
    ``rows`` are only those window starts, owned by floor(start/chunk);
    the overlap replication of _chunked guarantees the owning chunk
    holds the full window. Layout rows (``start`` null) and candidate
    rows (``pos`` and ``value`` null) are unioned and sent through one
    exchange (a cogroup of the two sides shuffled each side on its own:
    one exchange more), kept layout or not."""
    layout = _series_layout(series, m, chunk) if reuse else None
    rows = layout if layout is not None else _chunked(series, m, chunk)
    if candidates is not None:
        rows = rows.selectExpr(
            "pos", "value", "chunk_id", "CAST(NULL AS BIGINT) AS start"
        ).unionByName(
            candidates.selectExpr(
                "CAST(NULL AS BIGINT) AS pos",
                "CAST(NULL AS DOUBLE) AS value",
                f"CAST(floor(start / {chunk}) AS BIGINT) AS chunk_id",
                "CAST(start AS BIGINT) AS start",
            )
        )
    if rows is not layout:
        rows = rows.repartition("chunk_id")

    def gen(batches):
        yield from kernel(_partition_chunks(batches, m, chunk))

    return rows.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# index build
# ---------------------------------------------------------------------------


def _index_runs(
    series: DataFrame,
    widths: tuple[int, ...],
    value_scale: int | None,
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """(w, mr, pos_start, pos_end) runs of equal grid-rounded mean for
    EVERY width in one pass: the series is scanned once (_chunked:
    rows in the max(widths)-1 overlap explode into two chunks) and
    shuffled ONCE by chunk, and the per-chunk numpy kernel emits all
    widths' runs —
    before r12 each width paid its own 2 scans + shuffle, which is
    2k scans of the series for k widths, the wrong shape for a 100 TB
    build (A5-A7, IndexBuilder.java:62-302 builds per width too but
    over a local file). Runs that span a chunk boundary come out
    split and are re-joined by the caller's merge_intervals pass."""
    widths = tuple(sorted(set(widths)))

    def kernel(chunks):
        for base, pos, val, _rows in chunks:
            if value_scale is not None:
                val = _fixed_decimal(val, value_scale, "series")
            c = np.concatenate(([0], np.cumsum(val)))
            for w in widths:
                # the overlap replication is sized for the LARGEST
                # width; smaller widths mask its extra tail rows out
                own = _owned_rows(pos, base, chunk, w)
                if not len(own):
                    continue
                s = c[own + w] - c[own]
                if value_scale is not None:
                    mr = np.floor(s / float(value_scale * w * _GRID)) * _GRID
                else:
                    mr = np.floor(s / w / _GRID) * _GRID
                st = pos[own]
                brk = (
                    np.flatnonzero((mr[1:] != mr[:-1]) | (st[1:] != st[:-1] + 1))
                    + 1
                )
                seg = np.concatenate(([0], brk, [len(st)]))
                yield pd.DataFrame(
                    {
                        "w": np.full(len(seg) - 1, w, dtype=np.int32),
                        "mr": mr[seg[:-1]],
                        "pos_start": st[seg[:-1]],
                        "pos_end": st[seg[1:] - 1],
                    }
                )

    return _run_chunks(
        series,
        max(widths),
        chunk,
        kernel,
        "w int, mr double, pos_start long, pos_end long",
        reuse=False,
    )


def build_kv_index(
    series: DataFrame,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    value_scale: int | None = None,
) -> DataFrame:
    """(w, mr, pos_start, pos_end): runs of consecutive window starts
    whose grid-rounded mean is equal (IndexBuilder.java:219-245
    re-derived as per-chunk run detection + a distributed
    merge_intervals pass that re-joins boundary-spanning runs; the
    merge shuffles by (w, mr) — many small groups, never one task).
    ALL widths build from ONE scan+shuffle pass (r12): 2 series scans
    total instead of 2 per width — the build shape that holds when
    the series is 100 TB.

    With ``value_scale`` set, mr comes from the exact integer window
    sum — floor(sum_scaled / (scale*w*GRID)) * GRID — so the grid
    assignment has no float summation-order ambiguity.

    The per-chunk kernel's overlap replication reaches exactly one
    chunk back, so the chunk is auto-sized to cover the widest window
    (max(default, 2*max(widths)) — VERDICT r12 task 5): a user asking
    for w=16384 gets the one-pass build without tuning anything. The
    width>chunk guard of _chunked stays as the internal invariant.
    """
    from distributed_stream_processing_spark.operators.interval import (
        merge_intervals,
    )

    chunk = max(DEFAULT_CHUNK, 2 * max(widths))
    runs = _index_runs(series, widths, value_scale, chunk=chunk)
    # within-chunk runs are maximal, so only integer-adjacent same-mr
    # runs (chunk boundaries) can merge under gap=1
    return merge_intervals(
        runs, ["w", "mr"], "pos_start", "pos_end", merge_gap=1
    ).drop("n_merged").select("w", "mr", "pos_start", "pos_end")


def save_kv_index(index: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a KV index as parquet, partitioned by width and sorted
    by mr within files — the reference's build-once/probe-many model
    (kvmatch/IndexFileOperator.java:127-170, IndexBuilder.java:62-302).

    Probes filter on (w, mr-range): partitioning by w gives partition
    pruning, and the within-file mr sort gives parquet row-group
    min/max skipping, so a probe reads only the slice it needs — the
    property that makes a 100 TB index probeable without scanning it.
    """
    (
        index.repartition("w")
        .sortWithinPartitions("mr", "pos_start")
        .write.mode(mode)
        .partitionBy("w")
        .parquet(path)
    )


def load_kv_index(spark, path: str) -> DataFrame:
    """Read back a save_kv_index parquet with the canonical schema."""
    df = spark.read.parquet(path)
    return df.select(
        F.col("w").cast("int").alias("w"),
        F.col("mr").cast("double").alias("mr"),
        F.col("pos_start").cast("long").alias("pos_start"),
        F.col("pos_end").cast("long").alias("pos_end"),
    )


def compact_kv_index(index: DataFrame, factor: int = 2) -> DataFrame:
    """Shrink the index by coarsening the mean grid ``factor``x and
    merging adjacent position runs (the reference's size-based row
    compaction, IndexBuilder.java:262-301). Probing a compacted index
    requires grid = factor * _GRID for completeness (the coarser
    bucket widens the rounding slack)."""
    from distributed_stream_processing_spark.operators.interval import (
        merge_intervals,
    )

    coarse = float(factor) * _GRID
    bucketed = index.withColumn("mr", F.floor(F.col("mr") / coarse) * coarse)
    return merge_intervals(
        bucketed, ["w", "mr"], "pos_start", "pos_end", merge_gap=1
    ).drop("n_merged")


# ---------------------------------------------------------------------------
# query segmentation + probe
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Segment:
    offset: int  # start within the query
    width: int
    mean: float


def plan_segments(query: list[float], widths: tuple[int, ...] = DEFAULT_WIDTHS) -> list[Segment]:
    """Greedy disjoint cover of the query with index widths, largest
    first (stand-in for the reference's statistics-driven DP,
    QueryEngine.java:337-416 — any disjoint cover is sound; the DP
    only optimizes probe cost)."""
    m = len(query)
    usable = sorted((w for w in widths if w <= m), reverse=True)
    if not usable:
        raise ValueError(f"query length {m} below smallest index width {min(widths)}")
    segs: list[Segment] = []
    off = 0
    while m - off >= usable[-1]:
        w = next(w for w in usable if w <= m - off)
        segs.append(Segment(off, w, float(np.mean(query[off : off + w]))))
        off += w
    return segs


def _sql_double(x: float) -> str:
    """``x`` as an exact Spark SQL DOUBLE literal (repr round-trips a
    float; a bare decimal literal would parse as DECIMAL)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def probe_index_ranges(
    index: DataFrame,
    probes: list[tuple[int, int, float, float]],
    n_positions: int,
    query_len: int,
    grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """Window starts whose width-``w`` segment at ``offset`` has its
    grid-rounded mean inside [lo, hi] for EVERY probe
    (w, offset, lo, hi) — the one probe core, shared by ED (point mean
    ± Cauchy-Schwarz slack) and DTW (envelope-widened mean ranges).

    Candidate intersection runs at INTERVAL granularity. Each probe's
    matching index rows are disjoint start-ranges (a width's runs
    partition the position space, and clamping preserves
    disjointness), so the K-way intersection is a sweep-line: +1/-1
    boundary events per range, a distributed prefix sum over
    deterministic position-range buckets (per-bucket net deltas
    collected — B rows — and re-broadcast as entry offsets), and
    coverage==K segments become the candidate ranges. Work scales with
    the number of index intervals, not series positions — the shape
    that holds when the series is 100 TB. Only the final intersected
    ranges (output-sized) are exploded to starts.

    ``available_widths``: the widths the index is known to hold.  Pass
    it whenever the caller built the index itself — the alternative is
    a ``select(w).distinct().collect()``, a full materialization of an
    index that the main DAG will recompute (the round-2 q29 2x
    regression).
    """
    max_start = n_positions - query_len
    if available_widths is not None:
        available = set(available_widths)
    else:
        available = {r.w for r in index.select("w").distinct().collect()}
    needed = {w for w, _, _, _ in probes}
    if not needed <= available:
        raise ValueError(
            f"index lacks widths {sorted(needed - available)} required by the "
            f"segmentation (has {sorted(available)}); build the index with "
            "matching widths or pass widths= to the match call"
        )
    k = len(probes)
    # ONE index scan for ALL probes, in ONE projection: each row tests
    # the probe-literal array and maps its matches to clamped, non-empty
    # start-ranges (s, e) (the union-of-k-filtered-scans shape paid k
    # passes over the index; the sweep's two events per range come from
    # the same pass). Written as SQL text, as sources.fetcher.in_predicate
    # does: the JVM parses one expression where Column calls cost one
    # py4j round trip per node (about 300 per probe plan), and each
    # further DataFrame step costs one more analysis. Full-grid (not
    # half) slack: mr is a floor rounding, so the true mean lies in
    # [mr, mr + grid) — keeps completeness
    parr = ", ".join(
        f"named_struct('pw', {int(w)}, 'off', CAST({int(offset)} AS BIGINT), "
        f"'lo', {_sql_double(lo - grid)}, 'hi', {_sql_double(hi + grid)})"
        for w, offset, lo, hi in probes
    )
    ranges = (
        "filter(transform("
        f"filter(array({parr}), p -> p.pw = w AND mr >= p.lo AND mr <= p.hi), "
        "p -> named_struct('s', greatest(0, pos_start - p.off), "
        f"'e', least({max_start}, pos_end - p.off))), r -> r.e >= r.s)"
    )
    if k == 1:
        # single-segment queries need no intersection: one probe's
        # clamped index intervals are disjoint, so their positions are
        # the candidate set — no events, no stats, no sweep
        return index.selectExpr(
            f"explode(flatten(transform({ranges}, r -> sequence(r.s, r.e)))) AS start"
        )
    spark = index.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # deterministic range buckets over the KNOWN position domain —
    # unlike repartitionByRange there is no sampling pass, no cache,
    # and no partition-id bookkeeping (rounds 2-4 paid a groupBy(pos)
    # merge shuffle + a sampled range shuffle + a cached double scan;
    # this is two small jobs over the raw events: B-row stats, then
    # one bucket-grouped sweep)
    span = max_start + 2  # event positions land in [0, max_start + 1]

    def event(pos: str, d: int) -> str:
        b = f"CAST(least({n_parts - 1}, floor(({pos}) * {n_parts} / {span})) AS INT)"
        return f"named_struct('b', {b}, 'pos', {pos}, 'd', {d})"

    # a +1 event at each range's start and a -1 event past its end
    evb = index.selectExpr(
        f"inline(flatten(transform({ranges}, "
        f"r -> array({event('r.s', 1)}, {event('r.e + 1', -1)}))))"
    )
    # per-bucket (net delta, first boundary): map-side combined B-row
    # aggregate; the driver turns it into entry coverage per bucket
    # (prefix sums) and each bucket's successor boundary
    stats = evb.groupBy("b").agg(
        F.sum("d").alias("tot"), F.min("pos").alias("lo")
    ).collect()
    stats.sort(key=lambda r: r.b)
    prefix: dict[int, int] = {}
    running = 0
    for r in stats:
        prefix[r.b] = running
        running += int(r.tot)
    next_lo: dict[int, int] = {}
    nxt = None
    for r in reversed(stats):
        if nxt is not None:
            next_lo[r.b] = nxt
        nxt = int(r.lo)

    def sweep(key, pdf):
        b = int(key[0])
        cum = prefix.get(b, 0)
        open_start = None
        out_s, out_e = [], []
        pdf = pdf.sort_values("pos")
        # rows are raw +-1 events (same pos may repeat, including
        # net-zero pairs); an open interval closes only when the sweep
        # MOVES PAST its start — same-position re-events cancel and
        # may immediately reopen, which at worst splits a covered
        # range into adjacent fragments (identical after the explode
        # to starts)
        for pos, d in zip(pdf["pos"].to_numpy(), pdf["d"].to_numpy()):
            pos = int(pos)
            if open_start is not None:
                if pos > open_start:
                    out_s.append(open_start)
                    out_e.append(pos - 1)
                open_start = None
            cum += int(d)
            if cum == k and open_start is None:
                open_start = pos
        if open_start is not None:
            # coverage still K at bucket end: the next non-empty
            # bucket's first boundary closes it (one exists — global
            # coverage returns to 0 after the last -1 event)
            end = next_lo.get(b)
            if end is not None and end - 1 >= open_start:
                out_s.append(open_start)
                out_e.append(end - 1)
        return pd.DataFrame({"cs": out_s, "ce": out_e}).astype(
            {"cs": "int64", "ce": "int64"}
        )

    covered = evb.groupBy("b").applyInPandas(sweep, schema="cs long, ce long")
    return covered.selectExpr("explode(sequence(cs, ce)) AS start").where(
        f"start >= 0 AND start <= {max_start}"
    )


def probe_index(
    index: DataFrame,
    segments: list[Segment],
    epsilon: float,
    n_positions: int,
    query_len: int,
    grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """ED probe: |segment mean diff| <= eps/sqrt(w) (Cauchy-Schwarz)."""
    probes = [
        (
            s.width,
            s.offset,
            s.mean - epsilon / math.sqrt(s.width),
            s.mean + epsilon / math.sqrt(s.width),
        )
        for s in segments
    ]
    return probe_index_ranges(
        index, probes, n_positions, query_len, grid, available_widths
    )


def dtw_envelope_probes(
    query: list[float],
    rho: int,
    epsilon: float,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
) -> list[tuple[int, int, float, float]]:
    """Mean-range probes sound for banded DTW (QueryEngineDtw.java's
    envelope-widened ranges re-derived).

    If DTW_rho(x, q) <= eps then for any segment S of the window,
    sum_{i in S} dist(x_i, [lo_env_i, hi_env_i])^2 <= eps^2 (each x_i
    aligns only within the band, LB_Keogh per element), so by
    Cauchy-Schwarz mean_S(x) lies in
    [mean(lo_env[S]) - eps/sqrt(|S|), mean(hi_env[S]) + eps/sqrt(|S|)].
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    lo_env = np.array([q[max(0, j - rho) : j + rho + 1].min() for j in range(m)])
    hi_env = np.array([q[max(0, j - rho) : j + rho + 1].max() for j in range(m)])
    return [
        (
            s.width,
            s.offset,
            float(lo_env[s.offset : s.offset + s.width].mean())
            - epsilon / math.sqrt(s.width),
            float(hi_env[s.offset : s.offset + s.width].mean())
            + epsilon / math.sqrt(s.width),
        )
        for s in plan_segments(list(q), widths)
    ]


# ---------------------------------------------------------------------------
# verification
# ---------------------------------------------------------------------------


def verify_ed(
    series: DataFrame, candidates: DataFrame, query: list[float], epsilon: float
) -> DataFrame:
    """Exact ED over candidate windows via join + deterministic fold.

    dist = sqrt(sum_i (x[start+i] - q[i])^2), summed left-to-right in
    offset order so the value is bit-identical to the DuckDB oracle's
    ordered-list fold. Output (start BIGINT, dist DOUBLE ROUND6).
    """
    m = len(query)
    qcol = F.array(*[F.lit(float(v)) for v in query])
    # explode candidate windows to (start, pos) rows -> EQUI-join on pos
    # (a BETWEEN condition would force a nested-loop join; the explode
    # keeps it a shuffled hash join at any candidate count)
    cand_rows = candidates.select(
        "start", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("qoff")
    ).select("start", "qoff", (F.col("start") + F.col("qoff")).alias("pos"))
    joined = cand_rows.join(
        series.select(
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
        ),
        "pos",
    ).select(
        "start",
        "qoff",
        (
            (F.col("value") - F.element_at(qcol, (F.col("qoff") + 1).cast("int")))
            * (F.col("value") - F.element_at(qcol, (F.col("qoff") + 1).cast("int")))
        ).alias("d2"),
    )
    folded = (
        joined.groupBy("start")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qoff", "d2"))),
                    lambda s: s.d2,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist2"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("n") == m) & (F.col("dist2") <= epsilon * epsilon))
    )
    return folded.select(
        F.col("start").cast("bigint").alias("start"),
        F.round(F.sqrt("dist2"), 6).alias("dist"),
    )


def verify_ed_ints(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    value_scale: int,
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Exact ED range query for FIXED-DECIMAL series: every window of
    the series' chunk layout is scored, in one numpy pass per chunk.
    d2 is an int64 sum of scaled squared diffs, order-independent, so
    it needs no ordered fold (verify_ed's exploded (start, qoff) join,
    which at 10x bench scale shuffled ~100M rows through a fixed-width
    exchange and went superlinear). Output contract: (start BIGINT,
    dist ROUND6) with dist = sqrt(d2)/scale, bit-reproducible in DuckDB
    via the same integer cents sums.

    It reads the series' chunk layout for width len(query), the one a
    best match over the same series and width reads (_run_chunks): on
    a first pass over a series object the layout is built inside the
    plan (one exchange), and over a kept layout the pass is one narrow
    mapInPandas, one job and no exchange. A chunk's sums come from
    prefix sums and one correlation with the query, so a task's memory
    grows with the chunk, not with chunk x len(query).
    """
    m = len(query)
    q = _fixed_decimal(query, value_scale, "query")
    eps2 = float(epsilon * value_scale) ** 2  # int64 d2 < 2^53 is exact

    def kernel(chunks):
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            cents = _fixed_decimal(val, value_scale, "series", against=q)
            d2 = _fixed_decimal_d2(cents, rows, q[None])[0]
            keep = d2 <= eps2
            yield pd.DataFrame(
                {
                    "start": pos[rows][keep],
                    "dist": np.round(
                        np.sqrt(d2[keep].astype(np.float64)) / value_scale, 6
                    ),
                }
            )

    return _run_chunks(series, m, chunk, kernel, "start long, dist double")


def subsequence_match_ed(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    index: DataFrame | None = None,
    n_positions: int | None = None,
    value_scale: int | None = None,
    index_grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """RSM with ED: all window starts within ``epsilon`` of ``query``.

    With ``value_scale`` (fixed-decimal data), every pass scores every
    window of the series' chunk layout (verify_ed_ints): no index, no
    count and no probe, so ``widths``, ``index``, ``n_positions``,
    ``index_grid`` and ``available_widths`` go unused.

    Without it, the float path probes the index and verifies the
    candidates with the ordered fold (verify_ed). Exact: the
    mean-range pruning is complete (Cauchy-Schwarz) and the
    verification is exact. Pass ``index_grid`` when probing a
    compacted index (factor * default grid). ``available_widths``
    declares the widths a caller-supplied ``index`` holds, skipping
    the probe's distinct-widths materialization. Without ``index`` the
    call builds one (its shuffle stages run at the call) and pins it
    as a local checkpoint whose blocks go with the returned frame.
    """
    if not query:
        raise ValueError("empty query")
    if value_scale is not None:
        return verify_ed_ints(series, query, epsilon, value_scale)
    if n_positions is None:
        n_positions = series.count()
    # greedy segmentation is query-only: plan first, then build ONLY
    # the widths it selected (round 2 built all three widths for a
    # single-width segmentation — 3x the work)
    segments = plan_segments(query, widths)
    if index is None:
        built = tuple(sorted({s.width for s in segments}, reverse=True))
        # pinned so the probe's scans share one build; a checkpoint is
        # no CacheManager entry, so nothing outlives the returned frame.
        # Planned under the session's AQE, which runs the build's
        # shuffle stages at this call: lazy_local_checkpoint's static
        # plan gives every build shuffle spark.sql.shuffle.partitions
        # tasks (200 Python tasks on a stock session; measured at
        # local[3]: 23-27 s per 6,000-point query against ~2 s here)
        index = build_kv_index(series, built).localCheckpoint(eager=False)
        available_widths = set(built)
    cands = probe_index(
        index,
        segments,
        epsilon,
        n_positions,
        len(query),
        grid=index_grid,
        available_widths=available_widths,
    )
    return verify_ed(series, cands, query, epsilon)


# ---------------------------------------------------------------------------
# DTW and normalized matching — numpy over chunked windows
# ---------------------------------------------------------------------------


def _dtw_banded(
    x: np.ndarray,
    q: np.ndarray,
    rho: int,
    abandon: float,
    cb_suffix: np.ndarray | None = None,
) -> float:
    """Sakoe-Chiba banded DTW with early abandon; returns sqrt cost.

    ``cb_suffix[i]`` (optional) is an admissible lower bound on the
    cost the path must still pay after data row ``i`` (suffix sums of
    per-position LB_Keogh contributions, indexed conservatively at
    ``i + rho`` so it is valid for both query- and data-indexed
    contributions) — the reference's cumulative-bound abandon
    (DtwUtils.java:269-338's `cb[i + r + 1]`).
    """
    m = len(q)
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, m + 1):
        cur = np.full(m + 1, np.inf)
        lo, hi = max(1, i - rho), min(m, i + rho)
        for j in range(lo, hi + 1):
            d = (x[i - 1] - q[j - 1]) ** 2
            cur[j] = d + min(prev[j], prev[j - 1], cur[j - 1])
        remain = cb_suffix[min(m, i + rho)] if cb_suffix is not None else 0.0
        if cur[lo : hi + 1].min() + remain > abandon:
            return math.inf
        prev = cur
    return math.sqrt(prev[m])


def _keogh_contrib(
    x: np.ndarray, lo_env: np.ndarray, hi_env: np.ndarray
) -> np.ndarray:
    """Per-position squared LB_Keogh contributions of ``x`` against an
    envelope (query-side when the envelope is the query's, data-side
    when ``x`` is the query and the envelope is the window's)."""
    above = x > hi_env
    below = x < lo_env
    d = np.zeros_like(x)
    d[above] = x[above] - hi_env[above]
    d[below] = lo_env[below] - x[below]
    return d * d


def _lb_keogh(x: np.ndarray, lo_env: np.ndarray, hi_env: np.ndarray) -> float:
    return float(_keogh_contrib(x, lo_env, hi_env).sum())


def _lb_kim(x: np.ndarray, q: np.ndarray, eps2: float) -> float:
    """LB_Kim endpoint hierarchy (DtwUtils.java:149-188 re-derived,
    non-normalized). Any warping path must pass through (0,0) and
    (m-1,m-1), then through one cell of each successive disjoint
    anti-diagonal set near each end — so each stage's min over its set
    is an admissible additive bound for ANY band width (a band only
    removes cells from each set, and min over a superset is <= min
    over the subset). Stages stop as soon as the bound exceeds eps²;
    the hierarchy needs m >= 6 for the sets to stay disjoint."""
    m = len(q)
    if m < 2:
        return 0.0
    lb = (x[0] - q[0]) ** 2 + (x[m - 1] - q[m - 1]) ** 2
    if lb > eps2 or m < 6:
        return lb
    lb += min(
        (x[1] - q[0]) ** 2, (x[0] - q[1]) ** 2, (x[1] - q[1]) ** 2
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[m - 2] - q[m - 1]) ** 2,
        (x[m - 1] - q[m - 2]) ** 2,
        (x[m - 2] - q[m - 2]) ** 2,
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[0] - q[2]) ** 2,
        (x[1] - q[2]) ** 2,
        (x[2] - q[2]) ** 2,
        (x[2] - q[1]) ** 2,
        (x[2] - q[0]) ** 2,
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[m - 1] - q[m - 3]) ** 2,
        (x[m - 2] - q[m - 3]) ** 2,
        (x[m - 3] - q[m - 3]) ** 2,
        (x[m - 3] - q[m - 2]) ** 2,
        (x[m - 3] - q[m - 1]) ** 2,
    )
    return lb


def dtw_cascade_dist(
    x: np.ndarray,
    q: np.ndarray,
    rho: int,
    eps2: float,
    lo_env: np.ndarray,
    hi_env: np.ndarray,
    w_lo_env: np.ndarray | None = None,
    w_hi_env: np.ndarray | None = None,
    counters: dict | None = None,
) -> float:
    """Full DTW lower-bound cascade for one candidate window — the
    reference's DtwUtils.java:149-338 order: LB_Kim (O(1) endpoint
    hierarchy) -> query-side LB_Keogh (x vs query envelope) ->
    data-side LB_Keogh (q vs the window's envelope, precomputed per
    chunk) -> banded DTW whose early abandon adds the suffix sums of
    the tighter Keogh's per-position contributions. Returns sqrt DTW
    cost, or inf when provably > eps. Every stage is admissible, so a
    window within eps is NEVER pruned (hypothesis-tested); stages only
    reorder how fast non-matches die."""
    if _lb_kim(x, q, eps2) > eps2:
        if counters is not None:
            counters["kim_pruned"] = counters.get("kim_pruned", 0) + 1
        return math.inf
    cb_q = _keogh_contrib(x, lo_env, hi_env)
    lb_q = float(cb_q.sum())
    if lb_q > eps2:
        if counters is not None:
            counters["keogh_q_pruned"] = counters.get("keogh_q_pruned", 0) + 1
        return math.inf
    cb = cb_q
    if w_lo_env is not None:
        cb_d = _keogh_contrib(q, w_lo_env, w_hi_env)
        lb_d = float(cb_d.sum())
        if lb_d > eps2:
            if counters is not None:
                counters["keogh_d_pruned"] = counters.get("keogh_d_pruned", 0) + 1
            return math.inf
        if lb_d > lb_q:
            cb = cb_d
    # suffix sums of the tighter bound's contributions feed the DTW
    # row-wise abandon: cost so far + what the tail must still pay
    cb_suffix = np.zeros(len(q) + 1)
    cb_suffix[:-1] = cb[::-1].cumsum()[::-1]
    if counters is not None:
        counters["dtw_evals"] = counters.get("dtw_evals", 0) + 1
    return _dtw_banded(x, q, rho, eps2, cb_suffix)


def dtw_cascade_batch(
    X: np.ndarray,
    q: np.ndarray,
    rho: int,
    eps2: float,
    lo_env: np.ndarray,
    hi_env: np.ndarray,
    WL: np.ndarray,
    WU: np.ndarray,
) -> np.ndarray:
    """``dtw_cascade_dist`` vectorized over the WINDOW axis: ``X``
    (n, m) candidate windows, ``WL``/``WU`` (n, m) the windows'
    data-side envelopes. Returns (n,) sqrt DTW costs, inf where
    provably > eps.

    BIT-EXACT with the scalar cascade (r18 optimization round, guide
    §4.2): every DP cell evaluates the identical expression with the
    identical operand order — ``d + min(min(prev[j], prev[j-1]),
    cur[j-1]))`` — so IEEE results per window are unchanged, and each
    lower-bound stage prunes exactly the scalar's set (the stages add
    non-negative terms, so 'any partial sum > eps2' ⇔ 'full sum >
    eps2'; the early-abandoned DP rows use the same row-min + suffix
    bound). What changes is the interpreter cost: the scalar path runs
    a ~m·(2ρ+1)-iteration Python loop PER WINDOW (measured ~0.9 ms x
    93k surviving windows = 85 s single-core on the sf0.1 events
    fixture, where the envelope probes prune only 7%); this runs
    m·(2ρ+1) numpy ops over the whole batch, with the abandon mask
    compacting the batch as windows die."""
    n, m = X.shape
    res = np.full(n, np.inf)
    if n == 0:
        return res
    # LB_Kim endpoint hierarchy (full sum; prune decision identical).
    # m < 2 mirrors the scalar _lb_kim's 0.0 guard (ADVICE r18): the
    # endpoint sum below would double-count the single element of a
    # one-point query and falsely prune windows with eps2/2 < d2 <= eps2
    kim = (
        np.zeros(n)
        if m < 2
        else (X[:, 0] - q[0]) ** 2 + (X[:, m - 1] - q[m - 1]) ** 2
    )
    if m >= 6:
        kim = kim + np.minimum(
            np.minimum((X[:, 1] - q[0]) ** 2, (X[:, 0] - q[1]) ** 2),
            (X[:, 1] - q[1]) ** 2,
        )
        kim = kim + np.minimum(
            np.minimum(
                (X[:, m - 2] - q[m - 1]) ** 2, (X[:, m - 1] - q[m - 2]) ** 2
            ),
            (X[:, m - 2] - q[m - 2]) ** 2,
        )
        s3 = (X[:, 0] - q[2]) ** 2
        for e in (
            (X[:, 1] - q[2]) ** 2,
            (X[:, 2] - q[2]) ** 2,
            (X[:, 2] - q[1]) ** 2,
            (X[:, 2] - q[0]) ** 2,
        ):
            s3 = np.minimum(s3, e)
        kim = kim + s3
        s4 = (X[:, m - 1] - q[m - 3]) ** 2
        for e in (
            (X[:, m - 2] - q[m - 3]) ** 2,
            (X[:, m - 3] - q[m - 3]) ** 2,
            (X[:, m - 3] - q[m - 2]) ** 2,
            (X[:, m - 3] - q[m - 1]) ** 2,
        ):
            s4 = np.minimum(s4, e)
        kim = kim + s4
    alive = kim <= eps2
    if not alive.any():
        return res
    idx = np.flatnonzero(alive)
    Xa, WLa, WUa = X[idx], WL[idx], WU[idx]
    # query-side LB_Keogh: windows vs the query's envelope
    cb_q = np.square(
        np.maximum(Xa - hi_env, 0.0) + np.maximum(lo_env - Xa, 0.0)
    )
    lb_q = cb_q.sum(axis=1)
    keep = lb_q <= eps2
    if not keep.any():
        return res
    idx, Xa, WLa, WUa, cb_q, lb_q = (
        idx[keep], Xa[keep], WLa[keep], WUa[keep], cb_q[keep], lb_q[keep]
    )
    # data-side LB_Keogh: the query vs each window's envelope
    cb_d = np.square(
        np.maximum(q[None, :] - WUa, 0.0) + np.maximum(WLa - q[None, :], 0.0)
    )
    lb_d = cb_d.sum(axis=1)
    keep = lb_d <= eps2
    if not keep.any():
        return res
    idx, Xa, cb_q, cb_d, lb_q, lb_d = (
        idx[keep], Xa[keep], cb_q[keep], cb_d[keep], lb_q[keep], lb_d[keep]
    )
    cb = np.where((lb_d > lb_q)[:, None], cb_d, cb_q)
    cb_suffix = np.zeros((len(idx), m + 1))
    cb_suffix[:, :-1] = cb[:, ::-1].cumsum(axis=1)[:, ::-1]
    # banded DP, batched; abandon compacts the active set per row.
    # Layout is TRANSPOSED — (m+1, n_active) — so every DP cell row
    # (prev[j], cur[j-1], the window values at data row i) is a
    # contiguous n-vector, and only the band's rows are (re)written:
    # a (n, m+1) layout with a fresh np.full per data row measured
    # 22.5 s for the sf0.1 fixture's 93k-window batch (column-strided
    # reads + an m x n-buffer allocation per row); this shape runs the
    # identical cells in 0.6 s
    n_act = len(idx)
    XaT = np.ascontiguousarray(Xa.T)
    cbsT = np.ascontiguousarray(cb_suffix.T)
    prev = np.full((m + 1, n_act), np.inf)
    prev[0] = 0.0
    cur = np.full((m + 1, n_act), np.inf)
    for i in range(1, m + 1):
        lo, hi = max(1, i - rho), min(m, i + rho)
        # rows outside [lo, hi] hold stale values from row i-2: the
        # only stale rows the recurrence can READ are lo-1 (as
        # cur[j-1] at j=lo) and, next iteration via prev, hi+1 —
        # reset exactly those to the np.full(inf) the scalar path
        # rebuilds wholesale
        cur[lo - 1] = np.inf
        if hi + 1 <= m:
            cur[hi + 1] = np.inf
        xrow = XaT[i - 1]
        for j in range(lo, hi + 1):
            d = np.square(xrow - q[j - 1])
            cur[j] = d + np.minimum(
                np.minimum(prev[j], prev[j - 1]), cur[j - 1]
            )
        remain = cbsT[min(m, i + rho)]
        ok = cur[lo : hi + 1].min(axis=0) + remain <= eps2
        if not ok.all():
            if not ok.any():
                return res
            idx, XaT, cbsT = idx[ok], XaT[:, ok], cbsT[:, ok]
            cur, prev = cur[:, ok], prev[:, ok]
        prev, cur = cur, prev
    res[idx] = np.sqrt(prev[m])
    return res


def subsequence_match_dtw(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    rho: int,
    chunk: int = DEFAULT_CHUNK,
    index: DataFrame | None = None,
    n_positions: int | None = None,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    index_grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """RSM with banded DTW: LB_Keogh cascade + early abandon, numpy
    over chunked windows (the reference's DtwUtils.java:50-338 cascade
    distributed via mapInPandas).

    With ``index`` (a build_kv_index result), window starts are first
    pruned through envelope-widened mean-range probes
    (dtw_envelope_probes; QueryEngineDtw.java's phase 1) and only
    candidates are verified — exact, the probe bound is complete.
    Pruning power is data-dependent: tight envelopes on smooth series
    prune hard; on noise-like series (e.g. the events fixture, window
    means concentrated ~5x tighter than the eps slack) the probe
    passes most windows through and the LB_Keogh cascade carries the
    filtering, matching the reference's behavior on the same inputs.
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    eps2 = epsilon * epsilon
    lo_env = np.array([q[max(0, j - rho) : j + rho + 1].min() for j in range(m)])
    hi_env = np.array([q[max(0, j - rho) : j + rho + 1].max() for j in range(m)])
    view = np.lib.stride_tricks.sliding_window_view

    def kernel(chunks):
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            # data-side envelope once per chunk, shared by every window
            # (DtwUtils.java:96-134 builds it as the stream arrives);
            # computed over chunk indices, which only WIDENS a window's
            # true envelope at its edges — admissible
            ser = pd.Series(val)
            w = 2 * rho + 1
            u_env_c = ser.rolling(w, min_periods=1, center=True).max().to_numpy()
            l_env_c = ser.rolling(w, min_periods=1, center=True).min().to_numpy()
            # the whole chunk's cascade in one batched numpy pass (the
            # scalar per-window loop measured ~0.9 ms x 93k surviving
            # windows on the sf0.1 fixture — see dtw_cascade_batch)
            d = dtw_cascade_batch(
                view(val, m)[rows],
                q,
                rho,
                eps2,
                lo_env,
                hi_env,
                view(l_env_c, m)[rows],
                view(u_env_c, m)[rows],
            )
            hit = d * d <= eps2
            yield pd.DataFrame(
                {"start": pos[rows][hit], "dist": np.round(d[hit], 6)}
            )

    cands = None
    if index is not None:
        if n_positions is None:
            n_positions = series.count()
        cands = probe_index_ranges(
            index,
            dtw_envelope_probes(list(q), rho, epsilon, widths),
            n_positions,
            m,
            grid=index_grid,
            available_widths=available_widths,
        )
    return _run_chunks(series, m, chunk, kernel, "start long, dist double", cands)


def subsequence_match_znorm(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    chunk: int = DEFAULT_CHUNK,
    value_scale: int | None = None,
) -> DataFrame:
    """NSM: ED between z-normalized window and z-normalized query
    (NormQueryEngine.java semantics: population std, std=0 → unit
    divisor), numpy over chunked windows.

    ``value_scale`` (fixed-decimal data) computes the distance from
    exact integer window sums through the closed form znorm_d2_sql,
    which the DuckDB oracle evaluates identically — bit-reproducible in
    any SQL engine. Windows failing the segment-mean stats screen
    (znorm_segment_prune) skip the O(m) sxq dot product; the screen is
    complete, so results are unchanged."""
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    if value_scale is not None:
        m, sq, sqq = _query_int_sums(query, value_scale)
        sums = window_int_sums(
            series,
            query,
            value_scale,
            chunk,
            prune=znorm_segment_prune(query, epsilon, value_scale),
        )
        return (
            sums.selectExpr("start", f"{znorm_d2_sql(m, sq, sqq)} AS d2")
            .filter(F.col("d2") <= epsilon * epsilon)
            .selectExpr(
                "CAST(start AS BIGINT) AS start", "round(sqrt(d2), 6) AS dist"
            )
        )
    qn = (q - q.mean()) / (q.std() if q.std() > 0 else 1.0)
    sqn, sqq = float(qn.sum()), float(np.dot(qn, qn))
    eps2 = epsilon * epsilon

    def kernel(chunks):
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            # batched over the window axis (r19, guide §4.2): per-window
            # moments + one BLAS matmul instead of materializing
            # normalized windows: with population std, Σxn² = m and
            # Σxn·qn = (Σx·qn − μ·Σqn)/σ, so d² = m − 2·Σxn·qn + Σqn²
            # (σ = 0 → xn = 0 → d² = Σqn²) — the same closed form the
            # exact integer-sum path evaluates, here on float moments
            # (agrees with the scalar loop to ~1e-11 abs; both round to
            # 6dp). The single-pass moments can leave an exact-zero d²
            # (an affine copy of the query) slightly negative, so it is
            # clamped at 0 before the sqrt, as cnsm does.
            X = np.lib.stride_tricks.sliding_window_view(val, m)[rows]
            mu = X.sum(axis=1) / m
            var = np.maximum(np.einsum("ij,ij->i", X, X) / m - mu * mu, 0.0)
            sd = np.sqrt(var)
            pos_sd = sd > 0
            sxq = X @ qn
            d2 = np.maximum(
                np.where(
                    pos_sd,
                    m - 2.0 * (sxq - mu * sqn) / np.where(pos_sd, sd, 1.0) + sqq,
                    sqq,
                ),
                0.0,
            )
            hit = d2 <= eps2
            yield pd.DataFrame(
                {"start": pos[rows][hit], "dist": np.round(np.sqrt(d2[hit]), 6)}
            )

    return _run_chunks(series, m, chunk, kernel, "start long, dist double")


def subsequence_match_cnsm(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    alpha: float = 2.0,
    beta: float = 10.0,
    chunk: int = DEFAULT_CHUNK,
    value_scale: int | None = None,
) -> DataFrame:
    """cNSM (NormQueryEngine.java semantics): windows x matching the
    query under a CONSTRAINED linear normalization — exists a in
    [1/alpha, alpha], b in [-beta, beta] with ||x - (a*q + b)|| <= eps.

    Per window the optimal (a, b) is the least-squares fit (a* =
    cov(x,q)/var(q), b* = mean(x) - a*mean(q)) clamped to the
    constraint box; the residual of the clamped fit is checked against
    eps (convexity: clamping coordinates of the box-constrained
    quadratic keeps the residual minimal on the box edge). Distributed
    over chunked windows like the other numpy paths.

    ``value_scale`` (fixed-decimal data) evaluates the clamped fit from
    exact integer window sums through cnsm_fit_sql — oracle-
    reproducible. The mean/std stats screen (cnsm_stats_prune) drops
    windows before the O(m) sxq dot product; complete, so results are
    unchanged.
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    if value_scale is not None:
        m, sq, sqq = _query_int_sums(query, value_scale)
        sums = window_int_sums(
            series,
            query,
            value_scale,
            chunk,
            prune=cnsm_stats_prune(query, epsilon, alpha, beta, value_scale),
        )
        a_sql, b_sql, d2_sql = cnsm_fit_sql(m, sq, sqq, value_scale, alpha, beta)
        return (
            sums.selectExpr("start", "sx", "sxx", "sxq", f"{a_sql} AS _a")
            .selectExpr("start", "sx", "sxx", "sxq", "_a", f"{b_sql} AS _b")
            .selectExpr("start", "_a", "_b", f"{d2_sql} AS d2")
            .filter(F.col("d2") <= epsilon * epsilon)
            .selectExpr(
                "CAST(start AS BIGINT) AS start",
                "round(sqrt(d2), 6) AS dist",
                "round(_a, 6) AS alpha",
                "round(_b, 6) AS beta",
            )
        )
    qc = q - q.mean()
    qvar = float(np.dot(qc, qc))
    eps2 = epsilon * epsilon
    a_lo, a_hi = 1.0 / alpha, alpha

    qm = float(q.mean())
    sqc = float(qc.sum())
    sq_raw, sqq_raw = float(q.sum()), float(np.dot(q, q))

    def kernel(chunks):
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            # batched over the window axis (r19, guide §4.2): per-window
            # moments + two BLAS matmuls instead of materializing
            # residual windows: a = (Σx·qc − x̄·Σqc) / Σqc², and the
            # residual expands in the window's raw moments — d² = Σx² −
            # 2aΣxq − 2bΣx + a²Σq² + 2abΣq + m·b² (the same expansion
            # the exact integer-sum path evaluates; agrees with the
            # scalar loop to ~1e-9 abs, both round to 6dp)
            X = np.lib.stride_tricks.sliding_window_view(val, m)[rows]
            sx = X.sum(axis=1)
            xm = sx / m
            if qvar > 0:
                a = (X @ qc - xm * sqc) / qvar
            else:
                a = np.ones(len(rows))
            a = np.clip(a, a_lo, a_hi)
            b = np.clip(xm - a * qm, -beta, beta)
            sxx = np.einsum("ij,ij->i", X, X)
            sxq = X @ q
            d2 = np.maximum(
                sxx
                - 2.0 * a * sxq
                - 2.0 * b * sx
                + a * a * sqq_raw
                + 2.0 * a * b * sq_raw
                + m * b * b,
                0.0,
            )
            hit = d2 <= eps2
            yield pd.DataFrame(
                {
                    "start": pos[rows][hit],
                    "dist": np.round(np.sqrt(d2[hit]), 6),
                    "alpha": np.round(a[hit], 6),
                    "beta": np.round(b[hit], 6),
                }
            )

    return _run_chunks(
        series,
        m,
        chunk,
        kernel,
        "start long, dist double, alpha double, beta double",
    )


# ---------------------------------------------------------------------------
# exact (oracle-reproducible) normalized matching — integer window sums
# + closed-form double math evaluated identically in any engine
# ---------------------------------------------------------------------------


def window_int_sums(
    series: DataFrame,
    query: list[float],
    value_scale: int,
    chunk: int = DEFAULT_CHUNK,
    prune=None,
) -> DataFrame:
    """(start, sx, sxx, sxq) for every complete width-m window, where
    sx/sxx/sxq are EXACT int64 sums of scaled values: sx = Σ X[s+i],
    sxx = Σ X[s+i]², sxq = Σ X[s+i]·Q[i] with X = value*scale.

    Integer sums are order-independent, so the distributed chunked
    computation is bit-equal to any SQL engine's GROUP BY sum — the
    foundation that makes the normalized-match closed forms (zNorm,
    cNSM) reproducible in the DuckDB oracle.

    ``prune(sx, sxx, segmean) -> keep mask`` (numpy, per chunk) drops
    windows BEFORE the O(m)-per-window sxq dot product — the engine's
    ENABLE_STD_FILTER analogue (NormQueryEngine.java:54-56). segmean
    (offset, width) -> per-window mean of values[start+offset :
    start+offset+width], from the same cumsum (O(1) per window). The
    mask must be conservative w.r.t. the caller's final exact
    distance filter; pruned windows emit no row at all.
    """
    q = _fixed_decimal(query, value_scale, "query")
    m = len(q)

    def kernel(chunks):
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            X = _fixed_decimal(val, value_scale, "series")
            c1 = np.concatenate(([0], np.cumsum(X)))
            c2 = np.concatenate(([0], np.cumsum(X * X)))
            sx = c1[rows + m] - c1[rows]
            sxx = c2[rows + m] - c2[rows]
            if prune is not None:

                def segmean(offset: int, width: int) -> np.ndarray:
                    return (c1[rows + offset + width] - c1[rows + offset]) / (
                        width * value_scale
                    )

                keep = prune(sx, sxx, segmean)
                rows, sx, sxx = rows[keep], sx[keep], sxx[keep]
            windows = np.lib.stride_tricks.sliding_window_view(X, m)
            sxq = windows[rows] @ q  # int64 matmul, survivors only — exact
            yield pd.DataFrame(
                {"start": pos[rows], "sx": sx, "sxx": sxx, "sxq": sxq}
            )

    return _run_chunks(
        series, m, chunk, kernel, "start long, sx long, sxx long, sxq long"
    )


def znorm_d2_sql(m: int, sq: int | str, sqq: int | str) -> str:
    """SQL for the z-normalized squared distance from exact integer
    window sums (columns sx, sxx, sxq; sq/sqq are the query's own
    exact sums — int literals on the engine side, column refs in the
    DuckDB oracle; equal values give bit-equal doubles either way).

    Derivation: with population std, Σ xn² = Σ qn² = m, so
    d² = 2m(1 − r), r = Cxq/√(Vx·Vq) with V/C the scaled second
    moments (m·Σxx − (Σx)², all exact int64). The same formula runs
    in Spark and DuckDB: identical IEEE ops on identical inputs give
    bit-identical doubles.
    """
    vx = f"({m} * sxx - sx * sx)"
    cxq = f"({m} * sxq - sx * ({sq}))"
    if isinstance(sq, int) and isinstance(sqq, int):
        vq_val = m * sqq - sq * sq
        if vq_val == 0:
            return f"CASE WHEN {vx} = 0 THEN 0.0 ELSE CAST({m} AS DOUBLE) END"
        vq = str(vq_val)
        return (
            f"CASE WHEN {vx} = 0 THEN CAST({m} AS DOUBLE) "
            f"ELSE greatest(2.0 * CAST({m} AS DOUBLE) * "
            f"(1.0 - CAST({cxq} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vq} AS DOUBLE))), 0.0) END"
        )
    vq = f"({m} * ({sqq}) - ({sq}) * ({sq}))"
    return (
        f"CASE WHEN {vx} = 0 AND {vq} = 0 THEN 0.0 "
        f"WHEN {vx} = 0 OR {vq} = 0 THEN CAST({m} AS DOUBLE) "
        f"ELSE greatest(2.0 * CAST({m} AS DOUBLE) * "
        f"(1.0 - CAST({cxq} AS DOUBLE) / "
        f"sqrt(CAST({vx} AS DOUBLE) * CAST({vq} AS DOUBLE))), 0.0) END"
    )


def cnsm_fit_sql(
    m: int,
    sq: int | str,
    sqq: int | str,
    scale: int,
    alpha: float,
    beta: float,
) -> tuple[str, str, str]:
    """(a_sql, b_sql, d2_sql) for the clamped least-squares cNSM fit
    from exact integer window sums — same reproducibility contract as
    znorm_d2_sql. a* = Cxq/Vq clamped to [1/alpha, alpha]; b* =
    mean(x) − a·mean(q) clamped to [−beta, beta]; d² expanded in the
    exact integer moments."""
    cxq = f"({m} * sxq - sx * ({sq}))"
    if isinstance(sq, int) and isinstance(sqq, int):
        vq_val = m * sqq - sq * sq
        if vq_val == 0:
            a_raw = "1.0"
        else:
            a_raw = f"(CAST({cxq} AS DOUBLE) / CAST({vq_val} AS DOUBLE))"
    else:
        vq = f"({m} * ({sqq}) - ({sq}) * ({sq}))"
        a_raw = (
            f"(CASE WHEN {vq} = 0 THEN 1.0 "
            f"ELSE CAST({cxq} AS DOUBLE) / CAST({vq} AS DOUBLE) END)"
        )
    a_sql = f"least(greatest({a_raw}, {1.0 / alpha!r}), {float(alpha)!r})"
    denom = float(scale * m)
    b_raw = (
        f"(CAST(sx AS DOUBLE) / {denom!r} - _a * "
        f"(CAST(({sq}) AS DOUBLE) / {denom!r}))"
    )
    b_sql = f"least(greatest({b_raw}, {-float(beta)!r}), {float(beta)!r})"
    s2 = float(scale * scale)
    d2_sql = (
        f"greatest((CAST(sxx AS DOUBLE) - 2.0 * _a * CAST(sxq AS DOUBLE) "
        f"+ _a * _a * CAST(({sqq}) AS DOUBLE)) / {s2!r} "
        f"- 2.0 * _b * (CAST(sx AS DOUBLE) - _a * CAST(({sq}) AS DOUBLE)) / {float(scale)!r} "
        f"+ CAST({m} AS DOUBLE) * _b * _b, 0.0)"
    )
    return a_sql, b_sql, d2_sql


def _query_int_sums(query: list[float], scale: int) -> tuple[int, int, int]:
    q = _fixed_decimal(query, scale, "query")
    return len(q), int(q.sum()), int((q * q).sum())


_PRUNE_SLACK = 1e-6  # absolute float-evaluation guard on exact bounds


def znorm_segment_prune(
    query: list[float],
    epsilon: float,
    value_scale: int,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
):
    """Conservative keep-mask for z-normalized matching from window
    stats only (no per-element work): if ||x_hat - q_hat|| <= eps then
    for each query segment S, |mean_S(x_hat) - mean_S(q_hat)| <=
    eps/sqrt(|S|) (Cauchy-Schwarz), and mean_S(x_hat) =
    (mean_S(x) - mu_x)/sigma_x is O(1) per window from cumsums — the
    normalized-index probe of NormQueryEngine.java:136-243 re-derived
    against sliding stats instead of a beta-partitioned index file.
    sigma_x ~ 0 windows are kept (the exact formula decides them)."""
    qv = _fixed_decimal(query, value_scale, "query") / value_scale
    m = len(qv)
    qstd = float(qv.std())
    if qstd <= 0:
        return None  # degenerate query: no sound stats bound
    qn = (qv - qv.mean()) / qstd
    segs = [
        (s.offset, s.width, float(qn[s.offset : s.offset + s.width].mean()))
        for s in plan_segments(list(qv), widths)
    ]

    def prune(sx, sxx, segmean):
        mu = sx / (m * value_scale)
        var = np.maximum(sxx / (m * value_scale * value_scale) - mu * mu, 0.0)
        sd = np.sqrt(var)
        degenerate = sd <= _PRUNE_SLACK
        keep = degenerate.copy()
        ok = ~degenerate
        sd_safe = np.where(degenerate, 1.0, sd)
        all_in = np.ones(len(sx), dtype=bool)
        for offset, width, qhm in segs:
            bound = epsilon / math.sqrt(width) + _PRUNE_SLACK
            all_in &= np.abs((segmean(offset, width) - mu) / sd_safe - qhm) <= bound
        keep |= ok & all_in
        return keep

    return prune


def cnsm_stats_prune(
    query: list[float],
    epsilon: float,
    alpha: float,
    beta: float,
    value_scale: int,
):
    """Conservative keep-mask for cNSM from window mean/std only: a
    match means exists a in [1/alpha, alpha], b in [-beta, beta] with
    ||x - (a q + b)|| <= eps, which forces
    mean(x) in [min_a(a mu_q) - beta - eps/sqrt(m),
                max_a(a mu_q) + beta + eps/sqrt(m)] and
    std(x)  in [sigma_q/alpha - eps/sqrt(m),
                alpha sigma_q + eps/sqrt(m)]
    (|mean r| <= eps/sqrt(m), std r <= eps/sqrt(m) for ||r|| <= eps)
    — the ENABLE_STD_FILTER screen (NormQueryEngine.java:54-56)."""
    qv = _fixed_decimal(query, value_scale, "query") / value_scale
    m = len(qv)
    mq, sq_ = float(qv.mean()), float(qv.std())
    slack = epsilon / math.sqrt(m) + _PRUNE_SLACK
    a_lo, a_hi = 1.0 / alpha, alpha
    mu_lo = min(a_lo * mq, a_hi * mq) - beta - slack
    mu_hi = max(a_lo * mq, a_hi * mq) + beta + slack
    sd_lo = sq_ / alpha - slack
    sd_hi = alpha * sq_ + slack

    def prune(sx, sxx, segmean):
        mu = sx / (m * value_scale)
        var = np.maximum(sxx / (m * value_scale * value_scale) - mu * mu, 0.0)
        sd = np.sqrt(var)
        return (mu >= mu_lo) & (mu <= mu_hi) & (sd >= sd_lo) & (sd <= sd_hi)

    return prune


def brute_force_ed(series_values: np.ndarray, query: np.ndarray, epsilon: float):
    """O(n*m) numpy reference scan (test oracle)."""
    n, m = len(series_values), len(query)
    out = []
    for s in range(n - m + 1):
        d2 = float(np.dot(series_values[s : s + m] - query, series_values[s : s + m] - query))
        if d2 <= epsilon * epsilon:
            out.append((s, round(math.sqrt(d2), 6)))
    return out
