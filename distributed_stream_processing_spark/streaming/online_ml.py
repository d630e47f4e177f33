"""S3M online-learning pipeline: subsequence match + delayed-label
streaming linear regression (SURVEY §3.3).

Reference (kvscala/s3m.scala:79-147): per sliding window, kv-match
the window against the stored series, fetch the matched sequence's
*future* points, build feature vector Qs++Ds, queue it until the
prediction target (which arrives ``pred`` steps later) is observable,
then predict + warm-start-train an SGD linear model
(StreamingLinearRegressionWithSGD_dsl.scala:153-173).

Engine mapping: the per-window best-match search runs DISTRIBUTED in
one pass over the stored series' chunk layout, kept from its second
use on, as the reference loads its stored series into KV-match once
(numpy inside mapInPandas, all query windows scored per chunk; each
partition keeps its per-window minimum and the driver merges those, at
most one row per window per partition). A fixed-decimal ED range
query of the same width reads that kept layout too and scores every
window of it, as it does on every pass. The reference instead ran a
single-node Java engine on the driver (S3M's acknowledged inversion).
The SGD model itself is tiny (dim ~ window+pred) and stays driver-side
like the reference's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.subsequence_match import (
    DEFAULT_CHUNK,
    _fixed_decimal,
    _fixed_decimal_d2,
    _run_chunks,
)


def batch_best_match(
    series: DataFrame,
    windows: dict[int, np.ndarray],
    chunk: int = DEFAULT_CHUNK,
    value_scale: int | None = None,
) -> dict[int, tuple[int, float, float]]:
    """Best (ED) match offset in ``series`` for every query window:
    one distributed pass over the series' chunk layout; all windows
    are scored per chunk.

    The layout (operators.subsequence_match._series_layout) is the
    stored series cut into overlapping chunks and partitioned by chunk.
    The first call on a series object builds it inside its plan (ONE
    exchange: a shuffle-map job plus the result job); from the second
    call on it is a kept leaf, and a call is one narrow mapInPandas:
    one job and no exchange. An ED range query over the same series
    and window width at the default chunk
    (operators.subsequence_match.subsequence_match_ed with
    ``value_scale``) reads the same layout: a best match followed by a
    range query keeps it on the query, which then scores every window
    of it in one job with no exchange. A window longer than
    ``chunk`` + 1 points raises ValueError (the overlap reaches one
    chunk back).

    The merge runs in two steps, with no aggregation exchange: each
    partition emits one row per window, its (d2, pos) minimum over the
    partition's chunks, and the driver merges those rows. At most P·W
    rows reach the driver, where P is the layout's partition count and
    W = len(windows), which the caller already holds on the driver.
    Ties go to the lowest position.

    With ``value_scale`` (fixed-decimal data, e.g. 100 for 2-decimal
    values), squared distances are EXACT int64 sums of scaled values —
    order-independent, so the argmin (ties broken by lowest position)
    is bit-reproducible in any SQL engine; d2 stays < 2^53 so the
    double-typed merge column is exact. They come from prefix sums and
    one correlation per window (_fixed_decimal_d2), so a task holds
    O(chunk) values per window, not a chunk x m gather. Without it,
    float64 sums over the gathered windows (the generic path; argmin
    then carries the usual summation-order caveat).

    Returns {window_id: (best_pos, best_dist, best_d2)} where best_d2
    is the squared distance in scaled units (= dist^2 without scaling).
    """
    if not windows:
        return {}
    items = sorted((int(k), np.asarray(v, dtype=np.float64)) for k, v in windows.items())
    ids = [k for k, _ in items]
    if value_scale is not None:
        Q = np.stack([_fixed_decimal(v, value_scale, f"window {k}") for k, v in items])
    else:
        Q = np.stack([v for _, v in items])
    m = Q.shape[1]

    def kernel(chunks):
        # each chunk's per-window minimum; one row per window per
        # partition leaves the task
        found = []
        for _base, pos, val, rows in chunks:
            if not len(rows):
                continue
            if value_scale is not None:
                cents = _fixed_decimal(val, value_scale, "series", against=Q)
                D2 = _fixed_decimal_d2(cents, rows, Q)
            else:
                X = np.lib.stride_tricks.sliding_window_view(val, m)[rows]
                D2 = (((X - q) ** 2).sum(axis=1) for q in Q)
            for wid, d2 in zip(ids, D2):
                i = int(np.argmin(d2))  # first minimum: lowest position
                found.append((wid, int(pos[rows[i]]), float(d2[i])))
        if found:
            pdf = pd.DataFrame(found, columns=["window_id", "pos", "d2"])
            yield pdf.sort_values(["d2", "pos"]).drop_duplicates("window_id")

    rows = _run_chunks(
        series, m, chunk, kernel, "window_id long, pos long, d2 double"
    ).collect()
    # driver merge of the per-partition minima: the first row per
    # window in (d2, pos) order, so ties go to the lowest position
    scale = float(value_scale) if value_scale is not None else 1.0
    best: dict[int, tuple[int, float, float]] = {}
    for r in sorted(rows, key=lambda r: (r.d2, r.pos)):
        best.setdefault(r.window_id, (r.pos, float(np.sqrt(r.d2)) / scale, r.d2))
    return best


@dataclass
class OnlineLinearRegressionSGD:
    """Warm-started mini-batch SGD linear regression (the numpy
    equivalent of MLlib's StreamingLinearRegressionWithSGD: weights
    carried across batches, fixed step size, L2-free)."""

    dim: int
    step_size: float = 0.01
    num_iterations: int = 20
    weights: np.ndarray = field(default=None)  # type: ignore[assignment]
    intercept: float = 0.0

    def __post_init__(self):
        if self.weights is None:
            self.weights = np.zeros(self.dim)

    def predict(self, x: np.ndarray) -> float:
        return float(np.dot(self.weights, x) + self.intercept)

    def train(self, X: np.ndarray, y: np.ndarray) -> None:
        n = len(y)
        for it in range(1, self.num_iterations + 1):
            pred = X @ self.weights + self.intercept
            err = pred - y
            gw = X.T @ err / n
            gb = float(err.mean())
            lr = self.step_size / np.sqrt(it)
            self.weights -= lr * gw
            self.intercept -= lr * gb


def _fetch_ranges(
    series: DataFrame, ranges: list[tuple[int, int, int]]
) -> dict[int, np.ndarray]:
    """Fetch {rid: values[lo:hi]} from a (pos, value) series via one
    broadcast range join — the J12 as-of fetch shape (pos BETWEEN),
    so only the requested slices ever reach the driver."""
    if not ranges:
        return {}
    spark = series.sparkSession
    rdf = spark.createDataFrame(ranges, "rid long, lo long, hi long")
    rows = (
        series.join(
            F.broadcast(rdf),
            (F.col("pos") >= F.col("lo")) & (F.col("pos") < F.col("hi")),
        )
        .select("rid", "pos", "value")
        .collect()
    )
    grouped: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        grouped.setdefault(r.rid, []).append((r.pos, r.value))
    return {
        k: np.array([v for _, v in sorted(vs)], dtype=np.float64)
        for k, vs in grouped.items()
    }


def _s3m_prep(
    series: DataFrame,
    split_frac: float,
    window_size: int,
    slide: int,
    pred: int,
    n_windows: int,
    value_scale: int | None,
):
    """Shared stream-window setup: split point, window metadata, the
    fetched window+label slices, and the distributed best matches.

    The split offset is computed in exact rational arithmetic
    (floor(n * p/q)) so an SQL twin using integer division lands on
    the same row — float n*0.6 rounds DOWN through IEEE for some n
    (e.g. 10000*0.6 = 5999.999...) while SQL decimals don't.
    """
    from fractions import Fraction

    n = series.agg(F.max("pos")).first()[0] + 1
    fr = Fraction(split_frac).limit_denominator(1000)
    split = n * fr.numerator // fr.denominator
    stored_df = series.filter(F.col("pos") < split)

    # stream-window + label slices: one broadcast range join, only
    # ~n_windows*(m+pred) feature rows reach the driver (the round-1
    # full-series orderBy().collect() is gone)
    m = window_size
    meta: dict[int, int] = {}
    for i in range(n_windows):
        start = split + i * slide
        if start + m + pred >= n:
            break
        meta[i] = start
    slices = _fetch_ranges(
        series, [(i, s, s + m + pred) for i, s in meta.items()]
    )
    windows = {i: slices[i][:m] for i in meta}
    matches = batch_best_match(stored_df, windows, value_scale=value_scale)
    return n, split, meta, slices, matches


def s3m_match_table(
    series: DataFrame,
    split_frac: float = 0.6,
    window_size: int = 50,
    slide: int = 100,
    pred: int = 10,
    n_windows: int = 12,
    value_scale: int = 100,
) -> DataFrame:
    """The oracle-checkable core of the S3M pipeline (the kv-match
    search, S3M/src/main/scala/kvscala/s3m.scala:89-118): per stream
    window, the argmin-ED match position in the stored head plus the
    delayed label the trainer will observe.

    Exact scaled-int squared distances make the argmin (ties -> lowest
    position) and round(sqrt(d2)/scale, 6) bit-reproducible in a SQL
    twin; the SGD trajectory on top stays pytest-verified
    (run_s3m_pipeline). Output: (window_id, pos, match_pos,
    match_dist, label).
    """
    spark = series.sparkSession
    m = window_size
    _n, _split, meta, slices, matches = _s3m_prep(
        series, split_frac, window_size, slide, pred, n_windows, value_scale
    )
    rows = []
    for i in sorted(meta):
        if i not in matches:
            continue
        sl = slices[i]
        label = float(sl[m + pred - 1] - sl[m + pred - 2])
        rows.append(
            (int(i), int(meta[i]), int(matches[i][0]), float(matches[i][2]), label)
        )
    schema = "window_id long, pos long, match_pos long, d2 double, label_raw double"
    if not rows:
        return spark.createDataFrame([], schema).select(
            "window_id",
            "pos",
            "match_pos",
            F.lit(0.0).alias("match_dist"),
            F.lit(0.0).alias("label"),
        )
    return spark.createDataFrame(rows, schema).select(
        "window_id",
        "pos",
        "match_pos",
        F.round(F.sqrt("d2") / value_scale, 6).alias("match_dist"),
        F.round("label_raw", 6).alias("label"),
    )


def run_s3m_pipeline(
    series: DataFrame,
    split_frac: float = 0.6,
    window_size: int = 50,
    slide: int = 100,
    pred: int = 10,
    q_size: int = 3,
    n_windows: int = 12,
    step_size: float = 0.05,
    num_iterations: int = 10,
    value_scale: int | None = None,
) -> list[dict]:
    """Replay the tail of ``series`` as a window stream against its
    stored head; returns the per-window prediction trajectory
    [{window_id, pos, match_pos, match_dist, prediction, label}].

    Deltas (rate-of-change, kvscala/s3m.scala:93-96) are the modeled
    signal. Labels arrive ``pred`` positions after the window ends;
    training is delayed through a depth-``q_size`` queue exactly like
    the reference (s3m.scala:77,100-124).

    ``value_scale`` defaults to None (true float ED matching, any
    series); pass 100 only for fixed-2-decimal data, where it makes
    the match core bit-reproducible (the gated q35 path does this via
    s3m_match_table) — batch_best_match rejects non-fixed-decimal
    input loudly rather than quantizing it.
    """
    m = window_size
    n, split, meta, slices, matches = _s3m_prep(
        series, split_frac, window_size, slide, pred, n_windows, value_scale
    )
    # future points of each matched stored sequence (J12 as-of fetch)
    futures = _fetch_ranges(
        series,
        [
            (i, matches[i][0] + m - 1, matches[i][0] + m + pred)
            for i in sorted(meta)
            if i in matches
        ],
    )

    feat_dim = (m - 1) + pred
    model = OnlineLinearRegressionSGD(
        dim=feat_dim, step_size=step_size, num_iterations=num_iterations
    )
    queue: list[tuple[int, np.ndarray, float]] = []
    out: list[dict] = []
    for i in sorted(meta):
        sl = slices[i]
        qs = np.diff(sl[:m])  # stream window deltas
        fut = futures.get(i, np.empty(0))
        ds = np.diff(fut) if len(fut) == pred + 1 else np.zeros(pred)
        x = np.concatenate([qs, ds])
        label = sl[m + pred - 1] - sl[m + pred - 2]
        queue.append((i, x, label))
        if len(queue) > q_size:
            wid, xq, yq = queue.pop(0)
            p = model.predict(xq)
            model.train(xq[None, :], np.array([yq]))
            out.append(
                {
                    "window_id": int(wid),
                    "pos": int(meta[wid]),
                    "match_pos": int(matches.get(wid, (0, 0.0, 0.0))[0]),
                    "match_dist": round(float(matches.get(wid, (0, 0.0, 0.0))[1]), 6),
                    "prediction": float(p),
                    "label": float(yq),
                }
            )
    return out
