"""S3M online-learning pipeline: subsequence match + delayed-label
streaming linear regression (SURVEY §3.3).

Reference (kvscala/s3m.scala:79-147): per sliding window, kv-match
the window against the stored series, fetch the matched sequence's
*future* points, build feature vector Qs++Ds, queue it until the
prediction target (which arrives ``pred`` steps later) is observable,
then predict + warm-start-train an SGD linear model
(StreamingLinearRegressionWithSGD_dsl.scala:153-173).

Engine mapping: the per-window best-match search runs DISTRIBUTED in
one pass over chunked stored-series windows (numpy inside
mapInPandas, all query windows scored per chunk, then a min_by
aggregation); the reference instead ran a single-node Java engine on
the driver (S3M's acknowledged inversion). The SGD model itself is
tiny (dim ~ window+pred) and stays driver-side like the reference's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_best_match(
    series: DataFrame,
    windows: dict[int, np.ndarray],
    chunk: int = 8192,
    value_scale: int | None = None,
) -> dict[int, tuple[int, float, float]]:
    """Best (ED) match offset in ``series`` for every query window:
    one distributed pass; all windows scored per chunk; min_by merge.

    With ``value_scale`` (fixed-decimal data, e.g. 100 for 2-decimal
    values), squared distances are EXACT int64 sums of scaled values —
    order-independent, so the argmin (ties broken by lowest position)
    is bit-reproducible in any SQL engine; d2 stays < 2^53 so the
    double-typed merge column is exact. Without it, float64 sums (the
    generic path; argmin then carries the usual summation-order
    caveat).

    Returns {window_id: (best_pos, best_dist, best_d2)} where best_d2
    is the squared distance in scaled units (= dist^2 without scaling).
    """
    if not windows:
        return {}
    m = len(next(iter(windows.values())))
    items = sorted((int(k), np.asarray(v, dtype=np.float64)) for k, v in windows.items())
    if value_scale is not None:
        scaled = [(k, v * value_scale) for k, v in items]
        # the exactness contract is data-dependent: fail LOUDLY when
        # the data is not fixed-decimal at this scale instead of
        # silently degrading to approximately-rounded integers
        for k, sv in scaled:
            if len(sv) and float(np.abs(sv - np.rint(sv)).max()) > 1e-6:
                raise ValueError(
                    f"value_scale={value_scale} but window {k} is not "
                    "fixed-decimal at that scale"
                )
        items = [(k, np.rint(sv).astype(np.int64)) for k, sv in scaled]
    _q_absmax = max(
        (float(np.abs(q).max()) for _, q in items if len(q)), default=0.0
    )

    from distributed_stream_processing_spark.operators.subsequence_match import _chunked

    def gen(batches):
        # a chunk's rows can span several Arrow record batches of the
        # partition (spark.sql.execution.arrow.maxRecordsPerBatch), and
        # a window straddling two of them was never scored: gather the
        # partition's record batches first (no extra shuffle or sort)
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        for cid, grp in pdf.groupby("chunk_id"):
            grp = grp.sort_values("pos")
            pos = grp["pos"].to_numpy()
            val = grp["value"].to_numpy(dtype=np.float64)
            base, hi = int(cid) * chunk, (int(cid) + 1) * chunk
            if len(val) < m:
                continue
            if value_scale is not None:
                sv = val * value_scale
                if len(sv) and float(np.abs(sv - np.rint(sv)).max()) > 1e-6:
                    raise ValueError(
                        f"value_scale={value_scale} but series values "
                        "are not fixed-decimal at that scale"
                    )
                val = np.rint(sv).astype(np.int64)
                # int64-exactness guard: the double-typed merge
                # column is exact only while d2 < 2^53
                dmax = float(np.abs(val).max()) + _q_absmax
                if dmax * dmax * m >= 2.0**53:
                    raise ValueError(
                        "scaled |diff|^2 * m may exceed 2^53 — exact "
                        "int64 distance contract would break; lower "
                        "value_scale or shorten the window"
                    )
            X = np.lib.stride_tricks.sliding_window_view(val, m)
            starts = pos[: len(val) - m + 1]
            own = (
                (starts >= base)
                & (starts < hi)
                & (pos[m - 1 :] == starts + m - 1)
            )
            if not own.any():
                continue
            Xo, so = X[own], starts[own]
            wids, bpos, bd2 = [], [], []
            for wid, q in items:
                d2 = ((Xo - q) ** 2).sum(axis=1)
                i = int(np.argmin(d2))
                wids.append(wid)
                bpos.append(int(so[i]))
                bd2.append(float(d2[i]))
            yield pd.DataFrame({"window_id": wids, "pos": bpos, "d2": bd2})

    per_chunk = (
        _chunked(series, m, 0, chunk)
        .repartition("chunk_id")
        .mapInPandas(gen, schema="window_id long, pos long, d2 double")
    )
    best = (
        per_chunk.groupBy("window_id")
        .agg(F.min(F.struct("d2", "pos")).alias("b"))
        .select("window_id", "b.pos", "b.d2")
    )
    scale = float(value_scale) if value_scale is not None else 1.0
    return {
        r.window_id: (r.pos, float(np.sqrt(r.d2)) / scale, r.d2)
        for r in best.collect()
    }


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
