"""Subsequence matching vs numpy brute-force oracles (SURVEY §5:
O(nm) ED/DTW scan as the reference implementation)."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.subsequence_match import (
    brute_force_ed,
    build_kv_index,
    plan_segments,
    subsequence_match_dtw,
    subsequence_match_ed,
    subsequence_match_znorm,
)

N, M = 3000, 60
CHUNK = 512  # small chunk so boundary replication is exercised


@pytest.fixture(scope="module")
def series(spark):
    rng = random.Random(5)
    vals = []
    x = 0.0
    for _ in range(N):
        x += rng.gauss(0, 1)
        vals.append(round(x, 2))
    # plant a noisy copy of [500:560] at 2000 (near match, eps-close)
    for i in range(M):
        vals[2000 + i] = round(vals[500 + i] + rng.gauss(0, 0.05), 2)
    arr = np.array(vals)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, value double"
    )
    df.cache().count()
    return df, arr


def _fresh_series(spark, vals):
    """A new series object, so its ED range query takes the first-pass
    plan that probes the index (over a kept layout, every window is
    scored instead)."""
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )


def test_index_covers_all_positions(spark, series):
    df, _ = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    for w in (25, 50):
        rows = idx.filter(F.col("w") == w).collect()
        covered = sorted(
            p for r in rows for p in range(r.pos_start, r.pos_end + 1)
        )
        assert covered == list(range(N - w + 1))  # disjoint + complete


def test_ed_match_equals_brute_force(spark, series):
    _, arr = series
    df = _fresh_series(spark, arr)
    q = arr[500 : 500 + M].tolist()
    eps = 1.0  # catches the exact match and the planted noisy copy
    got = sorted((r.start, r.dist) for r in
                 subsequence_match_ed(df, q, eps, widths=(25, 50), value_scale=100).collect())
    want = brute_force_ed(arr, np.array(q), eps)
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gs, gd), (ws, wd) in zip(got, want):
        assert math.isclose(gd, wd, abs_tol=1e-6)
    assert {g[0] for g in got} >= {500, 2000}


def test_ed_match_wide_epsilon(spark, series):
    """Larger eps: pruning keeps every brute-force hit (completeness)."""
    _, arr = series
    df = _fresh_series(spark, arr)
    q = arr[700 : 700 + M].tolist()
    eps = 8.0
    got = {r.start for r in
           subsequence_match_ed(df, q, eps, widths=(25, 50), value_scale=100).collect()}
    want = {s for s, _ in brute_force_ed(arr, np.array(q), eps)}
    assert got == want and len(want) > 1


def test_plan_segments_disjoint_cover():
    q = list(range(130))
    segs = plan_segments(q, widths=(25, 50))
    spans = [(s.offset, s.offset + s.width) for s in segs]
    assert spans[0][0] == 0
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert c == b
    assert spans[-1][1] <= 130 and 130 - spans[-1][1] < 25


def test_dtw_equals_brute_force(spark, series):
    df, arr = series
    q = arr[500 : 500 + M]
    rho, eps = 3, 4.0

    def dtw_ref(x, q, rho):
        m = len(q)
        D = np.full((m + 1, m + 1), np.inf)
        D[0, 0] = 0.0
        for i in range(1, m + 1):
            for j in range(max(1, i - rho), min(m, i + rho) + 1):
                d = (x[i - 1] - q[j - 1]) ** 2
                D[i, j] = d + min(D[i - 1, j], D[i - 1, j - 1], D[i, j - 1])
        return math.sqrt(D[m, m])

    want = {
        s: round(dtw_ref(arr[s : s + M], q, rho), 6)
        for s in range(N - M + 1)
        if dtw_ref(arr[s : s + M], q, rho) <= eps
    }
    got = {r.start: r.dist for r in
           subsequence_match_dtw(df, q.tolist(), eps, rho, chunk=CHUNK).collect()}
    assert set(got) == set(want)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)


def test_dtw_index_probe_equals_full_scan(spark, series):
    """The envelope-widened mean-range probe (QueryEngineDtw phase 1)
    must not change DTW results, and on this random-walk series (whose
    window means spread widely) it must prune hard."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        dtw_envelope_probes,
        probe_index_ranges,
    )

    df, arr = series
    q = arr[500 : 500 + M]
    rho, eps = 3, 4.0
    widths = (25, 50)
    full = {r.start: r.dist for r in
            subsequence_match_dtw(df, q.tolist(), eps, rho, chunk=CHUNK).collect()}
    idx = build_kv_index(df, widths=widths, value_scale=100)
    probed = {r.start: r.dist for r in
              subsequence_match_dtw(
                  df, q.tolist(), eps, rho, chunk=CHUNK,
                  index=idx, n_positions=N, widths=widths,
              ).collect()}
    assert probed == full and len(full) > 0
    n_cand = probe_index_ranges(
        idx, dtw_envelope_probes(q.tolist(), rho, eps, widths), N, M
    ).count()
    assert n_cand < 0.2 * (N - M + 1)  # candidates << window count


def test_normalized_prunes_complete_and_selective(series):
    """znorm/cnsm stats screens: never drop a true match; prune most
    windows on the random-walk fixture (numpy-level check)."""
    import numpy as np

    from distributed_stream_processing_spark.operators.subsequence_match import (
        cnsm_stats_prune,
        znorm_segment_prune,
    )

    _, arr = series
    q = arr[500 : 500 + M]
    scale = 100
    X = np.rint(arr * scale).astype(np.int64)
    c1 = np.concatenate(([0], np.cumsum(X)))
    c2 = np.concatenate(([0], np.cumsum(X * X)))
    idx = np.arange(N - M + 1)
    sx, sxx = c1[idx + M] - c1[idx], c2[idx + M] - c2[idx]

    def segmean(offset, width):
        return (c1[idx + offset + width] - c1[idx + offset]) / (width * scale)

    xs = np.rint(arr * scale) / scale
    sw = np.lib.stride_tricks.sliding_window_view(xs, M)
    qv = np.rint(q * scale) / scale
    qn = (qv - qv.mean()) / qv.std()

    # two w=25 segments: a single near-window-length segment would be
    # vacuous (z-normalized means are ~0 by construction); per-segment
    # normalized shape means are what discriminate
    eps = 1.0
    keep = znorm_segment_prune(q.tolist(), eps, scale, (25,))(sx, sxx, segmean)
    sds = sw.std(axis=1)
    xn = (sw - sw.mean(axis=1, keepdims=True)) / np.where(
        sds > 0, sds, 1.0
    )[:, None]
    d = np.sqrt(((xn - qn) ** 2).sum(axis=1))
    assert (d <= eps).any()  # the planted near-copy matches
    assert keep[d <= eps].all()  # complete
    assert keep.mean() < 0.2  # selective on spread-out means

    eps_c, al, be = 4.0, 2.0, 1.0
    keep_c = cnsm_stats_prune(q.tolist(), eps_c, al, be, scale)(sx, sxx, segmean)
    qc = qv - qv.mean()
    qvar = float(np.dot(qc, qc))
    a = np.clip(((sw - sw.mean(axis=1, keepdims=True)) @ qc) / qvar, 1 / al, al)
    b = np.clip(sw.mean(axis=1) - a * qv.mean(), -be, be)
    r = sw - (a[:, None] * qv + b[:, None])
    d_c = np.sqrt((r * r).sum(axis=1))
    assert keep_c[d_c <= eps_c].all()  # complete
    assert keep_c.mean() < 0.2  # mean/std screen selective here


def test_znorm_equals_brute_force(spark, series):
    df, arr = series
    q = arr[500 : 500 + M]
    qn = (q - q.mean()) / q.std()
    eps = 5.0
    want = {}
    for s in range(N - M + 1):
        x = arr[s : s + M]
        sd = x.std()
        xn = (x - x.mean()) / (sd if sd > 0 else 1.0)
        d = math.sqrt(float(np.dot(xn - qn, xn - qn)))
        if d <= eps:
            want[s] = round(d, 6)
    got = {r.start: r.dist for r in
           subsequence_match_znorm(df, q.tolist(), eps, chunk=CHUNK).collect()}
    assert set(got) == set(want)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)


def test_znorm_exact_equals_numpy_path(spark, series):
    """The closed-form integer-sum zNorm path (value_scale,
    oracle-reproducible) must agree with the float z-normalization to
    float tolerance."""
    df, arr = series
    q = arr[500 : 500 + M]
    eps = 5.0
    base = {r.start: r.dist for r in
            subsequence_match_znorm(df, q.tolist(), eps, chunk=CHUNK).collect()}
    exact = {r.start: r.dist for r in
             subsequence_match_znorm(
                 df, q.tolist(), eps, chunk=CHUNK, value_scale=100
             ).collect()}
    assert set(exact) == set(base) and len(base) > 0
    for s in base:
        assert math.isclose(exact[s], base[s], abs_tol=1e-5)


def test_dp_segmenter_equals_greedy_results(spark, series):
    """DP segmentation is a cost optimization only — match results
    must be identical to the greedy segmentation (both complete)."""
    _, arr = series
    q = arr[700 : 700 + M].tolist()
    eps = 8.0
    greedy = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            _fresh_series(spark, arr), q, eps, widths=(25, 50), value_scale=100
        ).collect()
    }
    dp = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            _fresh_series(spark, arr), q, eps, widths=(25, 50), value_scale=100,
            segmenter="dp",
        ).collect()
    }
    assert dp == greedy and len(greedy) > 0


def test_dp_segments_cover_disjointly(spark, series):
    from distributed_stream_processing_spark.operators.subsequence_match import (
        build_kv_index,
        index_stats,
        plan_segments_dp,
    )

    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    stats = index_stats(idx)
    q = arr[100:220].tolist()
    segs = plan_segments_dp(q, (25, 50), stats, epsilon=5.0)
    spans = [(s.offset, s.offset + s.width) for s in segs]
    assert spans[0][0] == 0
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert c == b
    assert 120 - spans[-1][1] < 25


def test_cnsm_equals_brute_force(spark, series):
    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_cnsm,
    )

    df, arr = series
    q = arr[500 : 500 + M]
    eps, alpha, beta = 2.0, 2.0, 10.0
    # plant a scaled+shifted copy: x = 1.5*q + 3 at 1000
    import numpy as np

    scaled = np.round(1.5 * q + 3.0, 2)
    rows = [(int(2900 + i), float(v)) for i, v in enumerate(scaled)]
    extra = spark.createDataFrame(rows, "pos long, value double")
    # positions 2900.. overlap the fixture tail; rebuild a standalone series
    vals2 = np.concatenate([arr[:2900], scaled, arr[2900 + M :]])
    df2 = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals2)], "pos long, value double"
    )

    qc = q - q.mean()
    qvar = float(np.dot(qc, qc))
    want = {}
    for s in range(len(vals2) - M + 1):
        x = vals2[s : s + M]
        a = float(np.dot(x - x.mean(), qc) / qvar)
        a = min(max(a, 1 / alpha), alpha)
        b = min(max(x.mean() - a * q.mean(), -beta), beta)
        r = x - (a * q + b)
        d = float(np.dot(r, r)) ** 0.5
        if d <= eps:
            want[s] = round(d, 6)
    got = {
        r.start: r.dist
        for r in subsequence_match_cnsm(
            df2, q.tolist(), eps, alpha, beta, chunk=CHUNK
        ).collect()
    }
    assert set(got) == set(want)
    assert 2900 in got  # the planted scaled+shifted copy is found
    assert 500 in got  # the identity match too (alpha=1, beta=0)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)

    # the closed-form integer-sum path (oracle-reproducible) agrees
    exact = {
        r.start: (r.dist, r.alpha, r.beta)
        for r in subsequence_match_cnsm(
            df2, q.tolist(), eps, alpha, beta, chunk=CHUNK, value_scale=100
        ).collect()
    }
    assert set(exact) == set(want)
    for s in want:
        assert math.isclose(exact[s][0], want[s], abs_tol=1e-5)


def test_index_save_load_probe_roundtrip(spark, series, tmp_path):
    """S9 parity (IndexFileOperator.java:127-170): probing a reloaded
    index gives exactly the probe-on-built result."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        load_kv_index,
        save_kv_index,
    )

    df, arr = series
    q = arr[500 : 500 + M].tolist()
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    path = str(tmp_path / "kvidx")
    save_kv_index(idx, path)
    idx2 = load_kv_index(spark, path)

    def run(index):
        return sorted(
            (r.start, round(r.dist, 6))
            for r in subsequence_match_ed(
                df, q, 1.0, widths=(25, 50), index=index,
                available_widths={25, 50},
            ).collect()
        )

    built, loaded = run(idx), run(idx2)
    assert built == loaded
    assert {s for s, _ in built} >= {500, 2000}


def test_probe_equals_numpy_candidates(spark, series, probe_reference):
    """The interval sweep-line probe admits exactly the starts a numpy
    intersection of the collected index rows admits, for k = 1, 2 and
    4 query segments — including covered ranges that cross a sweep
    bucket boundary, which the sweep closes from the next bucket."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        probe_index,
    )

    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100).cache()
    rows = idx.collect()
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    crossed = False
    cases = (
        # (query start, query length, segment widths, eps, segments)
        (500, M, (25, 50), 1.0, 1),
        (0, M, (25, 50), 3.0, 1),
        (0, M, (25,), 12.0, 2),
        (700, 100, (50,), 8.0, 2),
        (500, 100, (25,), 20.0, 4),
    )
    for qstart, m, widths, eps, k in cases:
        q = arr[qstart : qstart + m].tolist()
        segs = plan_segments(q, widths)
        assert len(segs) == k
        got = sorted(
            r.start
            for r in probe_index(
                idx, segs, eps, N, m, available_widths={25, 50}
            ).collect()
        )
        want = probe_reference(rows, segs, eps, N, m)
        assert got == want and want
        if k > 1:
            # a covered run [s, e] has its events at s and e + 1; the
            # sweep buckets positions over [0, N - m + 1]
            span = N - m + 2
            runs = np.split(want, np.flatnonzero(np.diff(want) > 1) + 1)
            crossed |= any(
                min(n_parts - 1, r[0] * n_parts // span)
                != min(n_parts - 1, (r[-1] + 1) * n_parts // span)
                for r in runs
            )
    assert crossed
    idx.unpersist()


def test_t11_truncation_cost_model():
    """T11 early probe termination: useless segments (covering the
    whole series — zero marginal pruning) are dropped, selective
    segments are kept, at least one probe always survives, and the
    kept probes stay offset-ordered."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        Segment,
        truncate_segments_cost,
    )

    n = 100_000
    # stats: width 25 has one bucket covering EVERYTHING (useless
    # probes) except around mean 0 where coverage is tiny (selective)
    stats = {25: [(-2.0, 50), (0.0, 50), (2.0, 50), (40.0, n)]}
    segs = [
        Segment(0, 25, 40.0),   # useless: covers ~all positions
        Segment(25, 25, 0.0),   # selective: ~150 positions
        Segment(50, 25, 40.0),  # useless again
    ]
    kept = truncate_segments_cost(segs, stats, epsilon=5.0, n_positions=n)
    assert [s.offset for s in kept] == [25]  # only the selective probe pays
    # all-selective: every added probe keeps paying -> all kept
    stats2 = {25: [(0.0, 2000), (2.0, 2000)]}
    segs2 = [Segment(0, 25, 0.0), Segment(25, 25, 2.0), Segment(50, 25, 0.0)]
    kept2 = truncate_segments_cost(segs2, stats2, epsilon=5.0, n_positions=n)
    assert [s.offset for s in kept2] == [0, 25, 50]
    # never empty
    assert truncate_segments_cost(
        [Segment(0, 25, 40.0)], stats, 5.0, n
    ) == [Segment(0, 25, 40.0)]


def test_t11_early_stop_keeps_results_exact(spark, series):
    """The dp path's T11 segment truncation may only widen the
    candidate superset — the verified output must equal brute force."""
    _, arr = series
    df = _fresh_series(spark, arr)
    q = arr[300 : 300 + M]
    eps = 8.0
    got = sorted(
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q.tolist(), eps, widths=(25, 50), value_scale=100, segmenter="dp",
        ).collect()
    )
    want = brute_force_ed(arr, q, eps)
    assert [g[0] for g in got] == [w[0] for w in want] and want
    for (_, gd), (_, wd) in zip(got, want):
        assert math.isclose(gd, wd, abs_tol=1e-6)


def test_index_mr_values_match_numpy(spark, series):
    """The one-pass multi-width kernel's grid assignment must equal a
    global numpy reference per width (positions are covered by
    test_index_covers_all_positions; this pins the VALUES — exact
    integer window sums, floor to the 0.25 grid)."""
    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    from distributed_stream_processing_spark.operators.subsequence_match import (
        _GRID,
    )

    vi = np.rint(arr * 100).astype(np.int64)
    ci = np.concatenate(([0], np.cumsum(vi)))
    for w in (25, 50):
        want = np.floor((ci[w:] - ci[:-w]) / float(100 * w * _GRID)) * _GRID
        got = np.empty(N - w + 1)
        for r in idx.filter(F.col("w") == w).collect():
            got[r.pos_start : r.pos_end + 1] = r.mr
        assert (got == want).all()


def test_index_wide_width_autosizes_chunk(spark):
    """build_kv_index auto-sizes the chunk to cover the widest window
    (VERDICT r12 task 5) — a width past the old 8192 default needs no
    caller tuning, and the index it builds is numpy-exact."""
    rng = random.Random(9)
    vals, x = [], 0.0
    for _ in range(20_000):
        x += rng.gauss(0, 1)
        vals.append(round(x, 2))
    arr = np.array(vals)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, value double"
    )
    w = 8194
    idx = build_kv_index(df, widths=(25, w), value_scale=100)
    rows = idx.filter(F.col("w") == w).collect()
    assert rows, "wide width produced no runs"
    # exact grid means from numpy for every window start
    vi = np.rint(arr * 100).astype(np.int64)
    c = np.concatenate(([0], np.cumsum(vi)))
    sums = c[w:] - c[:-w]
    want = np.floor(sums / (100.0 * w * 0.5)) * 0.5
    got = np.full(len(want), np.nan)
    for r in rows:
        got[r.pos_start : r.pos_end + 1] = r.mr
    assert (got == want).all()


def test_index_width_exceeding_chunk_overlap_raises(spark, series):
    """A window longer than chunk + 1 points reaches two chunk
    boundaries, and the overlap replication reaches one chunk back, so
    no chunk holds it whole. Every pass refuses it instead of silently
    skipping it: the index build (its runs would be missing), best
    match (it returned another window) and the range query's verify
    (it returned nothing). No layout is kept for it, and chunk + 1
    points is the longest window a chunk holds."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        _index_runs,
        verify_ed_ints,
    )
    from distributed_stream_processing_spark.streaming.online_ml import (
        batch_best_match,
    )

    df, arr = series
    with pytest.raises(ValueError, match="chunk overlap bound"):
        _index_runs(df, (25, 8194), 100, chunk=8192).count()
    df = _fresh_series(spark, arr)
    q = arr[1500:2100]
    cands = spark.range(1500, 1501).selectExpr("id AS start")
    for _ in range(2):  # the first pass over the series, then the keep
        with pytest.raises(ValueError, match="chunk overlap bound"):
            batch_best_match(df, {0: q}, chunk=CHUNK, value_scale=100)
        with pytest.raises(ValueError, match="chunk overlap bound"):
            verify_ed_ints(df, cands, q.tolist(), 0.5, 100, chunk=CHUNK)
    assert all(v is None for v in df.__dict__["_chunk_layouts"].values())
    q = arr[1500 : 1500 + CHUNK + 1]
    got = batch_best_match(df, {0: q}, chunk=CHUNK, value_scale=100)
    assert got[0][:2] == (1500, 0.0)


# ---------------- chunked numpy seams: Arrow record-batch straddle ----------------
#
# With the default 8192-point chunk, the 5,000-point series below is one
# chunk, and at maxRecordsPerBatch=1000 it reaches its task in five
# Arrow record batches. Each test's epsilon admits ~30% of all windows,
# so windows that straddle two record batches are among the matches.

STRADDLE_M = 32
STRADDLE_Q = 990  # the query is the window at 990: it straddles 1,000


@pytest.fixture(scope="module")
def straddle_series(spark):
    rng = np.random.default_rng(11)
    vals = np.round(rng.normal(0, 1, 5_000).cumsum(), 2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    df.cache().count()
    yield df, vals
    df.unpersist()


def _dtw_all(X: np.ndarray, q: np.ndarray, rho: int) -> np.ndarray:
    """Banded DTW distance of every row of X to q (the scalar
    recurrence of test_dtw_equals_brute_force, vectorized over rows)."""
    n, m = X.shape
    D = np.full((n, m + 1, m + 1), np.inf)
    D[:, 0, 0] = 0.0
    for i in range(1, m + 1):
        for j in range(max(1, i - rho), min(m, i + rho) + 1):
            best = np.minimum(
                np.minimum(D[:, i - 1, j], D[:, i - 1, j - 1]), D[:, i, j - 1]
            )
            D[:, i, j] = (X[:, i - 1] - q[j - 1]) ** 2 + best
    return np.sqrt(D[:, m, m])


def _straddle_case(vals: np.ndarray, dist_fn):
    """(query, brute-force distance of every window, epsilon): epsilon
    sits halfway between the 30%-quantile distance and the next one,
    so no window is within rounding of it."""
    X = np.lib.stride_tricks.sliding_window_view(vals, STRADDLE_M)
    q = vals[STRADDLE_Q : STRADDLE_Q + STRADDLE_M]
    dist = dist_fn(X, q)
    d = np.sort(dist)
    k = int(0.3 * len(d))
    return q, dist, float(d[k] + d[k + 1]) / 2


def _assert_matches(got: dict, dist: np.ndarray, eps: float):
    want = {s: float(d) for s, d in enumerate(dist) if d <= eps}
    assert STRADDLE_Q in want
    assert set(got) == set(want)
    for s, d in want.items():
        assert math.isclose(got[s], d, abs_tol=1e-6)


def test_dtw_full_scan_window_straddles_record_batches(
    spark, straddle_series, small_arrow_batches
):
    df, vals = straddle_series
    rho = 3
    q, dist, eps = _straddle_case(vals, lambda X, q: _dtw_all(X, q, rho))
    got = {
        r.start: r.dist
        for r in subsequence_match_dtw(df, q.tolist(), eps, rho).collect()
    }
    _assert_matches(got, dist, eps)


def test_znorm_window_straddles_record_batches(
    spark, straddle_series, small_arrow_batches
):
    df, vals = straddle_series

    def znorm_dist(X, q):
        qn = (q - q.mean()) / q.std()
        sd = X.std(axis=1, keepdims=True)
        Xn = (X - X.mean(axis=1, keepdims=True)) / np.where(sd > 0, sd, 1.0)
        return np.sqrt(((Xn - qn) ** 2).sum(axis=1))

    q, dist, eps = _straddle_case(vals, znorm_dist)
    got = {
        r.start: r.dist
        for r in subsequence_match_znorm(df, q.tolist(), eps).collect()
    }
    _assert_matches(got, dist, eps)


def test_cnsm_window_straddles_record_batches(
    spark, straddle_series, small_arrow_batches
):
    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_cnsm,
    )

    df, vals = straddle_series
    alpha, beta = 2.0, 10.0

    def cnsm_dist(X, q):
        qc = q - q.mean()
        a = np.clip(
            ((X - X.mean(axis=1, keepdims=True)) @ qc) / np.dot(qc, qc),
            1 / alpha,
            alpha,
        )
        b = np.clip(X.mean(axis=1) - a * q.mean(), -beta, beta)
        r = X - (a[:, None] * q + b[:, None])
        return np.sqrt((r * r).sum(axis=1))

    q, dist, eps = _straddle_case(vals, cnsm_dist)
    got = {
        r.start: r.dist
        for r in subsequence_match_cnsm(df, q.tolist(), eps, alpha, beta).collect()
    }
    _assert_matches(got, dist, eps)


def test_indexed_verify_window_straddles_record_batches(
    spark, straddle_series, small_arrow_batches
):
    """The candidate verify (_run_chunks with candidates: series rows
    and candidate starts through one exchange) gathers each partition
    too, and so does the scan over a kept layout. A fresh series object
    takes the probe on its first query and keeps its layout on the
    second, which scores every window (the DTW/znorm/cnsm tests above
    keep the fixture series' layout at this width, so a query over it
    would never probe)."""
    _, vals = straddle_series
    q, dist, eps = _straddle_case(
        vals, lambda X, q: np.sqrt(((X - q) ** 2).sum(axis=1))
    )
    df = _fresh_series(spark, vals)
    for probed in (True, False):
        out = subsequence_match_ed(df, q.tolist(), eps, widths=(25,), value_scale=100)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("pos_start" in plan) == probed  # the index scan
        _assert_matches({r.start: r.dist for r in out.collect()}, dist, eps)


def test_indexed_ed_one_exchange(spark, series, count_jobs):
    """An indexed ED range query's first pass over a fresh series object
    verifies its candidates through ONE exchange (layout rows and
    candidate starts unioned): one shuffle-map job plus the result job,
    with the series exploded into its chunk layout inside the plan. The
    later passes read the kept layout (its leaf is in the plan) and
    score every window of it: one job, with no exchange and no index
    scan."""
    import re

    _, arr = series
    df = _cached_series(spark, arr)
    idx = build_kv_index(df, widths=(25, 50), value_scale=100).cache()
    idx.count()
    q = arr[500 : 500 + M]
    kept_leaf = re.compile(r"Scan ExistingRDD\[pos#\d+L,value#\d+,chunk_id#\d+L\]")
    for kept in (False, True, True):
        rows = []
        out = subsequence_match_ed(
            df, q.tolist(), 1.0, widths=(25, 50), index=idx,
            n_positions=N, value_scale=100, available_widths={25, 50},
        )
        n_jobs = count_jobs(lambda: rows.extend(out.collect()))
        assert n_jobs == (1 if kept else 2)
        assert sorted((r.start, r.dist) for r in rows) == brute_force_ed(arr, q, 1.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("Exchange" in plan) != kept
        assert ("pos_start" in plan) != kept  # the index scan
        assert bool(kept_leaf.search(plan)) == kept
    idx.unpersist()
    df.unpersist()


def _cached_series(spark, vals):
    """A fresh cached series object: its chunk layouts start unbuilt."""
    df = _fresh_series(spark, vals).cache()
    df.count()
    return df


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf, 1e17])
def test_fixed_decimal_refuses_unrepresentable_values(bad):
    """NaN, ±inf and a value whose scaled magnitude overflows int64 each
    cast to INT64_MIN; the contract refuses them instead."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        _fixed_decimal,
    )

    with pytest.raises(ValueError, match="series is not fixed-decimal"):
        _fixed_decimal([1.25, bad], 100, "series")


def test_best_match_and_verify_share_one_layout(spark, series, count_jobs):
    """A best match and an ED verify over the same series and window
    width read one chunk layout: the best match builds it inside its
    plan, the verify keeps it, and a later best match reads it in
    one job. The index build records no layout."""
    from distributed_stream_processing_spark.operators import subsequence_match as sm
    from distributed_stream_processing_spark.session import session_key
    from distributed_stream_processing_spark.streaming.online_ml import (
        batch_best_match,
    )

    _, arr = series
    df = _cached_series(spark, arr)
    q = arr[500 : 500 + M]
    windows = {0: q, 1: arr[2000 : 2000 + M]}
    first = batch_best_match(df, windows, chunk=CHUNK, value_scale=100)
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    cands = sm.probe_index(
        idx, plan_segments(q.tolist(), (25, 50)), 1.0, N, M,
        available_widths={25, 50},
    )
    got = sm.verify_ed_ints(df, cands, q.tolist(), 1.0, 100, chunk=CHUNK)
    assert sorted((r.start, r.dist) for r in got.collect()) == brute_force_ed(
        arr, q, 1.0
    )
    layouts = df.__dict__["_chunk_layouts"]
    assert list(layouts) == [(session_key(spark), M, CHUNK)]
    assert all(v is not None for v in layouts.values())
    again = {}
    n_jobs = count_jobs(
        lambda: again.update(
            batch_best_match(df, windows, chunk=CHUNK, value_scale=100)
        )
    )
    assert n_jobs == 1 and again == first
    df.unpersist()


def test_second_series_never_reuses_a_layout(spark, series, count_jobs):
    """Layouts are keyed by the series object: a second series of the
    same schema and size builds its own on its first call (the
    two-job plan that builds it), and its matches are its own."""
    from distributed_stream_processing_spark.streaming.online_ml import (
        batch_best_match,
    )

    _, arr = series
    a = _cached_series(spark, arr)
    other = arr[::-1].copy()
    b = _cached_series(spark, other)
    windows = {0: arr[500 : 500 + M]}
    for _ in range(2):
        assert batch_best_match(a, windows, chunk=CHUNK, value_scale=100)[0][2] == 0
    got = {}
    n_jobs = count_jobs(
        lambda: got.update(batch_best_match(b, windows, chunk=CHUNK, value_scale=100))
    )
    assert n_jobs == 2
    X = np.lib.stride_tricks.sliding_window_view(np.rint(other * 100), M)
    d2 = ((X - np.rint(windows[0] * 100)) ** 2).sum(axis=1)
    assert got[0][0] == int(np.argmin(d2)) and got[0][2] == float(d2.min())
    a.unpersist()
    b.unpersist()


def test_returned_frame_outlives_its_series(spark, series):
    """A frame read from a kept layout stays readable after its series
    object, which holds the layout, is dropped."""
    import gc
    import time
    import weakref

    _, arr = series
    df = _cached_series(spark, arr)
    q = arr[700 : 700 + M].tolist()
    subsequence_match_znorm(df, q, 0.5, chunk=CHUNK).collect()
    out = subsequence_match_znorm(df, q, 0.5, chunk=CHUNK)  # keeps the layout
    first = sorted(out.collect())
    assert (700, 0.0) in first
    ref = weakref.ref(df)
    df.unpersist()
    del df
    gc.collect()
    assert ref() is None
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    assert sorted(out.collect()) == first


def _shuffle_id(df) -> int:
    """The id of the shuffle a kept layout's leaf reads."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    while True:
        dep = rdd.dependencies().head()
        if dep.getClass().getSimpleName() == "ShuffleDependency":
            return dep.shuffleId()
        rdd = dep.rdd()


def test_kept_layout_persists_no_block(spark, series, count_jobs):
    """A kept layout is a kept shuffle, not a persisted block: the only
    persistent RDD the passes add is the series' own cache, so
    unpersisting the series frees every block. The passes after that
    still read the shuffle files (one job each), and when those files
    are lost, as with a lost executor, the next pass recomputes them
    from the lineage. Two inputs read kept layouts: a best match and an
    ED range query (which scores every window of its layout), and
    every pass returns the same best match and the brute-force range
    result."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        DEFAULT_CHUNK,
        _series_layout,
    )
    from distributed_stream_processing_spark.streaming.online_ml import (
        batch_best_match,
    )

    sc = spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    _, arr = series
    before = persistent()
    df = _cached_series(spark, arr)
    windows = {0: arr[500 : 500 + M], 1: arr[2000 : 2000 + M]}
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)  # not persisted

    def passes():
        best = batch_best_match(df, windows, chunk=CHUNK, value_scale=100)
        ranged = subsequence_match_ed(
            df, windows[0].tolist(), 1.0, widths=(25, 50), index=idx,
            n_positions=N, value_scale=100, available_widths={25, 50},
        ).collect()
        return best, sorted((r.start, r.dist) for r in ranged)

    results = [passes() for _ in range(3)]
    assert len(persistent() - before) == 1  # the series' cache
    df.unpersist()
    assert not persistent() - before
    assert count_jobs(lambda: results.append(passes())) == 2  # one per input
    disk = sc._jsc.sc().env().blockManager().diskBlockManager().getAllFiles()
    files = [disk.apply(i) for i in range(disk.size())]
    for chunk in (CHUNK, DEFAULT_CHUNK):
        shuffle = _shuffle_id(_series_layout(df, M, chunk))
        lost = [f for f in files if f.getName().startswith(f"shuffle_{shuffle}_")]
        assert lost
        for f in lost:
            f.delete()
    results.append(passes())
    assert all(r == results[0] for r in results)
    best, ranged = results[0]
    assert best[0][2] == 0 and best[1][2] == 0
    assert ranged == brute_force_ed(arr, windows[0], 1.0)


def test_kept_layout_range_query_both_sides_of_the_probe(spark, series):
    """Over a kept layout the ED range query scores every window with
    no probe. A query the probe prunes hard and one whose every window
    is a probe candidate each equal brute force."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        probe_index,
    )
    from distributed_stream_processing_spark.streaming.online_ml import (
        batch_best_match,
    )

    _, arr = series
    df = _cached_series(spark, arr)
    idx = build_kv_index(df, widths=(25, 50), value_scale=100).cache()
    windows = N - M + 1
    batch_best_match(df, {0: arr[:M]}, value_scale=100)  # the first pass
    for start, eps, pruned in ((500, 1.0, True), (700, 1500.0, False)):
        q = arr[start : start + M]
        n_cands = probe_index(
            idx, plan_segments(q.tolist(), (25, 50)), eps, N, M,
            available_widths={25, 50},
        ).count()
        assert (n_cands < windows // 10) if pruned else (n_cands == windows)
        for _ in range(2):
            out = subsequence_match_ed(
                df, q.tolist(), eps, widths=(25, 50), index=idx,
                n_positions=N, value_scale=100, available_widths={25, 50},
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "pos_start" not in plan  # no probe
            got = sorted((r.start, r.dist) for r in out.collect())
            want = brute_force_ed(arr, q, eps)
            assert got == want and want
    idx.unpersist()
    df.unpersist()


@pytest.mark.parametrize("segmenter", ["greedy", "dp"])
def test_kept_layout_range_query_runs_one_job(spark, series, count_jobs, segmenter):
    """A repeat ED range query over a kept layout, given no index and
    no n_positions, runs one job in all: no count, no index build, no
    probe statistics."""
    _, arr = series
    df = _cached_series(spark, arr)
    q = arr[500 : 500 + M].tolist()

    def run():
        return sorted(
            (r.start, r.dist)
            for r in subsequence_match_ed(
                df, q, 1.0, widths=(25, 50), value_scale=100, segmenter=segmenter
            ).collect()
        )

    results = [run(), run()]  # builds the layout in its plan, then keeps it
    assert count_jobs(lambda: results.append(run())) == 1
    assert all(r == brute_force_ed(arr, np.array(q), 1.0) for r in results)
    df.unpersist()


def test_znorm_affine_copy_distance_is_zero(spark, series):
    """An affine copy of the query has an exact z-normalized d² of 0;
    the closed form on single-pass float moments can land slightly
    below 0, which gave a NaN (null) distance before the clamp."""
    df, arr = series
    q = arr[700 : 700 + M]
    vals = np.concatenate([arr[:2900], np.round(2.0 * q + 3.0, 2), arr[2900 + M :]])
    df2 = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    got = {
        r.start: r.dist
        for r in subsequence_match_znorm(df2, q.tolist(), 0.5, chunk=CHUNK).collect()
    }
    assert got[2900] == 0.0 and got[700] == 0.0
    assert all(d is not None and not math.isnan(d) for d in got.values())


def test_self_built_index_leaves_no_cache_entry(spark, series):
    """A match call that builds its own index pins it as a local
    checkpoint that goes with the returned frame; it must leave no
    CacheManager entry behind (a .cache() entry lived until the session
    ended), on the greedy and on the dp path."""
    _, arr = series
    q = arr[500 : 500 + M]
    spark.catalog.clearCache()
    for segmenter in ("greedy", "dp"):
        got = subsequence_match_ed(
            _fresh_series(spark, arr), q.tolist(), 1.0, widths=(25, 50),
            value_scale=100,
            segmenter=segmenter,
        ).collect()
        assert sorted(r.start for r in got) == [
            s for s, _ in brute_force_ed(arr, q, 1.0)
        ]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_verify_ed_ints_exact_when_prefix_sums_wrap(spark):
    """The fixed-decimal verify sums each window's x^2 as a difference
    of int64 prefix sums. With values near the contract's bound the
    prefix sums of one chunk pass 2^63 and wrap, and every distance
    still equals the exact integer one."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        verify_ed_ints,
    )

    n = 40_000
    rng = np.random.default_rng(4)
    cents = rng.integers(-(2**25), 2**25, n)
    assert sum(int(c) * int(c) for c in cents) >= 2**63  # the sums wrap
    df = _fresh_series(spark, cents / 100)
    q = int(cents[7_000])
    d2 = (cents - q) ** 2
    eps = math.sqrt(float(np.sort(d2)[50])) / 100
    want = sorted(
        (s, float(np.round(math.sqrt(float(d)) / 100, 6)))
        for s, d in enumerate(d2)
        if d <= (eps * 100) ** 2
    )
    got = verify_ed_ints(df, None, [q / 100], eps, 100, chunk=n, layout=None)
    assert sorted((r.start, r.dist) for r in got.collect()) == want


def test_value_scale_refuses_off_grid_input(spark, series):
    """Every value_scale path refuses data that is not fixed-decimal at
    that scale instead of quantizing it: a 3-decimal series fails the
    task with the contract's ValueError (surfaced on the driver as a
    PythonException), and a 3-decimal query raises ValueError on the
    driver."""
    from pyspark.errors import PythonException

    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_cnsm,
    )

    df, arr = series
    fine = arr + np.round(np.random.default_rng(2).uniform(-0.004, 0.004, N), 3)
    df3 = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(fine)], "pos long, value double"
    )
    q2 = arr[500 : 500 + M].tolist()
    q3 = fine[500 : 500 + M].tolist()
    series_calls = (
        lambda: build_kv_index(df3, widths=(25,), value_scale=100),
        lambda: subsequence_match_znorm(df3, q2, 5.0, value_scale=100),
        lambda: subsequence_match_cnsm(df3, q2, 5.0, value_scale=100),
        lambda: subsequence_match_ed(df3, q2, 1.0, widths=(50,), value_scale=100),
    )
    for call in series_calls:
        with pytest.raises(
            PythonException,
            match="ValueError: value_scale=100 but the series is not fixed-decimal",
        ):
            call().collect()
    query_calls = (
        lambda: subsequence_match_znorm(df, q3, 5.0, value_scale=100),
        lambda: subsequence_match_cnsm(df, q3, 5.0, value_scale=100),
        lambda: subsequence_match_ed(
            df, q3, 1.0, widths=(50,), value_scale=100
        ).collect(),
    )
    for call in query_calls:
        with pytest.raises(
            ValueError, match="value_scale=100 but the query is not fixed-decimal"
        ):
            call()
