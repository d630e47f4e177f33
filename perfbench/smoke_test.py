"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke_test.py

Checks that every workload runs end to end with all outputs matching
their references, that the traced mode yields every per-layer metric,
that a corrupted sink output and a raising batch are both counted in
``failed`` (and so in error_share), and that the vectorized S3M range
reference agrees with the engine's scalar ``brute_force_ed``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402

import data  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "enrich_drift": {"store": 20_000, "working_set": 500, "rows": 2_000, "phase": 2},
    "simjoin": {"docs": 200, "batch_docs": 10, "near_share": 0.7},
    "s3m": {
        "m": 64, "pred": 8, "windows": 4, "stored": 3_000, "step": 0.05, "iters": 10,
    },
}


def _tiny():
    run.SETUP_REPEATS = 1
    for name, size in TINY.items():
        run.WORKLOADS[name] = {"T": 0.5, "warmup": 1, "size": size}


def test_workloads_match_references():
    for name in TINY:
        result, _ = run.execute(name, seed=7, seconds=2, trace=False)
        assert result["correct"] and result["failed"] == 0, (name, result)
        assert all(v > 0 for v in result["e2e"].values()), (name, result["e2e"])


def test_traced_mode_reports_every_layer_metric():
    result, lines = run.execute("enrich_drift", seed=7, seconds=2, trace=True)
    assert result["correct"], result
    assert set(result["per_layer"]) == set(layers.UNITS)
    assert result["per_layer"]["batch.jobs"]["value"] > 0
    assert any("per-layer table" in line for line in lines)


def test_corrupted_output_raises_error_share():
    real = workloads.checksum
    calls = {"n": 0}

    def corrupting(*cols):
        calls["n"] += 1
        if calls["n"] == 2:  # drop one row of the second batch's output
            cols = [c[:-1] for c in cols]
        return real(*cols)

    workloads.checksum = corrupting
    try:
        result, lines = run.execute("simjoin", seed=7, seconds=2, trace=False)
    finally:
        workloads.checksum = real
    assert result["failed"] == 1 and not result["correct"], result
    assert any("error_share" in line and not line.split()[2].startswith("0.0000") for line in lines)


def test_raising_batch_is_counted_and_run_continues():
    real = workloads.EnrichWorkload.batch

    def flaky(self, b):
        if b == 1:
            raise RuntimeError("injected batch failure")
        return real(self, b)

    workloads.EnrichWorkload.batch = flaky
    try:
        result, _ = run.execute("enrich_drift", seed=7, seconds=2, trace=False)
    finally:
        workloads.EnrichWorkload.batch = real
    assert result["failed"] == 1 and result["attempted"] > 2, result


def test_s3m_range_reference_matches_brute_force():
    from distributed_stream_processing_spark.operators.subsequence_match import (
        brute_force_ed,
    )

    rng = np.random.default_rng(3)
    values = np.round(np.cumsum(rng.normal(0, 1, 2_000)), 2)
    query = values[700:764] + np.round(rng.normal(0, 0.5, 64), 2)
    d2 = data.sliding_d2(data.cents(values), data.cents(query))
    u = np.unique(d2)
    eps = float(np.sqrt((u[10] + u[11]) / 2)) / data.S3M_SCALE
    want = [s for s, _ in brute_force_ed(values, query, eps)]
    got = np.flatnonzero(d2 <= (eps * data.S3M_SCALE) ** 2).tolist()
    assert got == want, (got, want)


def main() -> int:
    _tiny()
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"PASS {t.__name__}")
        except Exception as e:  # noqa: BLE001 - report every test, then fail
            failed += 1
            print(f"FAIL {t.__name__}: {e!r}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
