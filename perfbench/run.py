"""Open-loop micro-batch benchmark of the cached stream joins and S3M.

    python3 perfbench/run.py --workload enrich_drift --seed 1 --seconds 12 --trace 0

Run from the repository root. The engine is imported from the
checkout; inputs are generated from ``--seed`` under ``.bench_work/``
and removed when the run ends.

Load model (open loop): batch i closes at t0 + (i+1)·T and starts at
max(close_i, finish_{i-1}); its latency is finish_i − close_i, where
finish means the output has been drained into the sink and checked.
t0 is placed so that the first measured batch closes the moment set-up
ends. A batch that raises or whose output differs from the reference is
counted as failed and the run goes on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every engine call, reads the Spark jobs of each span from the
status store, writes the spans to ``.bench_work/traces/`` and prints the
per-layer metrics, plus a single-threaded (local[1]) pass of the same
workload as a baseline. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-workload sizes, trigger interval T (seconds) and untimed warm-up
# batches. T leaves the median batch of the unmodified engine at 45-95%
# of T across the speeds a shared host shows: a regression then shows as
# queueing, not as a runaway backlog. enrich_drift's working set jumps
# on batch 7, the batch of its first cache compaction (the default
# 8-batch cadence); 4 warm-up batches (fewer leave the JIT cold) put
# that batch last in a 12 s run, behind three ordinary batches that set
# the median.
WORKLOADS = {
    "enrich_drift": {
        "T": 3.0,
        "warmup": 4,
        "size": {"store": 200_000, "working_set": 2_000, "rows": 10_000, "phase": 7},
    },
    "simjoin": {
        "T": 4.0,
        "warmup": 1,
        "size": {"docs": 500, "batch_docs": 100, "near_share": 0.7},
    },
    "s3m": {
        "T": 3.0,
        "warmup": 1,
        "size": {
            "m": 64, "pred": 8, "windows": 6, "stored": 6_000,
            "step": 0.05, "iters": 10,
        },
    },
}
# set-up builds per run; setup_s takes their median, here the mean of
# the cold first build and a warm one
SETUP_REPEATS = 2
MAX_CPUS = 3
QUIET = {"spark.ui.showConsoleProgress": "false"}
JVM_OPTS_BASE = {v: os.environ.get(v) for v in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS")}
END_TO_END_UNITS = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "capacity_rows_s": "records/s",
    "peak_rss_mb": "MB",
}


def host_sizing() -> dict:
    """local[N] with N <= nproc and a driver heap well below RAM."""
    nproc = len(os.sched_getaffinity(0))
    n = min(MAX_CPUS, nproc)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return {
        "nproc": nproc,
        "cpus": n,
        "driver_mem_mb": int(min(1024, ram_mb // 4)),
        "load_1m": os.getloadavg()[0],
    }


def configure_env(host: dict, work_dir: str) -> None:
    """Environment of this process and the JVM and Python workers it
    starts: host-sized session, engine importable by the workers, and
    every scratch file inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['driver_mem_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # both JVMs spark-submit starts (its launcher, then the driver)
    for var, base in JVM_OPTS_BASE.items():
        os.environ[var] = " ".join(
            p for p in (base, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def run_schedule(wl, n_warm: int, n_meas: int, period: float, tracer):
    """Warm-up batches back to back, then the open-loop schedule.
    Returns (warm-up seconds, per measured batch records, failures)."""
    failed = 0

    def one(b: int) -> bool:
        tracer.batch = b
        try:
            with tracer.span("batch"):
                ok = wl.batch(b)
        except Exception:  # noqa: BLE001 - a failed batch is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        finally:
            tracer.batch = None
        if not ok:
            print(f"# batch {b}: output differs from the reference", file=sys.stderr)
        return ok

    t = time.monotonic()
    for b in range(n_warm):
        failed += not one(b)
        if tracer.enabled:
            wl.after_batch(b)
        tracer.end_batch(b)
    warm_s = time.monotonic() - t
    first_close = time.monotonic()
    rows = []
    for i in range(n_meas):
        b = n_warm + i
        close = first_close + i * period
        now = time.monotonic()
        if now < close:
            time.sleep(close - now)
        start = time.monotonic()
        ok = one(b)
        finish = time.monotonic()
        if tracer.enabled:
            wl.after_batch(b)
        failed += not ok
        rows.append(
            {
                "batch": b,
                "close": close,
                "start": start,
                "finish": finish,
                "records": wl.inputs.records[b],
                "ok": ok,
            }
        )
        tracer.end_batch(b)
    return warm_s, rows, failed


def execute(name: str, seed: int, seconds: int, trace: bool):
    """One run of one workload; returns (result dict, printable lines)."""
    from data import GENERATORS, workload_rng
    from layers import tail
    from spans import NullTracer, RssSampler, Tracer, persistent_rdds
    from workloads import WORKLOADS as CLASSES

    spec = WORKLOADS[name]
    period, n_warm = spec["T"], spec["warmup"]
    n_meas = max(1, round(seconds / period))
    host = host_sizing()
    work = os.path.join(ROOT, ".bench_work", f"{name}-s{seed}-p{os.getpid()}")
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir, exist_ok=True)
    configure_env(host, work)
    t_gen = time.monotonic()
    try:
        inputs = GENERATORS[name](
            workload_rng(name, seed), data_dir, n_warm + n_meas, spec["size"]
        )
        gen_s = time.monotonic() - t_gen
        from distributed_stream_processing_spark.session import get_spark

        with RssSampler() as rss:
            t = time.monotonic()
            spark = get_spark(app_name=f"perfbench-{name}", extra_conf=QUIET)
            session_s = time.monotonic() - t
            try:
                tracer = Tracer(spark) if trace else NullTracer()
                rdds_before = persistent_rdds(spark.sparkContext)
                wl = CLASSES[name](name, spark, inputs, tracer, spec["size"])
                builds = []
                for r in range(SETUP_REPEATS):
                    if r:
                        wl.unload()
                    t = time.monotonic()
                    wl.load()
                    builds.append(time.monotonic() - t)
                tracer.end_batch(None)
                warm_s, rows, failed = run_schedule(
                    wl, n_warm, n_meas, period, tracer
                )
                wl.finish()
                wl.close()
                leaked = persistent_rdds(spark.sparkContext) - rdds_before
                baseline = None
                if trace:
                    tracer.write(
                        os.path.join(
                            ROOT, ".bench_work", "traces", f"{name}-seed{seed}.jsonl"
                        )
                    )
                    spark.stop()
                    baseline = single_thread_pass(name, inputs, n_meas, period)
                    spark = baseline.pop("spark")
            finally:
                t_stop = time.monotonic()
                stop_spark(spark)
                stop_s = time.monotonic() - t_stop
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lat = [r["finish"] - r["close"] for r in rows]
    service = [r["finish"] - r["start"] for r in rows]
    tail_v, tail_pct = tail(lat)
    e2e = {
        "setup_s": session_s + statistics.median(builds) + warm_s,
        "batch_p50_s": statistics.median(lat),
        "capacity_rows_s": sum(r["records"] for r in rows) / sum(service),
        "peak_rss_mb": rss.peak_bytes / 1e6,
    }
    attempted = n_warm + n_meas
    lines = [
        f"# {name}: seed={seed} T={period}s batches={n_meas} (+{n_warm} warm-up) "
        f"nproc={host['nproc']} master=local[{host['cpus']}] "
        f"driver_mem={host['driver_mem_mb']}m load_1m={host['load_1m']:.2f}",
    ]
    for k, v in e2e.items():
        lines.append(f"{name} {k} {v:.4f} {END_TO_END_UNITS[k]}")
    lines.append(
        f"{name} error_share {failed / attempted:.4f} fraction "
        f"({failed} of {attempted} batches)"
    )
    # a run has at most a few measured batches, so the tail is one batch
    # and carries the host's per-batch noise: printed, not in the result
    lines.append(
        f"# batch_tail_s {tail_v:.4f} s is p{tail_pct:.0f} of {len(lat)} batches; "
        f"setup_s = session {session_s:.2f} + median of {SETUP_REPEATS} builds "
        f"{statistics.median(builds):.2f} + warm-up {warm_s:.2f}"
    )
    lines.append(
        f"# untimed: input generation {gen_s:.2f}s, extra set-up builds "
        f"{sum(builds) - statistics.median(builds):.2f}s, shutdown {stop_s:.2f}s"
    )
    lines.append("# latency_s " + " ".join(f"{v:.2f}" for v in lat))
    lines.append("# service_s " + " ".join(f"{v:.2f}" for v in service))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
    }
    if trace:
        from layers import layer_metrics, layer_table

        per_layer = layer_metrics(
            wl, tracer, rows, session_s, builds, warm_s, leaked, baseline
        )
        lines += layer_table(name, tracer, rows)
        result["per_layer"] = per_layer
    return result, lines


def single_thread_pass(name, inputs, n_meas, period) -> dict:
    """The same workload at local[1], untraced and set up once: the
    single-threaded baseline. Reuses this run's staged inputs."""
    from spans import NullTracer
    from workloads import WORKLOADS as CLASSES

    from distributed_stream_processing_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark(app_name=f"perfbench-{name}-local1", extra_conf=QUIET)
    wl = CLASSES[name](name, spark, inputs, NullTracer(), WORKLOADS[name]["size"])
    wl.load()
    spec = WORKLOADS[name]
    _, rows, _ = run_schedule(
        wl, spec["warmup"], max(1, n_meas // 2), period, NullTracer()
    )
    wl.close()
    service = [r["finish"] - r["start"] for r in rows]
    return {
        "spark": spark,
        "service_p50_s": statistics.median(service),
        "capacity_rows_s": sum(r["records"] for r in rows) / sum(service),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import distributed_stream_processing_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    result, lines = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in lines:
        print(line)
    if args.trace:
        metrics = result["per_layer"]
    else:
        metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result["e2e"].items()
        }
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
