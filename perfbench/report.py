"""Run every workload over several seeds and summarize.

    python3 perfbench/report.py                      # one seed per workload
    python3 perfbench/report.py --seeds 1-10         # spread check
    python3 perfbench/report.py --seeds 1-3 --traced # plus one traced run each

For each workload it prints every end-to-end metric with its unit as
median, first and third quartile over the seeds, and the spread
(third minus first quartile, as a share of the median) next to the
metric's bound from BENCHMARK.json; error_share is reported from the
runs' failed/attempted counts. ``--traced`` adds one traced run per
workload (first seed): its per-layer table, and the tracing overhead as
the traced batch_p50_s minus the untraced median. Each run is a
separate ``run.py`` process, as the benchmark contract runs it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1]), lines[:-1]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=[1])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        attempted = failed = 0
        for seed in args.seeds:
            res, lines = one_run(w, seed, args.seconds, 0)
            print("\n".join(lines[:1]))
            attempted += res["attempted"]
            failed += res["failed"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {len(args.seeds)} runs, seeds {args.seeds}")
        print(f"   {'metric':<18}{'unit':<11}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            b = bounds[k]
            print(
                f"   {k:<18}{b['unit']:<11}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}"
                f"{(q3 - q1) / med:>8.3f}{b['bound']:>7.2f}"
            )
        print(f"   {'error_share':<18}{'fraction':<11}{failed / attempted:>12.4f}  ({failed} of {attempted} batches)")
        if args.traced:
            res, lines = one_run(w, args.seeds[0], args.seconds, 1)
            start = next((i for i, x in enumerate(lines) if "per-layer table" in x), len(lines))
            print("\n".join(lines[start:]))
            m = res["metrics"]
            over = m["trace.batch_p50_s"]["value"] - statistics.median(values["batch_p50_s"])
            print(
                f"   tracing overhead: batch_p50_s {over:+.4f} s "
                f"(status-store reads {m['trace.collect_s']['value']:.4f} s per batch)"
            )
            print("   per-layer: " + json.dumps({k: round(v["value"], 4) for k, v in m.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
