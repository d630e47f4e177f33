"""Per-layer metrics and the per-layer table of a traced run.

Every figure is taken per measured batch (median across batches)
unless its comment says otherwise. A metric of a layer the workload
does not reach reads 0.
"""

from __future__ import annotations

import statistics

from spans import covered, self_times

# name -> unit; the order is the order of the printed JSON
UNITS = {
    "batch.jobs": "count",
    "batch.tasks": "count",
    "batch.driver_s": "s",
    "batch.spark_s": "s",
    "batch.executor_run_s": "s",
    "batch.gc_s": "s",
    "batch.shuffle_write_bytes": "bytes",
    "batch.queue_wait_s": "s",
    "join.process_batch_s": "s",
    "join.emit_s": "s",
    "join.out_rows": "count",
    "join.compaction_s": "s",
    "join.batch_share": "fraction",
    "fetch.call_s": "s",
    "fetch.pushdown_share": "fraction",
    "fetch.missed_keys": "count",
    "fetch.task_s": "s",
    "cache.maintain_task_s": "s",
    "join.hit_task_s": "s",
    "cache.measured_share": "fraction",
    "cache.hit_ratio": "fraction",
    "cache.window": "batches",
    "cache.state_rows": "count",
    "checkpoint.pinned_rdds": "count",
    "checkpoint.leaked_rdds": "count",
    "sim.store_build_s": "s",
    "sim.init_s": "s",
    "sim.process_batch_s": "s",
    "sim.emit_s": "s",
    "sim.out_pairs": "count",
    "sim.miss_keys": "count",
    "sim.fetch_task_s": "s",
    "sim.maintain_task_s": "s",
    "sim.batch_share": "fraction",
    "s3m.index_build_s": "s",
    "s3m.match_s": "s",
    "s3m.range_s": "s",
    "s3m.range_matches": "count",
    "s3m.train_s": "s",
    "s3m.batch_share": "fraction",
    "setup.session_s": "s",
    "setup.load_s": "s",
    "setup.first_build_s": "s",
    "setup.warmup_s": "s",
    "trace.batch_p50_s": "s",
    "trace.batch_tail_s": "s",
    "trace.collect_s": "s",
    "baseline1.service_p50_s": "s",
    "baseline1.capacity_rows_s": "records/s",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    s = sorted(values)
    n = len(s)
    k = n - 10 if n > 10 else n
    return s[k - 1], 100.0 * k / n


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _durations(spans, name, batches) -> list[float]:
    return [
        s["end"] - s["start"] for s in spans if s["name"] == name and s["batch"] in batches
    ]


def _share(spans, prefix, roots) -> float:
    """Share of the measured batches' wall spent in top-level spans of
    one layer (direct children of each batch span)."""
    wall = sum(r["end"] - r["start"] for r in roots.values())
    ids = {r["id"] for r in roots.values()}
    busy = sum(
        s["end"] - s["start"]
        for s in spans
        if s["parent"] in ids and s["name"].startswith(prefix)
    )
    return busy / wall if wall else 0.0


def layer_metrics(wl, tracer, rows, session_s, builds, warm_s, leaked, baseline):
    spans = tracer.spans
    batches = {r["batch"] for r in rows}
    roots = {s["batch"]: s for s in spans if s["name"] == "batch" and s["batch"] in batches}
    jobs: dict[int, list] = {b: [] for b in batches}
    for s in spans:
        if s["name"] == "spark.job" and s["batch"] in batches:
            jobs[s["batch"]].append(s)
    per_batch = []
    for b, root in roots.items():
        js = jobs[b]
        spark_s = covered([(j["start"], j["end"]) for j in js], root["start"], root["end"])
        per_batch.append(
            {
                "jobs": len(js),
                "tasks": sum(j["tasks"] for j in js),
                "spark_s": spark_s,
                "driver_s": root["end"] - root["start"] - spark_s,
                "executor_run_s": sum(j["executor_run_s"] for j in js),
                "gc_s": sum(j["gc_s"] for j in js),
                "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
            }
        )
    facts = {b: wl.facts.get(b, {}) for b in sorted(batches)}
    service = {r["batch"]: r["finish"] - r["start"] for r in rows}

    def fact(key):
        return [f[key] for f in facts.values() if key in f]

    enrich = wl.name.startswith("enrich")
    sim = wl.name == "simjoin"
    missed = {b: f.get("missed_keys", 0) for b, f in facts.items()}
    with_miss = [b for b in facts if missed[b] > 0]
    distinct = wl.inputs.distinct_keys
    m = {f"batch.{k}": _med(p[k] for p in per_batch) for k in per_batch[0]} if per_batch else {}
    m["batch.queue_wait_s"] = _med(r["start"] - r["close"] for r in rows)
    m.update(
        {
            "join.process_batch_s": _med(_durations(spans, "join.process_batch", batches)),
            "join.emit_s": _med(_durations(spans, "join.emit", batches)),
            "join.out_rows": _med(fact("out_rows")) if enrich else 0.0,
            # wall of the batches whose call compacted the cache state
            "join.compaction_s": _med(
                service[b] for b, f in facts.items() if f.get("compaction")
            ) if enrich else 0.0,
            "join.batch_share": _share(spans, "join.", roots),
            "fetch.call_s": _med(_durations(spans, "fetch.call", batches)),
            # pushdown picks among batches with misses / batches with misses
            "fetch.pushdown_share": (
                sum(facts[b].get("pushdown", 0) for b in with_miss) / len(with_miss)
                if enrich and with_miss
                else 0.0
            ),
            "fetch.missed_keys": _med(missed.values()) if enrich else 0.0,
            "fetch.task_s": _med(fact("fetch_task_s")) if enrich else 0.0,
            "cache.maintain_task_s": _med(fact("maintain_task_s")) if enrich else 0.0,
            "join.hit_task_s": _med(fact("hit_task_s")) if enrich else 0.0,
            # batches whose phase split was measured / batches observed
            "cache.measured_share": (
                sum(fact("measured")) / len(fact("measured")) if fact("measured") else 0.0
            ),
            # 1 - missed keys / distinct batch keys, summed over batches
            "cache.hit_ratio": (
                1.0 - sum(missed.values()) / sum(distinct[b] for b in facts)
                if enrich
                else 0.0
            ),
            "cache.window": _med(fact("window")),
            "cache.state_rows": _med(fact("state_rows")),
            # max over batches / after close() minus before construction
            "checkpoint.pinned_rdds": max(
                (tracer.pinned_rdds.get(b, 0) for b in batches), default=0
            ),
            "checkpoint.leaked_rdds": leaked,
            # set-up figures: median over the run's repeated set-ups
            "sim.store_build_s": _med(wl.setup_facts.get("sim.store_build", [])),
            "sim.init_s": _med(wl.setup_facts.get("sim.init", [])),
            "sim.process_batch_s": _med(_durations(spans, "sim.process_batch", batches)),
            "sim.emit_s": _med(_durations(spans, "sim.emit", batches)),
            "sim.out_pairs": _med(fact("out_rows")) if sim else 0.0,
            "sim.miss_keys": _med(missed.values()) if sim else 0.0,
            "sim.fetch_task_s": _med(fact("fetch_task_s")) if sim else 0.0,
            "sim.maintain_task_s": _med(fact("maintain_task_s")) if sim else 0.0,
            "sim.batch_share": _share(spans, "sim.", roots),
            "s3m.index_build_s": _med(wl.setup_facts.get("s3m.index_build", [])),
            "s3m.match_s": _med(_durations(spans, "s3m.match", batches)),
            "s3m.range_s": _med(_durations(spans, "s3m.range", batches)),
            "s3m.range_matches": _med(fact("range_matches")),
            "s3m.train_s": _med(_durations(spans, "s3m.train", batches)),
            "s3m.batch_share": _share(spans, "s3m.", roots),
            "setup.session_s": session_s,
            "setup.load_s": _med(wl.setup_facts.get("setup.load", [])),
            # the run's first (cold) set-up alone; setup_s weighs it by half
            "setup.first_build_s": builds[0],
            "setup.warmup_s": warm_s,
            "trace.batch_p50_s": _med(r["finish"] - r["close"] for r in rows),
            "trace.batch_tail_s": tail([r["finish"] - r["close"] for r in rows])[0],
            "trace.collect_s": _med(tracer.collect_s.get(b, 0.0) for b in batches),
            "baseline1.service_p50_s": baseline["service_p50_s"],
            "baseline1.capacity_rows_s": baseline["capacity_rows_s"],
        }
    )
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}


def layer_table(name, tracer, rows) -> list[str]:
    """Per span name over the measured batches: calls, median wall,
    median self time, and share of the summed batch wall."""
    batches = {r["batch"] for r in rows}
    spans = [s for s in tracer.spans if s["batch"] in batches]
    selft = self_times(spans)
    wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "batch")
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = [f"# {name} per-layer table ({len(batches)} measured batches)"]
    out.append(f"# {'span':<22}{'calls':>7}{'p50_wall_s':>12}{'p50_self_s':>12}{'wall_share':>12}")
    for n, ss in sorted(by_name.items(), key=lambda kv: -sum(s["end"] - s["start"] for s in kv[1])):
        durs = [s["end"] - s["start"] for s in ss]
        out.append(
            f"# {n:<22}{len(ss):>7}{_med(durs):>12.4f}"
            f"{_med(selft[s['id']] for s in ss):>12.4f}{sum(durs) / wall if wall else 0:>12.3f}"
        )
    return out
