"""Spans, Spark job accounting and memory sampling for the benchmark.

A ``Tracer`` records one span per call the benchmark makes into an
engine layer. Spans of one micro-batch carry the batch id; each span
also scopes a Spark job group, so after the batch the jobs it ran are
read back from Spark's status store and become child spans with their
stage metrics (tasks, executor run time, GC, shuffle bytes). Spans
stay in memory and are written out once, when the run ends.

``NullTracer`` is the untraced twin: the same calls, no recording and
no job groups, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class NullTracer:
    enabled = False
    batch: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def end_batch(self, batch: int) -> None:
        pass


class Tracer:
    """In-memory span recorder scoped by Spark job groups."""

    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        # status-store times are epoch milliseconds; spans use the
        # monotonic clock
        self._epoch_off = time.time() - time.monotonic()
        self.spans: list[dict] = []
        self.pinned_rdds: dict[int | None, int] = {}
        self.batch: int | None = None
        self._stack: list[dict] = []
        self._seq = 0
        self.collect_s: dict[int, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._seq,
            "name": name,
            "batch": self.batch,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._seq}",
            "start": time.monotonic(),
        }
        self._stack.append(sp)
        self._sc.setLocalProperty("spark.jobGroup.id", sp["group"])
        try:
            yield sp
        finally:
            sp["end"] = time.monotonic()
            self._stack.pop()
            self._sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None
            )
            self.spans.append(sp)

    def _job_spans(self, sp: dict) -> list[dict]:
        """Spark jobs of one span's job group, as child spans carrying
        their stage metrics. The status store is fed asynchronously by
        the listener bus, so wait (bounded) for the jobs to settle."""
        ids = list(self._sc.statusTracker().getJobIdsForGroup(sp["group"]))
        out = []
        for jid in ids:
            jd = None
            for _ in range(200):
                jd = self._store.job(jid)
                if jd.completionTime().isDefined():
                    break
                time.sleep(0.01)
            job = {
                "id": f"job{jid}",
                "name": "spark.job",
                "batch": sp["batch"],
                "parent": sp["id"],
                "start": jd.submissionTime().get().getTime() / 1e3 - self._epoch_off,
                "end": (
                    jd.completionTime().get().getTime() / 1e3 - self._epoch_off
                    if jd.completionTime().isDefined()
                    else time.monotonic()
                ),
                "tasks": 0,
                "executor_run_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
            }
            empty = self._sc._gateway.new_array(self._jvm.double, 0)
            for sid in self._sc.statusTracker().getJobInfo(jid).stageIds:
                stages = self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, empty
                )
                for i in range(stages.size()):
                    sd = stages.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["tasks"] += sd.numCompleteTasks()
                    job["executor_run_s"] += sd.executorRunTime() / 1e3
                    job["gc_s"] += sd.jvmGcTime() / 1e3
                    job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out.append(job)
        return out

    def end_batch(self, batch: int | None) -> None:
        """Attach the batch's Spark jobs to its spans and count the
        session's persistent RDDs (batch None: the set-up spans)."""
        t = time.monotonic()
        jobs = []
        for sp in self.spans:
            if sp["batch"] == batch and "group" in sp:
                jobs += self._job_spans(sp)
                del sp["group"]
        self.spans += jobs
        self.pinned_rdds[batch] = persistent_rdds(self._sc)
        self.collect_s[batch] = time.monotonic() - t

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def persistent_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part its children cover."""
    kids: dict = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - covered(kids.get(sp["id"], []), sp["start"], sp["end"])
        for sp in spans
    }


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * self._page
        root = os.getpid()
        total = 0
        for pid, r in rss.items():
            p = pid
            while p > 1 and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += r
        self.peak_bytes = max(self.peak_bytes, total)
