"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ...}

Queries are materialized with the noop sink (full plan execution, no
collect/IO cost). Each timing includes plan + execution, not session
startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from distributed_stream_processing_spark.plans import load_all  # noqa: E402
from distributed_stream_processing_spark.session import (  # noqa: E402
    get_spark,
    python_channel,
)

HEADLINE = [
    "q01_pricing_summary",        # hash aggregation
    "q02_stream_enrich_join",     # broadcast equi-join (DS-Join hit path)
    "q07_revenue_by_customer",    # multi-join + agg
    "q16_similarity_self_join",   # Jaccard prefix join (DSim-Join)
    "q21_dedup_minhash_lsh",      # MinHash LSH dedup
    "q26_ann_topk",               # brute-force cosine top-k
    "q29_subseq_match_ed",        # KV-match ED range query (every window scored)
    "q33_semi_stream_cached_join",  # DS-Join cached pipeline, 4 batches
    "q34_stream_minute_rollup",   # Structured Streaming rollup
    "q48_semi_stream_similarity",  # DSim cached similarity pipeline, 3 batches
]


# 10x stress subset: the three shuffle/state-heavy headliners whose
# constant factors a design audit can't predict (VERDICT r4 task 5)
STRESS = [
    "q21_dedup_minhash_lsh",
    "q29_subseq_match_ed",
    "q48_semi_stream_similarity",
]

# --- contention detection (VERDICT r10 task 1) -------------------------
# Three consecutive rounds published contention garbage because every
# safeguard ran AFTER the numbers it was guarding (and was the first
# thing the budget dropped). The detectors now bracket the protocol:
#
# * a fixed calibration probe runs FIRST (before any headline timing,
#   budget reserved) and LAST; each is compared against a COMMITTED
#   idle envelope, and the last against the first (drift).
# * each headline query's steady-run spread is compared against a
#   committed idle spread envelope — r10 published q48=17.26 s with a
#   25.7 s spread (vs 0.2-1.8 s idle) and nothing fired.
# * the stress tripwire threshold drops from 3x to 2x the expected
#   ratio, and the expected ratios are the judge-measured idle truths
#   on the splittable r10 fixtures (old constants predated that fix).
#
# When ANY detector fires, ratio_10x publishes as null — the runs
# arrays keep the raw data, but no quotable ratio exists from a
# contended window.
CAL_QUERY = "q29_subseq_match_ed"
CAL_IDLE_S = 1.5  # committed idle q29@sf0.1: driver 0.80 / judge 1.24
# committed idle steady-run spread envelopes (judge r10 idle re-runs:
# most <=0.4 s; q48 0.20 isolated / <=1.8 full-protocol; q33/q34 carry
# trigger/state jitter)
IDLE_SPREAD_S = {
    "q33_semi_stream_cached_join": 1.2,
    "q34_stream_minute_rollup": 1.2,
    "q48_semi_stream_similarity": 2.0,
}
IDLE_SPREAD_DEFAULT_S = 0.8
# expected idle 10x ratios on the splittable fixtures: q21/q29 keep
# the centers of the r12 validated clean-window ranges (1.73-3.02 /
# 1.13-2.15 across five full-protocol runs). q48's center moved with
# the r13 V-selection probe path: per-batch pricing is a FIXED cost
# that inflates the 1x denominator while candidates at 10x drop ~10x,
# so warm idle ratios measured 1.5-1.9 (r12 layout: 2.01-3.52). The
# tripwire fires at 2x these — above every clean reading, well below
# genuine contention (r11 contended q48 computed 7.7).
EXPECTED_10X = {"q21": 2.5, "q29": 1.8, "q48": 1.7}
# reserved POST-STRESS budget (r16 ordering, VERDICT r15 tasks 1-3
# in priority order: the engine-parity A/B runs FIRST of the optional
# sections, dedup_100x second, the 10x stress trio third; what still
# runs after stress and must be paid from this reserve: the fp-cached
# scheme/cand audits (~10 s warm) and the q33/q48 100x maintenance
# points (~40/140 s warm, first to degrade). The closing calibration
# (CAL_CLOSE_RESERVE_S) is reserved separately by every gate.
RESERVE_TAIL_S = int(os.environ.get("SPARK_GRAFT_RESERVE_TAIL_S", "270"))
# reserved for the closing calibration at the very end: quiesce + one
# ~25 s subprocess, twice when the first reading is bad; the worst
# case is two subprocesses each at their 60 s cap plus settles
# (~135 s), and under-reserving here pushes the JSON line toward the
# edge of the driver's capture window — the one unacceptable failure
CAL_CLOSE_RESERVE_S = 140


def _defer_ab(owed: bool, open_flags: list) -> bool:
    """A/B-vs-owed-points priority rule (r18). The engine-parity A/B
    normally runs FIRST (r15 task 1) — but when this artifact OWES a
    starved 100x point (rotation invariant) and the OPENING probes
    already flagged the window (cal_start/cpu_slow/io_slow/load_high),
    the A/B yields: in a flagged window its verdict degrades to
    drift/window anyway (r17 judge run; r18 dry run), while the owed
    points are the evidence rounds have gone without. Deferral is safe
    since r18 because run_ab holds a hard deadline (partial/window
    legs, never a tail hang). Only OPENING flags count — per-section
    'win:'/'spread:' flags appended later describe other sections'
    windows, not the one the A/B would run in."""
    open_kinds = {"cal_start", "cpu_slow", "io_slow", "load_high"}
    return owed and any(f in open_kinds for f in open_flags)


# a FULL isolated dedup_100x attempt cannot finish below this much
# stress-side budget even warm (pairs ~26 s + cluster ~8 s + session
# startup ~25 s + margin); launching one anyway burns the subprocess
# clamp-floor 60 s on a guaranteed timeout (r18 dry run: the full
# attempt got deadline=+15 s — dead on arrival)
DEDUP_FULL_FLOOR_S = 100


def _dedup_full_attempt_viable(avail_s: float, priority: bool) -> bool:
    """Whether launching the FULL isolated dedup_100x subprocess is
    worth the budget. Non-priority rounds keep the old behavior (the
    clamp inside the subprocess bounds the waste); an OWED (priority)
    point skips a sub-floor full attempt and goes straight to the
    reduced fallback instead of burning its window."""
    return not (priority and avail_s < DEDUP_FULL_FLOOR_S)

# committed FULL-SPEED wall for the fixed single-thread CPU probe
# (_cpu_probe: 3M iterations of a float loop — pure interpreter work,
# no Spark, no IO). r15 finding: this container's host alternates
# between full speed and a ~0.4-0.6x FREQUENCY-THROTTLED regime that
# steal accounting does NOT show (a 32-way burn kept ~97% user ticks
# while doing 40% less work) and that the 1-second Spark probes
# under-detect (they throttle by the same factor and stay near their
# 2x threshold). The CPU probe measures the host's instruction rate
# directly; cpu_slow fires at 1.5x this. Calibrated full-speed
# readings on this container: 0.135-0.192 s over 10 samples.
CPU_IDLE_S = 0.20


def _cpu_probe() -> float:
    """Seconds for a fixed amount of single-thread CPU work."""
    t0 = time.monotonic()
    x = 1.0001
    for _ in range(3_000_000):
        x = x * 1.0000001 % 2.0
    return time.monotonic() - t0


# committed FULL-SPEED wall for the fixed IO/page-cache probe
# (_io_probe: 8 warm re-reads of the 11 MB sf0.1 lineitem parquet —
# ~88 MB of page-cache reads). r15's verdict found the CPU probe
# blessing readings taken in a regime 3-4x slower on Spark 100x
# workloads: the degradation was IO/page-cache-side, a dimension
# instruction-rate probing provably cannot see (VERDICT r15 item 1).
# Calibrated on this container: 0.011-0.015 s over repeated calm
# samples; io_slow fires at 3x (page-cache reads have more natural
# variance than the CPU loop).
IO_IDLE_S = 0.04
_IO_PROBE_FILE = "/root/testdata/sf0.1/lineitem.parquet"


def _io_probe() -> float:
    """Seconds for a fixed amount of warm page-cache file reads (one
    untimed pass primes the cache so the number measures RE-read
    throughput, not first-touch disk)."""
    try:
        with open(_IO_PROBE_FILE, "rb") as f:
            while f.read(1 << 20):
                pass
        t0 = time.monotonic()
        for _ in range(8):
            with open(_IO_PROBE_FILE, "rb") as f:
                while f.read(1 << 20):
                    pass
        return time.monotonic() - t0
    except Exception:
        return -1.0  # probe file missing: publish the sentinel, never fail


# 1-minute load average above which the host is hosting SOMEONE
# ELSE's work: the r16 garbage window read loadavg 9-15 with ZERO
# local processes while BOTH the CPU probe (0.13-0.32) and the IO
# probe (0.007-0.022) read clean — the only signal that caught that
# regime. Our own 32-way Spark bursts push the 1-min average too
# (the opening calibration's two q29 runs alone reach ~2-4), so the
# flag threshold is generous, fires only on the OPENING reading
# (taken before the heavy sections), and the raw values are
# published either way.
LOAD_IDLE_1M = 6.0


def _loadavg() -> float:
    """1-minute system load average (host-neighbor pressure signal —
    see LOAD_IDLE_1M)."""
    try:
        return os.getloadavg()[0]
    except Exception:
        return -1.0


def _run_noop(spark, specs, name: str, d: str) -> float:
    t0 = time.monotonic()
    specs[name].fn(spark, d).write.mode("overwrite").format("noop").save()
    return time.monotonic() - t0


def _scale_probe(spark) -> float:
    """Seconds for a fixed CPU-BOUND parallel workload (64 tasks of
    ~40 ms interpreter work each, ~2.6 CPU-s total): makes the cpus
    contract SELF-EVIDENT in the artifact (VERDICT r18 item 6 — the
    driver's suspect_cpus_ignored heuristic fired because sf0.1
    headline walls are overhead-bound and flat in core count; this
    probe is not: ~4x slower at local[8] than local[32])."""

    def burn(_):
        x = 1.0001
        for _ in range(1_200_000):
            x = x * 1.0000001 % 2.0
        return x

    sc = spark.sparkContext
    sc.setJobDescription("scale_probe: 64 cpu-bound tasks")
    t0 = time.monotonic()
    sc.parallelize(range(64), 64).map(burn).count()
    sc.setJobDescription(None)
    return time.monotonic() - t0


def _gc_level(spark) -> None:
    """Block hygiene before a timed point: localCheckpoint blocks
    (batch outputs, state swaps) are freed by the ContextCleaner only
    after JVM GC notices the dropped RDDs, and accumulation measurably
    degrades later queries — the r11 closing calibration read 6.2 s
    against a 1.0 s open probe purely from post-stress session state,
    which would have nulled the round's ratios as 'contention'."""
    import gc as _gc

    _gc.collect()
    spark.sparkContext._jvm.System.gc()


def _probe(spark, specs, sf_dir: str) -> float:
    """Per-window contention probe: min of two timed CAL_QUERY runs in
    the warm session (min filters a transient hiccup; persistent
    contention — or a genuinely degraded session, whose state the
    bracketed timings also ran under — still shows). A bad reading is
    re-probed ONCE after GC + a short settle: the ContextCleaner frees
    a big audit's blocks in asynchronous bursts that can stall both
    runs of one probe on an otherwise idle host (measured: 1.08 /
    4.81 / 0.81 s across three consecutive post-dedup probes), and a
    cleaner burst is session lifecycle, not window contention.
    ~3 s per call, ~8 s when the retry fires.

    Each probe also takes a CPU-speed reading (_cpu_probe): the host's
    frequency-throttled phases slow the 1-second Spark probe by the
    same factor it slows everything else, keeping it NEAR its own 2x
    threshold while multi-second points run 2-3x slow (r15 measured
    exactly that). A throttled reading returns a sentinel 99.0 that
    trips every _probe_bad threshold, so the bracketed point's window
    is flagged; the stderr line carries the real numbers."""
    _gc_level(spark)
    p = min(
        _run_noop(spark, specs, CAL_QUERY, sf_dir),
        _run_noop(spark, specs, CAL_QUERY, sf_dir),
    )
    if _probe_bad(p):
        _gc_level(spark)
        time.sleep(2)
        p = min(
            p,
            _run_noop(spark, specs, CAL_QUERY, sf_dir),
            _run_noop(spark, specs, CAL_QUERY, sf_dir),
        )
    c = _cpu_probe()
    if c > 1.5 * CPU_IDLE_S:
        print(
            f"# probe window CPU-THROTTLED: cpu {c:.2f}s "
            f"(full-speed {CPU_IDLE_S}s), spark probe {p:.2f}s",
            file=sys.stderr,
        )
        return 99.0
    return p


_CAL0: float | None = None  # this run's opening calibration (main sets it)


def _probe_bad(p: float) -> bool:
    """Bad-window threshold: the committed idle envelope, RELAXED to
    this run's own opening calibration on a uniformly-slower-but-idle
    host (ADVICE r12: an absolute-only threshold would flag every
    window there and null all ratios even though relative ratios were
    valid — mirrors the closing-cal drift rule). A genuinely contended
    start already fires cal_start, which nulls the ratios wholesale."""
    base = 2 * CAL_IDLE_S
    if _CAL0 is not None:
        base = max(base, 2 * _CAL0)
    return p > base


def _closing_cal(sf_dir: str) -> tuple[float | None, str]:
    """Closing calibration in a FRESH subprocess session, so the probe
    measures the HOST — not the parent session's accumulated scar
    tissue (r11's closing probe read 3.51 s vs 1.58 s open on a
    possibly-idle host and the drift was unattributable; VERDICT r11
    task 2). Returns (seconds, mode); seconds is None if the
    subprocess failed (caller falls back to the in-session probe)."""
    import subprocess

    code = (
        "import sys,time;"
        f"sys.path.insert(0,{REPO!r});"
        "from distributed_stream_processing_spark.plans import load_all;"
        "from distributed_stream_processing_spark.session import get_spark;"
        "spark=get_spark('bench-cal');specs=load_all();"
        f"fn=specs[{CAL_QUERY!r}].fn;d={sf_dir!r};"
        "fn(spark,d).write.mode('overwrite').format('noop').save();"
        "ts=[];\n"
        "for _ in range(2):\n"
        "    t0=time.monotonic()\n"
        "    fn(spark,d).write.mode('overwrite').format('noop').save()\n"
        "    ts.append(time.monotonic()-t0)\n"
        "print('CAL_S=%.3f'%min(ts))"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="8g")
    try:
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            # a healthy probe takes ~22 s incl. session startup; a
            # hung startup must not eat the driver's capture window
            timeout=60,
            env=env,
        )
        for ln in r.stdout.splitlines():
            if ln.startswith("CAL_S="):
                return float(ln.split("=", 1)[1]), "fresh"
        print(
            f"# closing-cal subprocess gave no CAL_S (rc={r.returncode}): "
            f"{(r.stderr or '')[-200:]}",
            file=sys.stderr,
        )
    except Exception as e:
        print(f"# closing-cal subprocess failed: {e}", file=sys.stderr)
    return None, "insession"


def _code_fingerprint() -> str:
    """Short fingerprint of the engine modules whose behavior the
    cached audit numbers depend on (ADVICE r12: scheme_audit.json /
    cand.json were keyed only by fixture location, so a code change
    silently republished stale counts). Any change to the similarity
    operators or signature functions invalidates the caches."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(REPO, "distributed_stream_processing_spark")
    for rel in (
        "operators/semi_stream_similarity.py",
        "operators/similarity_join.py",
        "functions/signatures.py",
        "functions/text.py",
    ):
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _load_fp_cache(path: str) -> dict | None:
    """Read a fingerprint-keyed cache file; None when missing or
    written by different engine code."""
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            data = json.load(f)
    except Exception:
        return None
    if data.get("fp") != _code_fingerprint():
        print(f"# stale audit cache (code changed): {path}", file=sys.stderr)
        return None
    return data


def _q48_split(spark, d: str):
    """The q48 stream/stored split of a documents directory, plus the
    session-memoized store artifacts (reuses the stress timing loop's
    build when q48 already ran against this dir in-session)."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.functions.text import tokens
    from distributed_stream_processing_spark.plans.olap_plans import (
        _SIM_STORE_MEMO,
        _load_or_build_sim_store,
    )
    from distributed_stream_processing_spark.session import session_key

    t = Fraction(3, 4)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    base = docs.select(
        F.col("doc_id").alias("id"), tokens("text").alias("tokens")
    )
    stream = base.filter(F.col("id") % 10 < 3)
    stored = base.filter(F.col("id") % 10 >= 3)
    key = (session_key(spark), d)
    if key not in _SIM_STORE_MEMO:
        # disk-backed under writable fixture dirs (r16) — same loader
        # as the registered q48 spec, so the memo and the saved store
        # agree on provenance
        _SIM_STORE_MEMO[key] = _load_or_build_sim_store(spark, d, stored, t)
    return stream, stored, _SIM_STORE_MEMO[key], t


def _pipeline_cand_count(spark, d: str) -> int:
    """Deduped candidate-pair count of the q48 pipeline's ACTUAL probe
    path (per-record V-selection on VSL groups, b_kind-targeted joins)
    against a directory's store — the workload-growth denominator for
    reading the stress ratios. Deterministic on a fixed fixture."""
    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.operators import (
        semi_stream_similarity as sss,
    )

    stream, _, store, t = _q48_split(spark, d)
    j = sss.SemiStreamSimilarityJoin(stored=None, threshold=t, artifacts=store)
    probe = j._probe_rows(stream)
    # the flat sig_store is no longer kept cached by the engine (r15:
    # only the kv directory is); cache it for this audit's scan only
    store.sig_store.cache()
    try:
        return (
            store.sig_store.join(F.broadcast(probe), sss._KEY + ["b_kind"])
            .filter(j._pair_filter)
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
            .count()
        )
    finally:
        store.sig_store.unpersist()


def _pipeline_pair_count(spark, d: str) -> int:
    """VERIFIED output pairs of the q48 pipeline's probe path against
    a directory's store (VERDICT r14 task 3): published beside the
    chosen-candidate counts at 1x/10x, cand/pairs_out becomes the
    readable chooser-efficiency ratio — it separates the scheme's
    residual candidate superlinearity from the stress corpus's
    genuinely superlinear near-pair volume. Deterministic on a fixed
    fixture."""
    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.operators import (
        semi_stream_similarity as sss,
    )

    stream, _, store, t = _q48_split(spark, d)
    j = sss.SemiStreamSimilarityJoin(stored=None, threshold=t, artifacts=store)
    probe = j._probe_rows(stream)
    cands = (
        store.sig_store.join(F.broadcast(probe), sss._KEY + ["b_kind"])
        .filter(j._pair_filter)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    a_reps = stream.select(
        F.col("id").alias("a_id"),
        F.size("tokens").alias("a_sz"),
        j._rep_expr.alias("a_rep"),
    )
    pairs = cands.join(F.broadcast(a_reps), "a_id").join(
        store.rep_store, "b_id"
    )
    store.sig_store.cache()  # audit-local (see _pipeline_cand_count)
    try:
        return sss._verify(pairs, t, j._mapping is not None).count()
    finally:
        store.sig_store.unpersist()


def _scheme_audit(spark, d: str) -> dict:
    """Candidate-pair and probe-row counts of the q48 pipeline's probe
    path on a stress directory's documents split, under the pipeline's
    own chosen layout (per-group equality / per-record V-selection —
    VERDICT r12 task 2 extends the audit to the probe side) AND forced
    all-equality — the measured evidence for the layout's candidate
    cut on the sparse-vocab stress corpus."""
    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.functions.signatures import (
        seg_count_dima,
    )
    from distributed_stream_processing_spark.operators import (
        semi_stream_similarity as sss,
    )

    stream, stored, store, t = _q48_split(spark, d)
    j = sss.SemiStreamSimilarityJoin(stored=None, threshold=t, artifacts=store)
    pf_len = (
        (t.denominator * F.col("b_sz") >= t.numerator * F.col("a_sz"))
        & (t.denominator * F.col("a_sz") >= t.numerator * F.col("b_sz"))
    )
    # probe-side V-selection audit: raw emitted rows vs chosen rows
    n_raw = j._sigs(stream, "a", own_group_only=True).count()
    n_chosen_rows = j._probe_rows(stream).count()
    n_chosen = _pipeline_cand_count(spark, d)
    hs_eq = {
        g: max(1, seg_count_dima(t, hi))
        for g, (lo, hi) in enumerate(store.groups)
    }
    del_eq = {g: False for g in hs_eq}
    probe_eq = sss._emit_sigs(stream, "a", True, store.groups, hs_eq, t, del_eq)
    n_eq = (
        sss._emit_sigs(stored, "b", False, store.groups, hs_eq, t, del_eq)
        .join(F.broadcast(probe_eq), sss._KEY)
        .filter(pf_len)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
        .count()
    )
    # compact keys: the whole bench line must stay under the
    # driver's ~2 KB tail capture (r6 lost its headline timings
    # to a 4.4 KB line)
    return {
        "fp": _code_fingerprint(),
        "vsl_groups": sorted(g for g, v in (store.vsl or {}).items() if v),
        "pairs_chosen": n_chosen,
        "pairs_eq": n_eq,
        "eq_over_chosen": round(n_eq / max(1, n_chosen), 2),
        "probe_rows_raw": n_raw,
        "probe_rows_chosen": n_chosen_rows,
    }


# the three 100x store-scale measurement sections live in
# tools/bench_100x.py (extracted r18 — VERDICT r16 task 7 / r17
# task 6: keep this file auditable); re-exported here so
# bench._q48_100x etc. stay the stable entry points for
# tools/judge_repro.py and the isolated-subprocess code strings
from tools.bench_100x import (  # noqa: E402
    _dedup_100x,
    _dedup_100x_isolated,
    _q33_100x,
    _q48_100x,
)




def _run_stress(
    spark,
    specs,
    sf_dir: str,
    deadline: float,
    skipped: list[str],
    reasons: list[str],
) -> dict | None:
    """10x scaling audit for the STRESS queries: same synthetic
    distribution at 1x (the sf0.1 shape) and 10x rows, generated
    deterministically on first use (gitignored local parquet —
    TESTDATA.md caps driver data at sf0.1). The 10x/1x runtime ratio
    on IDENTICAL distributions isolates engine scaling; the driver's
    own documents fixture has quadratic qualifying-pair volume, so a
    ratio against it would conflate output growth with engine
    behavior.

    Timing loops ONLY — the audits (scheme, 100x points) are
    scheduled by main() with explicit priorities, so a slow host
    degrades the least-valuable evidence first instead of whatever
    happened to run last (VERDICT r10 task 1/3: the r10 budget order
    dropped the contention flag and both 100x points while still
    publishing the contaminated numbers)."""
    try:
        from tools.gen_stress_sf1 import ensure_stress

        dirs = ensure_stress()
    except Exception as e:  # stress data is best-effort, never fatal
        print(f"# 10x stress skipped: {e}", file=sys.stderr)
        return None
    # short keys throughout the stress section ("q21", "1x") — the
    # JSON line must stay under the driver's tail capture; full names
    # are in STRESS and the stderr log
    out: dict[str, dict[str, dict]] = {n.split("_")[0]: {} for n in STRESS}
    # 1x points first (cheap, and every ratio needs its 1x); then 10x
    # most-valuable-first (q48 is the flagship cached-pipeline scaling
    # claim; q29 is cheap; q21's 10x is the most expensive and its
    # idle ratio is the best-replicated) so a budget squeeze drops the
    # right runs
    points = [("stress1x", n) for n in STRESS] + [
        ("stress10x", n)
        for n in (
            "q48_semi_stream_similarity",
            "q29_subseq_match_ed",
            "q21_dedup_minhash_lsh",
        )
    ]
    # per-window contention attribution: a short calibration probe
    # brackets every stress point, so one contended window nulls only
    # ITS query's ratio instead of the whole block. A point's window
    # is bad when either bracketing probe exceeds the envelope.
    win_bad: set[str] = set()
    # strict-envelope cleanliness, tracked separately: _probe_bad
    # RELAXES to 2x this run's opening cal on a slow-start host, so
    # relaxed-clean windows are suspect when cal_start fired — but a
    # window probing inside the ABSOLUTE envelope (2x CAL_IDLE_S) is
    # verifiably clean regardless, and its ratio survives the
    # cal_start wholesale null (r16).
    strict_bad: set[str] = set()
    p_prev = _probe(spark, specs, sf_dir)
    print(f"# stress window probe: {p_prev:.2f}s", file=sys.stderr)
    # work queue instead of a fixed pass (VERDICT r17 task 7): a point
    # whose bracketing probes were bad gets ONE retry enqueued at the
    # tail, after the other points — a single degraded phase used to
    # null the whole ratio_10x axis (two of three ratios null in r17)
    queue = list(points)
    retried: set[tuple[str, str]] = set()
    i = 0
    while i < len(queue):
        scale, name = queue[i]
        i += 1
        # two runs per (query, scale), report the MIN: run 1 pays
        # one-time costs (JIT, per-corpus memoized store builds),
        # run 2 is steady state — and a host hiccup can spike
        # either (single-run ratios swung up to 4x between clean
        # sessions), so min-of-2 measures steady-state engine
        # scaling at no extra cost over warm-up-then-time
        q, sc = name.split("_")[0], scale.replace("stress", "")
        d = dirs[scale]
        key = f"{q}_{sc}"
        if (scale, name) in retried:
            # a retry pass replaces the first attempt's verdict for
            # this point wholesale (flags re-derived below)
            win_bad.discard(key)
            strict_bad.discard(key)
            if f"stress:{q}" in reasons:
                reasons.remove(f"stress:{q}")
        # a 10x point whose FIRST run can't even start inside the
        # stress budget is dropped whole: a lone cold run produces no
        # usable ratio anyway (see below) and its ~100 s would eat the
        # reserved tail that pays for the q48_100x evidence
        if sc == "10x" and time.monotonic() > deadline:
            skipped.append(f"{scale}/{name} (budget)")
            continue
        if sc == "10x":
            # settle before each 10x point: the PREVIOUS 10x point's
            # store build + batches leave a ContextCleaner backlog
            # whose async drain slows the next multi-second job while
            # 1-second probes read clean (r13: q29's 10x measured
            # 4.3-5.0 s right after q48's 10x churn vs 1.5 s isolated,
            # and its tripwire nulled an otherwise-clean ratio)
            time.sleep(2)
            _gc_level(spark)
        if name.startswith("q48"):
            # pre-warm the memoized similarity store OUTSIDE the timed
            # window (VERDICT r13 task 8): the first timed q48 run at
            # each scale otherwise pays store build + JIT inside it
            # (~3x steady — 31.5 s vs 11.3 at 1x), which the
            # convergence loop then spends extra runs discarding
            try:
                _q48_split(spark, d)
            except Exception as e:
                print(f"# q48 store pre-warm failed: {e}", file=sys.stderr)
        times = [_run_noop(spark, specs, name, d)]
        if time.monotonic() < deadline:
            times.append(_run_noop(spark, specs, name, d))
        else:
            skipped.append(f"second run {scale}/{name}")
        # steady-state convergence for the 10x points: run 1 pays a
        # one-time store build AND a bimodal warm-up tail (run 2 is
        # sometimes still 2-3x steady — raw sequences in BASELINE.md
        # r13). Buy up to TWO more runs while the last two disagree
        # by >30% or the implied ratio is implausible (>2x the
        # judge-measured idle expectation), budget allowing; flag the
        # window only if it STAYS implausible.
        base_1x = out[q].get("1x", {}).get("min")
        if sc == "10x" and base_1x:
            while (
                len(times) < 4
                and time.monotonic() < deadline
                and (
                    min(times) / base_1x > 2 * EXPECTED_10X[q]
                    or abs(times[-1] - times[-2]) > 0.3 * min(times[-2:])
                )
            ):
                print(
                    f"# {scale} {name}: not steady (ratio "
                    f"{min(times) / base_1x:.1f}, last runs "
                    f"{times[-2]:.1f}/{times[-1]:.1f}) — extra run",
                    file=sys.stderr,
                )
                times.append(_run_noop(spark, specs, name, d))
            if (
                min(times) / base_1x > 2 * EXPECTED_10X[q]
                and f"stress:{q}" not in reasons
            ):
                reasons.append(f"stress:{q}")
        elif len(times) == 2:
            # 1x points get the same disagreement retry — min-of-2
            # once published a COLD build as the ratio denominator
            # while 1-second probes read clean (r13). GC between
            # retries: the pressure is usually reclaimable
            # checkpoint blocks.
            while (
                len(times) < 4
                and time.monotonic() < deadline
                and abs(times[-1] - times[-2]) > 0.3 * min(times[-2:])
            ):
                print(
                    f"# {scale} {name}: not steady (last runs "
                    f"{times[-2]:.1f}/{times[-1]:.1f}) — extra run",
                    file=sys.stderr,
                )
                _gc_level(spark)
                times.append(_run_noop(spark, specs, name, d))
        # runs array persisted in the JSON (not just stderr): when
        # the host is contended during run 2, min(cold, warm) IS
        # the cold build — r6's driver card recorded 26.75s where
        # an idle re-run gave 8.14s, with nothing in the JSON to
        # say so. A [cold, spiky] pair is now self-diagnosing.
        out[q][sc] = {
            "min": round(min(times), 3),
            "runs": [round(x, 2) for x in times],
        }
        print(
            f"# {scale} {name}: {out[q][sc]['min']}s "
            f"(runs {out[q][sc]['runs']})",
            file=sys.stderr,
        )
        p_next = _probe(spark, specs, sf_dir)
        if _probe_bad(p_prev) or _probe_bad(p_next):
            win_bad.add(key)
            if (scale, name) not in retried and time.monotonic() < deadline:
                retried.add((scale, name))
                queue.append((scale, name))
                print(
                    f"# {scale} {name}: window bad — retry enqueued",
                    file=sys.stderr,
                )
        if max(p_prev, p_next) > 2 * CAL_IDLE_S:
            strict_bad.add(key)
        print(f"# stress window probe: {p_next:.2f}s", file=sys.stderr)
        p_prev = p_next
    # per-query ratio: published only when BOTH scales completed >=2
    # runs (a single run is the cold path — the r10 q48 "8.97" was a
    # lone cold 10x run over a warm 1x min, store build and all) AND
    # both scales' probe windows were clean AND the tripwire did not
    # fire for this query; other queries' clean ratios survive
    ratios: dict[str, float | None] = {}
    for q in out:
        p1, p10 = out[q].get("1x"), out[q].get("10x")
        clean = (
            f"{q}_1x" not in win_bad
            and f"{q}_10x" not in win_bad
            and f"stress:{q}" not in reasons
        )
        if clean and p1 and p10 and len(p1["runs"]) >= 2 and len(p10["runs"]) >= 2:
            ratios[q] = round(p10["min"] / p1["min"], 2)
        else:
            ratios[q] = None
    if win_bad:
        reasons.extend(sorted(f"win:{w}" for w in win_bad))
    return {
        "queries": out,
        "data_ratio": 10.0,
        "ratio_10x": ratios,
        # consumed by main()'s cal_start rule, stripped from the line
        # (tracked per point key internally; main nulls per query)
        "_strict_bad": {k.split("_")[0] for k in strict_bad},
        # q48_cand_1x_10x (the workload-growth context for the
        # ratios) is measured — not hard-coded — in main() after this
        # loop, reusing the session-memoized stores and fp-keyed
        # per-dir caches (ADVICE r12: the previous constant
        # [359707, 37431750] was stale — measured under the
        # pure-equality layout two layouts ago)
    }


# 1600: r14's restored 100x protocol keys (ADVICE r13) add ~100
# bytes; the hard risk line is the driver's ~2 KB tail capture (r6
# lost the headline to a 4.4 KB line), so 1600 keeps ~25% margin
# while letting the blocks stay self-describing.
LINE_BUDGET = 1600


def _shrink_line(payload: dict) -> tuple[str, str | None]:
    """Serialize the bench payload, SELF-TRIMMING it under
    LINE_BUDGET when needed (r17: the rotation means a round can
    carry all four 100x sections plus the 4-leg ab block at once —
    rather than warn and hope, drop the least-quotable detail first:
    raw runs arrays, then the ab probe series, then the ab legs).
    The ``trim`` key records what was dropped; the caller prints the
    returned pre-trim line to stderr so no detail is lost. Returns
    (line, pre_trim_line_or_None). Pinned by
    tests/test_ab_protocol.py."""

    def _ser(o) -> str:
        return json.dumps(o, separators=(",", ":"))

    line = _ser(payload)
    if len(line) <= LINE_BUDGET:
        return line, None
    full = line
    trims: list[str] = []
    st = payload.get("sf1_stress") or {}
    steps = [
        (
            "stress_runs",
            lambda: [
                pt.pop("runs", None)
                for scales in (st.get("queries") or {}).values()
                for pt in scales.values()
            ],
        ),
        (
            "100x_runs",
            lambda: [
                st[k].pop(rk, None)
                for k in ("q48_100x", "q33_100x", "dedup_100x")
                if isinstance(st.get(k), dict)
                for rk in ("batch_runs", "b10_runs", "runs", "pairs_runs")
            ],
        ),
        (
            "ab_probes",
            lambda: [
                payload["ab"].pop(k, None)
                for k in ("cpu", "io", "load")
                if payload.get("ab")
            ],
        ),
        (
            "ab_legs",
            lambda: payload.get("ab", {}).pop("legs", None),
        ),
    ]
    for name, fn in steps:
        if len(line) <= LINE_BUDGET:
            break
        fn()
        new_line = _ser(payload)
        # record the step ONLY when it actually removed payload
        # (ADVICE r17: "ab_probes"/"ab_legs" were recorded even with
        # no ab block present — the trim key claimed detail was
        # dropped that never existed)
        if len(new_line) < len(line):
            trims.append(name)
            payload["trim"] = trims
            new_line = _ser(payload)
        line = new_line
    return line, full


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = load_all()
    # whole-bench SOFT deadline: headline timings are never skipped;
    # optional sections degrade past it so the JSON line always lands
    # inside the driver's window. The tail reserve pays for the 100x
    # points + the closing calibration BEFORE the stress loops can
    # spend that time on extra runs. 850 s: the full section set at
    # full speed measures ~680 s (cal ~25 + headline ~100 + ab ~110 +
    # dedup ~90 + stress ~150 + audits ~5 + q48_100x ~140 + q33_100x
    # ~45 + closing-cal reserve) with margin for a mid-degraded
    # window (budget history: BASELINE.md r15/r16).
    deadline = time.monotonic() + int(
        os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "850")
    )
    stress_deadline = deadline - RESERVE_TAIL_S
    skipped: list[str] = []
    reasons: list[str] = []  # contention detectors that fired

    # opening calibration probe: one warm-up run (absorbs session JIT
    # and first-scan costs), one timed run, compared to the COMMITTED
    # idle envelope — if the host is already contended, every number
    # below is born suspect and the flag says so up front
    _gc_level(spark)
    _run_noop(spark, specs, CAL_QUERY, sf_dir)
    cal0 = _run_noop(spark, specs, CAL_QUERY, sf_dir)
    cpu0 = _cpu_probe()
    io0 = _io_probe()
    load0 = _loadavg()
    global _CAL0
    _CAL0 = cal0  # per-run bad-window threshold input (_probe_bad)
    if cal0 > 2 * CAL_IDLE_S:
        reasons.append("cal_start")
    if cpu0 > 1.5 * CPU_IDLE_S:
        # the host is in its frequency-throttled regime (see
        # CPU_IDLE_S): every wall below scales by the throttle factor,
        # and the relative 10x ratios stay valid only while BOTH
        # scales ran in the same regime — which the per-point probes
        # cannot see. Flag it loudly; cpu is published either way.
        reasons.append("cpu_slow")
    if io0 > 3 * IO_IDLE_S:
        # the host's IO/page-cache regime is degraded — the dimension
        # the CPU probe provably missed in r15 (its r14-engine A/B
        # baselines were 3-4x slow at clean CPU readings; VERDICT r15
        # item 1). Spark walls from such a window are lower bounds.
        reasons.append("io_slow")
    if load0 > LOAD_IDLE_1M:
        # neighbor pressure: the r16 regime BOTH micro-probes missed
        reasons.append("load_high")
    print(
        f"# cpu probe open: {cpu0:.2f}s (full-speed envelope "
        f"{CPU_IDLE_S}s); io probe open: {io0:.3f}s (envelope "
        f"{IO_IDLE_S}s); loadavg open: {load0:.1f} (flag {LOAD_IDLE_1M})",
        file=sys.stderr,
    )
    print(
        f"# calibration open: {CAL_QUERY} {cal0:.2f}s "
        f"(idle envelope {CAL_IDLE_S}s)",
        file=sys.stderr,
    )
    # parallel-scaling probe (VERDICT r18 item 6): one CPU-bound
    # 64-task job whose wall scales ~linearly in core count, so the
    # artifact itself proves $SPARK_GRAFT_CPUS is honored (the sf0.1
    # headline walls are overhead-bound and core-flat, which tripped
    # the driver's suspect_cpus_ignored heuristic in r18)
    _scale_probe(spark)  # warm-up: python-worker spin-up + JIT
    scale_s = _scale_probe(spark)
    print(
        f"# scale probe: {scale_s:.2f}s for 64 cpu-bound tasks on "
        f"parallelism={spark.sparkContext.defaultParallelism}",
        file=sys.stderr,
    )

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    # controller regime of the benched semi-stream pipelines:
    # "measured/total" batches (batch 0 is the designed estimate — it
    # primes the SQL-metric baseline), read from the controller each
    # pipeline attaches to its result (VERDICT r7 task 6)
    ctl: dict[str, str] = {}
    # dev-loop subset filter (comma-separated name prefixes); the
    # driver never sets it, so the published protocol is unchanged
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = [
        n for n in HEADLINE if not only or n.startswith(tuple(only.split(",")))
    ]
    for name in headline:
        # block hygiene between queries (see _gc_level): q48, timed
        # last, ran 8.4s early-process vs 15s+ after 29 prior runs
        _gc_level(spark)
        if name.startswith(("q33", "q34", "q48")):
            # the big movers additionally get the probes' settle
            # (VERDICT r12 task 3: the driver-vs-judge-idle gap on
            # q48/q33 is session-position variance — the
            # ContextCleaner draining earlier queries' blocks in
            # bursts; a short sleep lets the burst land OUTSIDE the
            # timed window, the same mitigation the stress probes use)
            time.sleep(2)
            _gc_level(spark)
        times = []
        for _ in range(runs):
            t0 = time.monotonic()
            df = specs[name].fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            times.append(time.monotonic() - t0)
        # min over runs: steady-state plan+execute time, excluding JIT/
        # shuffle-service warmup noise (~20% run-to-run on local[32];
        # n>=3 per VERDICT r4 task 6 after r4's +9% jitter drift).
        # spread (max-min over the NON-FIRST runs) published so a
        # single driver number can be read against the session's own
        # steady-state jitter envelope; run 0 is excluded because it
        # carries one-time costs (JIT, memoized store builds) that are
        # warm-up, not jitter
        steady = times[1:] if len(times) > 1 else times
        timings[name] = round(min(times), 3)
        spread[name] = round(max(steady) - min(steady), 3)
        # headline contention check (VERDICT r10 task 1b): r10
        # published q48 with a 25.7 s steady-run spread against a
        # <=2 s idle envelope and nothing fired — the spread is a
        # free, in-hand contention signal for the very number it rides
        if spread[name] > 3 * IDLE_SPREAD_S.get(name, IDLE_SPREAD_DEFAULT_S):
            reasons.append(f"spread:{name.split('_')[0]}")
        print(
            f"# {name}: {timings[name]}s (min of {runs}, "
            f"spread {spread[name]}s)",
            file=sys.stderr,
        )
        if name.startswith(("q33", "q48")):
            # per-invocation controller carried on the result DataFrame
            # (not a module global, so pipelines can't cross-report)
            c = getattr(df, "_controller", None)
            if c is not None and c.history:
                n_meas = sum(1 for t in c.history if t.measured)
                ctl[name.split("_")[0]] = f"{n_meas}/{len(c.history)}"
                print(
                    f"#   controller regime: {n_meas}/{len(c.history)} "
                    "batches on the measured split",
                    file=sys.stderr,
                )
            else:
                # the seam is a dynamic attribute — any wrapping of the
                # pipeline result (select/cache/checkpoint) drops it
                # silently, and the ctl split would vanish from the
                # bench JSON with no signal (ADVICE r9). Publish the
                # loss instead of omitting the key.
                ctl[name.split("_")[0]] = "MISSING"
                print(
                    f"# WARNING {name}: diagnostics seam (_controller) "
                    "missing or empty — the plan result was wrapped "
                    "after run_semi_stream_* attached it",
                    file=sys.stderr,
                )

    # ---- optional sections: the engine-parity A/B always first
    # (VERDICT r15 task 1 — the round's committed cross-round
    # evidence; the r16 trial lost it to a dedup budget black hole
    # when it ran last), then the heavy sections in a ROUND-PARITY
    # ROTATED order (VERDICT r16 task 2 — see the rotation block
    # below). Each is probe-bracketed so a contended window nulls ITS
    # quotable numbers, not the block's; the closing calibration's
    # budget stays reserved throughout.
    def _tail_budget_ok(need: float) -> bool:
        return time.monotonic() + need <= deadline - CAL_CLOSE_RESERVE_S

    # engine-parity A/B (VERDICT r14 task 5, r15 task 1): when any
    # headline moved >10% beyond the larger of the two rounds'
    # published spreads, re-time the BIGGEST mover on the previous
    # round's engine (a worktree of its verdict commit) AND the
    # current tree; when nothing moved, A/B the FLAGSHIP (q48) anyway
    # — the cross-round parity statement is committed evidence either
    # way, and r15's lesson is that it must come from the hook, not
    # from hand-run sessions in unflagged windows. tools/ab_prev.py
    # runs the legs INTERLEAVED and SYMMETRIC since r17 (prev, cur,
    # prev, cur — >=2 legs per ENGINE; r16's single cur leg could not
    # distinguish "cur regressed" from "the window's slow phase
    # landed on the middle leg", which fabricated BENCH_r16's
    # no-drift 1.86x q33 regression — VERDICT r16 item 1) with CPU +
    # IO + load probes; a cross-engine verdict publishes ONLY when
    # each engine's own legs agree internally within 30%.
    # round/rotation bookkeeping + the rotation INVARIANT's owe flags
    # (VERDICT r17 task 5), computed HERE — before the A/B — because
    # the owed flags participate in the A/B-vs-owed-points priority
    # decision below. The invariant: any two CONSECUTIVE artifacts
    # must carry one FULL q48_100x (b10_s + cand present: the
    # reference-regime comparison against DSim's 2,099 ms log) and
    # one dedup_100x NUMBER (pairs_s, full or reduced) between them.
    # When the previous artifact lacks one, this run owes it
    # regardless of parity: dedup runs at rotation priority (with the
    # r18 reduced fallback) and q48_100x holds the full point down to
    # the reduced gate's budget.
    import glob as _glob
    import re as _re

    ns = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    round_n = (max(ns) + 1) if ns else 1
    # dev override (the driver never sets it): force a parity to
    # exercise either dispatch order without faking BENCH artifacts
    rot = int(os.environ.get("SPARK_GRAFT_ROT", round_n % 2))
    prev_art: dict = {}
    if ns:
        try:
            with open(
                os.path.join(REPO, f"BENCH_r{max(ns)}.json")
            ) as f:
                prev_art = json.load(f)
            if "queries" not in prev_art:  # driver wrapper: unwrap
                prev_art = prev_art.get("parsed") or {}
        except Exception:
            prev_art = {}
    prev_st = prev_art.get("sf1_stress") or {}
    prev_q48 = prev_st.get("q48_100x") or {}
    prev_dd = prev_st.get("dedup_100x") or {}
    owe_full_q48 = not (
        prev_q48.get("b10_s") is not None
        and prev_q48.get("cand") is not None
    )
    owe_dedup = prev_dd.get("pairs_s") is None

    ab = None

    def _sec_ab(min_need: float = 225) -> None:
        # ``min_need``: the budget floor to attempt the A/B at all.
        # 225 s is the r17 4-leg typical cost; the DEFERRED tail call
        # lowers it to 90 s (~2 legs) — run_ab's hard deadline then
        # publishes a partial/window pair instead of nothing.
        nonlocal ab
        try:
            from tools.ab_prev import prev_round_rev, run_ab

            prev_n, prev_rev = prev_round_rev()
            prev_bench = None
            if prev_n is not None:
                with open(os.path.join(REPO, f"BENCH_r{prev_n}.json")) as f:
                    prev_bench = json.load(f)
                # the driver wraps the bench line: {n, rc, tail,
                # parsed: {metric, queries, ...}} — unwrap it
                if "queries" not in prev_bench:
                    prev_bench = prev_bench.get("parsed") or {}
            ab_movers: list[tuple[float, str]] = []
            if prev_bench and prev_rev:
                for name, cur in timings.items():
                    p = prev_bench.get("queries", {}).get(name)
                    ps = prev_bench.get("spread_s", {}).get(
                        name.split("_")[0], 0.0
                    )
                    if p and abs(cur - p) > max(ps, spread.get(name, 0.0)) + 0.10 * p:
                        ab_movers.append((abs(cur - p) / p, name))
            if prev_rev:
                mover = (
                    max(ab_movers)[1]
                    if ab_movers
                    else "q48_semi_stream_similarity"
                )
                # 4 symmetric legs (r17) cost ~1/3 more than r16's 3:
                # each leg is a fresh session (~15-20 s startup) + warmup
                # + 1 timed run; 225 s covers the q33/q48-class movers.
                # The reservation is a TYPICAL cost, not the worst case —
                # 4 legs x (startup + the 120 s leg timeout) can exceed
                # 2x of it on a throttled host (ADVICE r17), so run_ab
                # also gets the reserved slice as a hard deadline: past
                # it, remaining legs drop and the pair publishes
                # partial/window instead of squeezing the rotated
                # sections behind it.
                if _tail_budget_ok(min_need):
                    avail = min(
                        225.0,
                        (deadline - CAL_CLOSE_RESERVE_S) - time.monotonic(),
                    )
                    ab = {
                        "q": mover.split("_")[0],
                        **run_ab(
                            mover,
                            prev_rev,
                            sf_dir,
                            runs=1,
                            timeout=120,
                            deadline=time.monotonic() + avail,
                        ),
                    }
                    print(f"# engine-parity ab ({mover}): {ab}", file=sys.stderr)
                else:
                    skipped.append(f"ab:{mover.split('_')[0]} (budget)")
                    print(
                        f"# engine ab skipped (budget); movers: "
                        f"{sorted(n for _, n in ab_movers)}",
                        file=sys.stderr,
                    )
        except Exception as e:
            print(f"# engine ab skipped: {e}", file=sys.stderr)

    # The A/B runs FIRST in a normal round (VERDICT r15 task 1: it is
    # the committed cross-round evidence and r16 lost it to a dedup
    # budget black hole when it ran last) — but when this artifact
    # OWES starved 100x points (rotation invariant, computed below
    # from the previous artifact) AND the window is flagged, the
    # priorities flip: a flagged window makes the A/B publish a
    # drift/window verdict anyway (r17 judge run, r18 dry run), while
    # the owed points have gone rounds without a number. Deferring
    # the A/B to the END is safe since r18: run_ab holds a hard
    # deadline and publishes partial/window legs instead of hanging
    # the tail (the r16 failure that motivated A/B-first). The flags
    # are the OPENING reasons plus a LIVE re-probe here — this host's
    # bursts routinely arrive mid-run (r18 dry run 2: opening cal
    # 2.6 s clean, loadavg 11.8-16 by A/B time), and a stale-clean
    # opening must not spend the owed points' budget on window legs.
    live_flags = list(reasons)
    if _loadavg() >= LOAD_IDLE_1M:
        live_flags.append("load_high")
    if _cpu_probe() > 1.5 * CPU_IDLE_S:
        live_flags.append("cpu_slow")
    if not _defer_ab(owe_full_q48 or owe_dedup, live_flags):
        _sec_ab()
        ab_deferred = False
    else:
        ab_deferred = True
        print(
            "# engine ab DEFERRED to tail: artifact owes 100x points "
            f"(owe_full_q48={int(owe_full_q48)} owe_dedup="
            f"{int(owe_dedup)}) and the window is flagged "
            f"({live_flags})",
            file=sys.stderr,
        )

    # 100x semi-stream similarity posture (VERDICT r9 task 5 / r10
    # task 2): fixed per-batch probe volume against a 100x store — the
    # reference's own scaling axis (DSim-Join/README.md:14)
    q33_100x = None
    q48_100x = None
    dedup_100x = None
    stress = None
    scheme_audit = None
    skip_sf1 = bool(os.environ.get("SPARK_GRAFT_SKIP_SF1"))
    skip_100x = skip_sf1 or bool(os.environ.get("SPARK_GRAFT_SKIP_100X"))

    def _sec_dedup_100x(priority: bool) -> None:
        # dedup_100x in a fresh isolated subprocess (the "isolated"
        # key says which regime produced the number). Budget: leave
        # the stress loops ~150 s plus the reserved tail, and a
        # timed-out isolated attempt must NOT be followed by an
        # unbounded in-session re-spend (the r16 budget black hole).
        # ``priority``: the artifact OWES this point (rotation
        # invariant) — a non-calm window downgrades to an attempt
        # whose quotables null on bad probes, never a skip.
        nonlocal dedup_100x
        if skip_100x:
            return
        cpu_now, load_now = _cpu_probe(), _loadavg()
        if cpu_now < 1.5 * CPU_IDLE_S and load_now >= LOAD_IDLE_1M:
            # the 1-min average may still be carrying OUR OWN just-
            # finished A/B subprocesses (32-way legs; e-folding 60 s)
            # — settle briefly and re-read before writing the window
            # off: 45 s decays self-load ~2x, neighbor load stays
            time.sleep(45)
            load_now = _loadavg()
            print(
                f"# dedup gate re-read after settle: load {load_now:.1f}",
                file=sys.stderr,
            )
        calm = cpu_now < 1.5 * CPU_IDLE_S and load_now < LOAD_IDLE_1M
        if not calm and not priority:
            # the point exists to publish a FULL-SPEED reading
            # (VERDICT r15 task 3: "run the dedup subprocess first
            # when cpu opens clean") — attempting it in a visibly
            # degraded window burns up to the 200 s cap for a number
            # the band can't use, and starves the 10x trio + q48_100x
            # behind it (r16 trials measured exactly that)
            skipped.append("dedup_100x (window)")
            print(
                f"# dedup 100x skipped: window not calm (cpu "
                f"{cpu_now:.2f}s, load {load_now:.1f})",
                file=sys.stderr,
            )
        elif _tail_budget_ok(150):
            if not calm:
                print(
                    f"# dedup 100x window not calm (cpu {cpu_now:.2f}s, "
                    f"load {load_now:.1f}) but rotation-priority — "
                    "attempting isolated; quotables null on bad probes",
                    file=sys.stderr,
                )
            try:
                p_a = _probe(spark, specs, sf_dir)
                avail_full = stress_deadline - 150 - time.monotonic()
                if not _dedup_full_attempt_viable(avail_full, priority):
                    print(
                        f"# dedup 100x: full-attempt budget "
                        f"{avail_full:.0f}s below useful floor -> "
                        "straight to reduced",
                        file=sys.stderr,
                    )
                    dedup_100x = None
                else:
                    dedup_100x = _dedup_100x_isolated(avail_full)
                if dedup_100x is not None:
                    dedup_100x["isolated"] = 1
                elif time.monotonic() < stress_deadline - 210:
                    dedup_100x = _dedup_100x(
                        spark, deadline=stress_deadline - 150
                    )
                    dedup_100x["isolated"] = 0
                elif priority and _tail_budget_ok(95):
                    # REDUCED fallback (VERDICT r17 task 2): the full
                    # subprocess hit its cap (or couldn't launch) and
                    # the in-session full can't fit — but the page
                    # cache is warm, so a pairs-only min-of-2 point
                    # (warm floor ~25 s/run) fits a 130 s cap. Three
                    # rounds published no diffable dedup number (r15
                    # throttled, r16 budget, r17 timeout); a reduced
                    # point beats another {attempted, timeout}. The
                    # gate deliberately eats into the STRESS budget
                    # (95 s vs the stress loops' claim): in a window
                    # squeezed this hard the stress quotables null on
                    # their probes anyway, and the owed dedup number
                    # is the starved axis.
                    dedup_100x = _dedup_100x_isolated(
                        min(
                            130.0,
                            (deadline - CAL_CLOSE_RESERVE_S)
                            - time.monotonic()
                            - 5,
                        ),
                        reduced=True,
                    )
                    if dedup_100x is not None:
                        dedup_100x["isolated"] = 1
                    else:
                        print(
                            "# dedup 100x reduced fallback also timed "
                            "out",
                            file=sys.stderr,
                        )
                else:
                    skipped.append("dedup_100x (budget)")
                    print(
                        "# dedup 100x in-session fallback skipped: the "
                        "isolated attempt consumed the budget",
                        file=sys.stderr,
                    )
                if dedup_100x is None and priority:
                    # rotation-priority round: the artifact records
                    # the attempt + its failure mode (isolated
                    # subprocess hit its cap — a throttled window can
                    # stretch the warm 26-80 s point past 200 s)
                    # instead of silently carrying nothing
                    dedup_100x = {"attempted": 1, "timeout": 1}
                p_b = _probe(spark, specs, sf_dir)
                print(
                    f"# dedup_100x window probes: {p_a:.2f}s / {p_b:.2f}s",
                    file=sys.stderr,
                )
                if dedup_100x is not None and "pairs_s" in dedup_100x and (
                    _probe_bad(p_a) or _probe_bad(p_b)
                ):
                    dedup_100x["pairs_s_raw"] = dedup_100x.pop("pairs_s")
                    dedup_100x["pairs_s"] = None
                    if "cluster_s" in dedup_100x:  # absent in reduced mode
                        dedup_100x["cluster_s_raw"] = dedup_100x.pop(
                            "cluster_s"
                        )
                        dedup_100x["cluster_s"] = None
                    reasons.append("win:dedup_100x")
                print(f"# dedup 100x: {dedup_100x}", file=sys.stderr)
            except Exception as e:
                print(f"# dedup 100x skipped: {e}", file=sys.stderr)
        else:
            skipped.append("dedup_100x (budget)")
            print("# dedup 100x skipped: budget", file=sys.stderr)

    def _sec_stress() -> None:
        # stress timing loops (VERDICT r15 task 2: the 10x axis was
        # the round's one strictly-regressed evidence line — every
        # ratio_10x/pairs_out@10x point published null on budget).
        # The stress similarity stores are disk-backed since r16
        # (plans/olap_plans._load_or_build_sim_store), so the 10x q48
        # pre-warm costs a parquet load, not an index build. The
        # deterministic fixture audits (scheme audit, cand/pairs
        # counts) ride along: they depend on the stress fixtures and
        # are cached per host, so they cost ~nothing after run 1.
        nonlocal stress, scheme_audit
        if skip_sf1:
            return
        stress = _run_stress(
            spark, specs, sf_dir, stress_deadline, skipped, reasons
        )
        if stress is None:
            return

        # signature-scheme audit on the sparse-vocab stress corpus: the
        # stress documents (2k-word vocab, 8-100-token docs) flip the
        # pipeline's scheme chooser to the deletion layout for the long
        # groups; record the flags and the measured candidate cut vs
        # forced all-equality. The counts are DETERMINISTIC on the fixed
        # fixture (no timings), so the result is computed once per host
        # and cached beside the fixture (ADVICE r11: also fixes the
        # duplicated path literal — the directory comes from BASE_DIR).
        from tools.gen_stress_sf1 import BASE_DIR

        cache_path = os.path.join(BASE_DIR, "scheme_audit.json")
        scheme_audit = _load_fp_cache(cache_path)
        if scheme_audit is not None:
            print(f"# scheme audit (cached): {scheme_audit}", file=sys.stderr)
        elif _tail_budget_ok(60):
            try:
                scheme_audit = _scheme_audit(
                    spark, os.path.join(BASE_DIR, "stress1x")
                )
                with open(cache_path, "w") as f:
                    json.dump(scheme_audit, f)
                print(f"# scheme audit: {scheme_audit}", file=sys.stderr)
            except Exception as e:
                print(f"# scheme audit skipped: {e}", file=sys.stderr)
        else:
            skipped.append("scheme_audit (budget)")
            print("# scheme audit skipped: budget", file=sys.stderr)

        # measured candidate growth of the q48 probe path at 1x/10x
        # (replaces the stale hard-coded constant — ADVICE r12) plus
        # the VERIFIED pair counts (VERDICT r14 task 3: cand/pairs_out
        # at both scales separates chooser inefficiency from the
        # corpus's true near-pair growth). The stress timing loop
        # already built+memoized both stores in this session, so each
        # count is one broadcast join (+ one verify join for pairs);
        # fp-keyed per-dir caches make later runs free.
        cands, pairs = [], []
        for scale in ("stress1x", "stress10x"):
            cpath = os.path.join(BASE_DIR, f"cand_{scale}.json")
            cached = _load_fp_cache(cpath)
            if cached is not None and "pairs_out" in cached:
                cands.append(cached["cand"])
                pairs.append(cached["pairs_out"])
                continue
            if not _tail_budget_ok(60):
                cands.append(None)
                pairs.append(None)
                skipped.append(f"cand_{scale} (budget)")
                continue
            try:
                n = _pipeline_cand_count(
                    spark, os.path.join(BASE_DIR, scale)
                )
                m = _pipeline_pair_count(
                    spark, os.path.join(BASE_DIR, scale)
                )
                with open(cpath, "w") as f:
                    json.dump(
                        {"fp": _code_fingerprint(), "cand": n, "pairs_out": m},
                        f,
                    )
                cands.append(n)
                pairs.append(m)
            except Exception as e:
                print(f"# cand {scale} skipped: {e}", file=sys.stderr)
                cands.append(None)
                pairs.append(None)
        if any(c is not None for c in cands):
            stress["q48_cand_1x_10x"] = cands
        if any(p is not None for p in pairs):
            stress["q48_pairs_1x_10x"] = pairs
        print(
            f"# q48 pipeline cand 1x/10x: {cands} pairs_out: {pairs}",
            file=sys.stderr,
        )

    def _sec_q48_100x(force_full: bool = False) -> None:
        # the flagship 100x store-scale point (the reference's own
        # claim axis, DSim-Join/README.md:14), carrying the bracketed
        # b10 pair (VERDICT r15 task 4)
        nonlocal q48_100x
        if skip_100x:
            return
        try:
            from tools.gen_stress_sf1 import ensure_dedup_100x

            d100 = ensure_dedup_100x()
            # ~140s warm (saved store ~10-60s load + two timed batches
            # ~20-45s each + the bracketed b10 pair; the cand count is
            # cached after the first run) / ~400s cold (first run on a
            # host builds + saves the 100x index); only attempt what
            # the remaining budget actually covers. On a warm store a
            # squeezed tail (the odd-round rotation runs this section
            # LAST) degrades to a REDUCED point — steady batch pair
            # only, no b10/cand — instead of shedding the whole point
            # (r17: the artifact should never lose the flagship 100x
            # axis entirely two rounds in a row).
            # ``force_full`` (VERDICT r17 task 5): the PREVIOUS
            # artifact carried no full point, so this round owes it —
            # on a warm store the extra b10 pair + (host-cached) cand
            # cost ~20-40 s over reduced, so the full attempt is
            # allowed down to the reduced gate's budget.
            warm = os.path.isdir(os.path.join(d100, "q48store", "groups"))
            need_full = 140 if warm else 400
            full_ok = _tail_budget_ok(need_full) or (
                force_full and warm and _tail_budget_ok(90)
            )
            reduced = not full_ok and warm and _tail_budget_ok(90)
            if not (full_ok or reduced):
                skipped.append("q48_100x (budget)")
                print("# q48 100x skipped: budget", file=sys.stderr)
            else:
                if reduced:
                    print(
                        "# q48 100x: budget squeeze -> reduced point "
                        "(steady batches only, no b10/cand)",
                        file=sys.stderr,
                    )
                p_a = _probe(spark, specs, sf_dir)
                q48_100x = _q48_100x(
                    spark, d100,
                    deadline=deadline - CAL_CLOSE_RESERVE_S - 50,
                    reduced=reduced,
                )
                p_b = _probe(spark, specs, sf_dir)
                print(
                    f"# q48_100x window probes: {p_a:.2f}s / {p_b:.2f}s",
                    file=sys.stderr,
                )
                if _probe_bad(p_a) or _probe_bad(p_b):
                    # contended window: raw runs stay, the quotable
                    # steady-batch number goes null
                    q48_100x["batch_s"] = None
                    reasons.append("win:q48_100x")
                print(f"# q48 100x: {q48_100x}", file=sys.stderr)
        except Exception as e:
            print(f"# q48 100x skipped: {e}", file=sys.stderr)

    def _sec_q33_100x() -> None:
        nonlocal q33_100x
        if skip_100x:
            return
        if _tail_budget_ok(60):
            try:
                p_a = _probe(spark, specs, sf_dir)
                q33_100x = _q33_100x(
                    spark, deadline=deadline - CAL_CLOSE_RESERVE_S
                )
                p_b = _probe(spark, specs, sf_dir)
                print(
                    f"# q33_100x window probes: {p_a:.2f}s / {p_b:.2f}s",
                    file=sys.stderr,
                )
                if _probe_bad(p_a) or _probe_bad(p_b):
                    q33_100x["batch_s_raw"] = q33_100x.pop("batch_s")
                    q33_100x["batch_s"] = None
                    reasons.append("win:q33_100x")
                print(f"# q33 100x: {q33_100x}", file=sys.stderr)
            except Exception as e:
                print(f"# q33 100x skipped: {e}", file=sys.stderr)
        else:
            skipped.append("q33_100x (budget)")
            print("# q33 100x skipped: budget", file=sys.stderr)

    # round-parity rotation of the heavy optional sections (VERDICT
    # r16 task 2): a fixed priority list starves its TAIL on every
    # degraded host — two rounds running, at least one 100x point was
    # text-only evidence. The heavies now rotate by the parity of the
    # ROUND THIS RUN BECOMES (newest BENCH_r{N} + 1): odd rounds lead
    # with the points the fixed order starved (q33_100x, then
    # dedup_100x at rotation priority — attempted even in a non-calm
    # window, quotables nulling on bad probes) and run q48_100x last;
    # even rounds run the r16 order (dedup, stress trio, q48, q33).
    # Every point lands at least every second BENCH artifact, and the
    # JSON line's "rot" key says which regime produced this one.
    print(
        f"# rotation: round r{round_n} parity {rot} "
        f"(owe_full_q48={int(owe_full_q48)} owe_dedup={int(owe_dedup)}) -> "
        + (
            "q33_100x, dedup_100x(priority), stress, q48_100x"
            if rot
            else "dedup_100x, stress, q48_100x, q33_100x"
        ),
        file=sys.stderr,
    )
    if rot:
        _sec_q33_100x()
        _sec_dedup_100x(priority=True)
        _sec_stress()
        _sec_q48_100x(force_full=owe_full_q48)
    else:
        _sec_dedup_100x(priority=owe_dedup)
        _sec_stress()
        _sec_q48_100x(force_full=owe_full_q48)
        _sec_q33_100x()
    if ab_deferred:
        # deferred A/B (owed points outranked it): whatever budget the
        # owed sections left, bounded by its own 225 s reservation and
        # hard deadline — a squeezed tail publishes partial/window legs
        _sec_ab(min_need=90)

    # closing calibration: fresh SUBPROCESS session, so it measures
    # the HOST against the committed idle envelope — the parent
    # session's accumulated state (the r11 cal_end ambiguity) cannot
    # move it. Runs LAST: every published timing is now inside the
    # bracket. The parent is quiesced first (GC + settle) because its
    # ContextCleaner draining the 100x audits' blocks IS host load
    # the subprocess would otherwise read as contention; a bad
    # reading gets ONE retry after a longer settle before flagging.
    # Falls back to the in-session probe (drift rule) if the
    # subprocess fails.
    _gc_level(spark)
    time.sleep(3)
    cpu1 = _cpu_probe()
    io1 = _io_probe()
    load1 = _loadavg()
    if io1 > 3 * IO_IDLE_S:
        reasons.append("io_slow_end")
    cal1, cal_mode = _closing_cal(sf_dir)
    if cal1 is not None and cal1 > 2 * CAL_IDLE_S:
        print(
            f"# closing cal read {cal1:.2f}s — settling + one retry",
            file=sys.stderr,
        )
        _gc_level(spark)
        time.sleep(10)
        cal_retry, mode2 = _closing_cal(sf_dir)
        if cal_retry is not None:
            cal1, cal_mode = min(cal1, cal_retry), mode2
    if cal1 is not None:
        if cal1 > 2 * CAL_IDLE_S:
            reasons.append("cal_end")
    else:
        _gc_level(spark)
        cal1 = _run_noop(spark, specs, CAL_QUERY, sf_dir)
        if cal1 > max(2 * cal0, 2 * CAL_IDLE_S):
            reasons.append("cal_end")
    print(
        f"# calibration close ({cal_mode}): {CAL_QUERY} {cal1:.2f}s "
        f"(open {cal0:.2f}s) -> contended={sorted(set(reasons))}",
        file=sys.stderr,
    )

    contended = sorted(set(reasons))
    if stress is None and any(
        v is not None for v in (scheme_audit, dedup_100x, q33_100x, q48_100x)
    ):
        # the stress fixtures failed but the 100x points ran — publish
        # them under the same section rather than dropping evidence
        stress = {}
    if stress is not None:
        strict_bad = stress.pop("_strict_bad", set())
        if "cal_start" in reasons and stress.get("ratio_10x"):
            # the run started on a contended host, so the per-point
            # bad-window threshold was RELAXED — null only the ratios
            # whose own windows exceeded the ABSOLUTE committed
            # envelope; a ratio whose stress windows probed inside
            # 2x CAL_IDLE_S is verifiably clean whatever the opening
            # minute looked like
            stress["ratio_10x"] = {
                q: (None if q in strict_bad else r)
                for q, r in stress["ratio_10x"].items()
            }
        if scheme_audit is not None:
            # vsl_groups/fp are deterministic and live in the cache
            # file + stderr; the JSON line carries only headline counts
            scheme_audit = {
                k: v
                for k, v in scheme_audit.items()
                if k not in ("vsl_groups", "fp")
            }
        if q33_100x is not None:
            # probe_rows/miss_keys are code constants (printed with the
            # full dict on stderr) — the line budget keeps measurements
            q33_100x = {
                k: v
                for k, v in q33_100x.items()
                if k not in ("probe_rows", "miss_keys")
            }
        for k, v in (
            ("scheme_audit", scheme_audit),
            ("dedup_100x", dedup_100x),
            ("q33_100x", q33_100x),
            ("q48_100x", q48_100x),
        ):
            if v is not None:
                stress[k] = v
        if skipped:
            # strip the uniform suffix — every entry here IS a budget
            # skip, and the line budget is tight (r6 lesson)
            stress["budget_skipped"] = [
                x.replace(" (budget)", "") for x in skipped
            ]
    total = round(sum(timings.values()), 3)
    # the full baseline context (workload shapes, output-bound caveats,
    # attribution notes) lives in BASELINE.md and stderr — the JSON
    # line carries only short row pointers. r6 lost every headline
    # timing because a 4.4 KB line outran the driver's ~2 KB tail
    # capture; the line must stay well under that (guarded below).
    print(
        "# baseline map: q33=DS-Join 2.2x claim; q48=DSim 2099ms/batch; "
        "q16=Dima 13785ms build; q29=KV-match 9.72ms/cand (moved off "
        "the JSON line in r15 — line budget). "
        "baseline context: q33=DS-Join equi-join 600k rows/4 batches; "
        "q48=DSim cached sim join 1.5kx3.5k docs/3 batches "
        "(output-bound at sf0.1: ~1.2M cand pairs, ~550k rows per batch "
        "vs ~10-doc reference batches); q16=full exact 5k-doc self-join "
        "vs Dima's 13785ms index build alone; q29=index build at 100k "
        "points + probe + exact verify. See BASELINE.md.",
        file=sys.stderr,
    )
    print(
        "# r18 note: six protocol changes per VERDICT r17 / ADVICE "
        "r17. (1) The rotation now carries an INVARIANT: when the "
        "previous artifact lacks a full q48_100x (b10+cand) or a "
        "dedup_100x number, this run owes it regardless of parity "
        "(owe_* flags in the rotation line). (2) dedup_100x gets the "
        "reduced fallback q48_100x had: pairs-only min-of-2, "
        "reduced:1, when the full isolated attempt times out. (3) "
        "q48_100x's disagreement retry now fires once even past the "
        "soft deadline (r17 reduced published min-of-2 over legs "
        "disagreeing 4x). (4) run_ab takes the reserved slice as a "
        "hard deadline — past it, remaining legs drop and the pair "
        "publishes partial:1/window. (5) When points are OWED and the "
        "OPENING probes flag the window, the A/B defers to the tail "
        "(its verdict degrades to window in such windows anyway; the "
        "owed 100x numbers are the starved evidence) and runs there "
        "on the remaining slice down to a 2-leg floor. (6) An owed "
        "dedup point skips a full attempt whose budget is below the "
        "viability floor (a sub-100s launch is a guaranteed timeout) "
        "and goes straight to reduced, which may eat into the stress "
        "budget. Trim keys now record only steps "
        "that actually removed payload. Carried: SYMMETRIC 4-leg ab "
        "(verdict only on per-engine 30% internal agreement, else "
        "drift/window), round-parity rotation (key rot), "
        "io/load [open,close] probes, b10 min-of-2 over disjoint "
        "fresh-miss classes, per-window attribution, fresh-subprocess "
        "closing cal, fp-keyed audit caches, layout-versioned stores "
        "(v5), disk-backed stress similarity stores. Full protocol "
        "history: BASELINE.md r14-r17.",
        file=sys.stderr,
    )
    payload = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            # steady-state jitter envelope per headline, keyed by the
            # query's short prefix (full names would blow the line
            # budget; positional arrays misread one reordering away)
            "spread_s": {n.split("_")[0]: spread[n] for n in timings},
            # bracketing calibration probe [open, close] vs the
            # committed CAL_IDLE_S envelope; close is measured in a
            # fresh subprocess session (host-only) unless cal_fallback;
            # "contended" lists every detector that fired (absent =
            # clean window)
            "cal": [round(cal0, 2), round(cal1, 2)],
            # fixed single-thread CPU work at [open, close] vs the
            # committed full-speed CPU_IDLE_S — the host-frequency
            # context every wall above must be read against
            "cpu": [round(cpu0, 2), round(cpu1, 2)],
            # fixed warm page-cache re-reads at [open, close] vs
            # IO_IDLE_S — the regime dimension the CPU probe cannot
            # see (VERDICT r15 item 1); -1 = probe file missing
            "io": [round(io0, 3), round(io1, 3)],
            # 1-min load average at [open, close] — neighbor pressure,
            # the signal that caught the r16 garbage window both
            # micro-probes missed (close reading includes our own
            # tail; only the open reading flags)
            "load": [round(load0, 1), round(load1, 1)],
            # engine-parity A/B of the round's biggest headline mover
            # (prev-round engine vs current tree, fresh subprocesses,
            # same window) — present only when a mover fired and the
            # budget allowed the re-timing
            **({"ab": ab} if ab else {}),
            # ADVICE r13: when the per-window bad-probe threshold was
            # RELAXED past the committed envelope (opening cal slow but
            # under the cal_start trip), say so — windows published as
            # clean tolerated up to this many seconds of probe latency
            **(
                {"win_threshold_relaxed": round(2 * cal0, 2)}
                if cal0 > CAL_IDLE_S
                else {}
            ),
            **({"cal_fallback": True} if cal_mode == "insession" else {}),
            **({"contended": contended} if contended else {}),
            "sf": float(sf),
            "runs": runs,
            # cpus-contract self-evidence (VERDICT r18 item 6): the
            # session's actual master + task slots, and the wall of a
            # fixed CPU-bound 64-task job (scales ~linearly in cores,
            # unlike the overhead-bound sf0.1 headline walls)
            "parallelism": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            # the JVM-Python channel ("tcp" where no short socket
            # directory could be made): TCP pays a ~40 ms stall per
            # Python task, so walls from the two are not comparable
            "channel": python_channel(spark),
            "scale_probe_s": round(scale_s, 2),
            # round-parity rotation regime of the heavy optional
            # sections (1 = q33/dedup-first, 0 = r16 order) — says
            # which points were owed to THIS artifact
            "rot": rot,
            # measured/total controller batches (batch 0 = designed
            # estimate); both pipelines must show the measured split
            # engaged from batch 1 on
            **({"ctl": ctl} if ctl else {}),
            **({"sf1_stress": stress} if stress else {}),
    }

    line, trimmed_full = _shrink_line(payload)
    if trimmed_full is not None:
        # full untrimmed detail preserved on stderr (printed BEFORE
        # the stdout line, so the driver's end-anchored tail capture
        # keeps the JSON line whole)
        print("# FULL (pre-trim) bench line: " + trimmed_full, file=sys.stderr)
    if len(line) > LINE_BUDGET:
        print(
            f"# WARNING: bench JSON line is {len(line)} bytes even "
            "after trims (driver tail capture risk above ~2 KB)",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
