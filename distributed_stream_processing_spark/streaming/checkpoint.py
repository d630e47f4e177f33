"""Truly-lazy local checkpointing for per-batch state swaps.

``Dataset.localCheckpoint(eager=False)`` is not lazy under AQE: it
resolves the FINAL physical plan at call time, and adaptive planning
resolves a final plan by actually EXECUTING every intermediate query
stage (shuffles, subplan jobs). For a state DataFrame containing
joins this is a hidden eager action — the semi-stream pipelines'
"one combined job per batch" silently became several, with the
state compute running serially at the checkpoint call and the
combined action merely re-scanning it (observed as
'localCheckpoint'-callsite stages with multi-CPU-second cost at the
start of every batch).

``lazy_local_checkpoint`` plans the checkpoint with AQE disabled, so
no shuffle stage runs at the call and the state materializes inside
the batch's single combined action, sharing the cluster with the
output verify as designed (X8 lineage truncation, one action per
batch). The call is not free of jobs, though: a static plan prepares
its broadcast exchanges when the RDD is built, so every broadcast-
hinted join in the checkpointed plan runs its broadcast job AT THE
CALL (the missed-key checkpoint ran 2-6 jobs before the fetch). The
state subplans lose nothing from static planning: every join in them
carries an explicit broadcast hint, and their output partitioning is
pinned by coalesce.

Leaves carry no constraints from their source plan. Spark 4 keeps a
checkpoint leaf's (``LogicalRDD``) origin constraints, so a leaf built
from ``filter(k IN (...))`` — a pushdown-fetched delta — carries that
IN list into every later plan that reads it. The optimizer then copies
the list onto the broadcast side of each semi-join against the leaf;
the broadcasts differ per leaf, Spark cannot reuse one exchange, and
each pending delta ran its own broadcast job, so per-batch job counts
grew with the number of pending deltas (13 -> 21 jobs over five
batches of perfbench's enrich_drift workload).
The checkpoint is therefore planned with constraint propagation off as
well. Both settings are scoped to the call and restored after it; the
session's own settings never change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# release accounting (VERDICT r16 item 4): release_checkpoint's JVM
# unpersist is deliberately best-effort — but if the _ckpt_jrdd handle
# silently broke (a py4j/Spark upgrade changing the LogicalRDD shape),
# every release would no-op and state would revert to leak-by-GC, the
# exact failure mode this module exists to kill. The counters make
# that visible: the soak (tools/soak_q48.py) asserts succeeded ==
# attempted on top of its persisted-RDD boundedness check.
RELEASE_STATS = {"attempted": 0, "succeeded": 0}

# session settings turned off for the duration of one checkpoint call:
# AQE (a call-time AQE plan executes its shuffle stages) and
# constraint propagation (a leaf keeps its source plan's constraints)
_PLAN_OFF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.constraintPropagation.enabled",
)


def lazy_local_checkpoint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """NOT safe under concurrent planning on the same session (the
    conf toggles are session-scoped); the semi-stream pipelines run
    batches sequentially on the driver, which is the intended use.
    Only checkpoint plans whose joins carry explicit broadcast hints
    — static planning picks sort-merge for unhinted joins with
    unknown stats.

    ``cols``: optional output column names (the ``toDF`` rename the
    pipelines apply so a leaf gets fresh expression ids), applied HERE
    so the returned frame still carries the ``_ckpt_jrdd`` handle —
    the underlying checkpointed JVM RDD, which ``release_checkpoint``
    needs because ``DataFrame.unpersist()`` cannot release checkpoint
    blocks (they are RDD-level persisted, not CacheManager entries;
    ADVICE r15)."""
    spark = df.sparkSession
    prev = {k: spark.conf.get(k) for k in _PLAN_OFF}
    for k in _PLAN_OFF:
        spark.conf.set(k, "false")
    try:
        out = df.localCheckpoint(eager=False)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    jrdd = None
    try:
        plan = out._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            jrdd = plan.rdd()
    except Exception:
        jrdd = None
    if cols is not None:
        out = out.toDF(*cols)
    out._ckpt_jrdd = jrdd
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Actually free the executor blocks behind a pipeline state pin.

    ``DataFrame.unpersist()`` only clears CacheManager entries; a
    localCheckpoint's blocks are persisted on the underlying RDD, so
    for checkpoint leaves it is a no-op and block release otherwise
    happens nondeterministically via Python GC → py4j detach →
    ContextCleaner (ADVICE r15 — with 2+ pinned leaves per batch,
    executor storage on long streams floats with GC lag). This
    unpersists the held checkpoint RDD (``_ckpt_jrdd``, captured by
    ``lazy_local_checkpoint``) when present, and falls back to the
    CacheManager unpersist for plain ``.cache()`` pins.

    Only call on a pin no consumer will read again: a localCheckpoint
    has no lineage to recompute from, so a read-after-release fails
    loudly with a missing-block error. Spark logs one WARN per release
    ("was locally checkpointed ... cannot be recomputed after
    unpersisting") — that is the JVM restating this contract, not a
    fault; the pipelines release only leaves whose consumers all ran
    inside the batch's completed combined action."""
    jrdd = getattr(df, "_ckpt_jrdd", None)
    if jrdd is not None:
        RELEASE_STATS["attempted"] += 1
        try:
            jrdd.unpersist(False)
            RELEASE_STATS["succeeded"] += 1
        except Exception:
            # best-effort by contract (a release can lose a race with
            # session teardown) — but counted, so a SYSTEMATICALLY
            # broken handle fails the soak's release assertion instead
            # of silently reverting to leak-by-GC
            pass
        df._ckpt_jrdd = None
    else:
        df.unpersist()
