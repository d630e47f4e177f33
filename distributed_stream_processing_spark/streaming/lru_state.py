"""Deferred-compaction state shared by the two cached semi-stream
pipelines (``SemiStreamJoin`` and ``SemiStreamSimilarityJoin``).

Between compactions a pipeline's state is its base checkpoints
(cache, LRU) plus one delta per pending batch: ``(batch_id, keys,
fetched)``, where ``keys`` is the batch's pinned key set and
``fetched`` its pinned fetch leaf. ``state_views`` builds the flat
append-only views over them (unions only, no joins), and ``fold_lru``
is the compaction's latest-wins fold of the LRU view.

The fold is ONE shuffle, ``groupBy(key).max(last_seen)`` over the
union, so a compaction launches the same Spark jobs whether it folds
two deltas or six; a per-delta chain of broadcast anti-joins
(``lru.anti(keys_i) ∪ keys_i``) runs one broadcast job per delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def state_views(
    base_cache: DataFrame, base_lru: DataFrame, deltas: list[tuple]
) -> tuple[DataFrame, DataFrame]:
    """(cache, lru) as base ∪ every delta. A key probed in several
    pending batches appears with several ``last_seen`` rows; every
    pipeline read of the views is set membership (semi/anti joins),
    and ``fold_lru`` resolves the duplicates at compaction."""
    cache, lru = base_cache, base_lru
    for batch_id, keys, fetched in deltas:
        cache = cache.unionByName(fetched)
        lru = lru.unionByName(keys.withColumn("last_seen", F.lit(batch_id)))
    return cache, lru


def fold_lru(lru_view: DataFrame, key: list[str]) -> DataFrame:
    """Latest-wins fold of a flat LRU view: one row per key carrying
    its most recent ``last_seen``."""
    return lru_view.groupBy(*key).agg(F.max("last_seen").alias("last_seen"))
