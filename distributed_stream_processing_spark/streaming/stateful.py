"""Operator-scoped streaming state via applyInPandasWithState.

The reference hand-managed all cross-batch state in driver RDD swaps
(LRU/cache, SURVEY §2.8 W4). Structured Streaming's keyed state API
is the engine-native alternative for per-key running state; this
module provides the running per-key aggregate used by the tests and
as a template for custom stateful operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from distributed_stream_processing_spark.operators.subsequence_match import (
    _fixed_decimal,
)


def running_user_stats(
    events_stream: DataFrame, value_scale: int = 100
) -> DataFrame:
    """Streaming per-user running (n_events, sum_value), emitted each
    micro-batch in update style (append of current totals).

    Values accumulate as exact scaled integers (``value_scale=100``
    for 2-decimal data), so the running totals carry no float
    summation-order dependence — across batches, partitions, OR
    engines: the q55 gate reproduces the final totals in DuckDB
    bit-exactly. (A float accumulator would depend on pandas' pairwise
    summation order, which no SQL engine replicates.) A value off the
    ``value_scale`` grid fails the query (``_fixed_decimal``, the
    contract of every ``value_scale`` path) instead of being rounded
    onto it."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                _fixed_decimal(pdf["value"], value_scale, "event value").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [cents / value_scale],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
