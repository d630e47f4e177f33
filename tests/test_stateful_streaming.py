"""applyInPandasWithState: keyed running state across micro-batches."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.catalog import Catalog
from distributed_stream_processing_spark.sources.stream import stage_stream_files
from distributed_stream_processing_spark.streaming.stateful import running_user_stats

SCRATCH = "/root/repo/.tmp/stateful"


def test_running_state_converges_to_batch_totals(spark, sf_smoke):
    ev = Catalog(spark, sf_smoke).events.select("event_id", "user_id", "value")
    path = stage_stream_files(ev, "stateful_events", 3, "event_id")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = running_user_stats(stream)
    shutil.rmtree(f"{SCRATCH}/ckpt", ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .option("checkpointLocation", f"{SCRATCH}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the LAST update per user must equal the batch aggregate
    updates = spark.table("running_stats")
    w_latest = (
        updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    assert w_latest.exceptAll(batch).count() == 0
    assert batch.exceptAll(w_latest).count() == 0


def test_off_grid_value_fails_the_query(spark, tmp_path):
    """Values accumulate on the value_scale grid; a 3-decimal value at
    value_scale=100 fails the query with the fixed-decimal contract's
    message instead of being rounded onto the grid."""
    schema = "event_id long, user_id long, value double"
    src = str(tmp_path / "events")
    spark.createDataFrame(
        [(1, 7, 1.25), (2, 7, 2.125)], schema
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("off_grid_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(
            Exception,
            match="value_scale=100 but the event value is not fixed-decimal",
        ):
            q.processAllAvailable()
    finally:
        q.stop()


def test_progress_recorder_captures_batches(spark, sf_smoke):
    from distributed_stream_processing_spark.sources.stream import (
        read_events_stream,
    )
    from distributed_stream_processing_spark.streaming.metrics import (
        ProgressRecorder,
    )
    from pyspark.sql import functions as F

    rec = ProgressRecorder()
    # the stream runs on its size-width cloned session (r19,
    # stream_session) — listeners are session-scoped, so attach to the
    # STREAM's session, the production pattern either way
    sdf = read_events_stream(spark, sf_smoke, n_files=3)
    stream_spark = sdf.sparkSession
    stream_spark.streams.addListener(rec)
    try:
        agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("metrics_probe")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener delivery is async; wait briefly for the bus to drain
        import time

        for _ in range(50):
            if len(rec.batches) >= 3:
                break
            time.sleep(0.2)
    finally:
        stream_spark.streams.removeListener(rec)
    s = rec.summary()
    assert s["n_batches"] >= 3  # one per staged file
    assert s["total_rows"] == 1000
    assert s["avg_trigger_ms"] > 0
