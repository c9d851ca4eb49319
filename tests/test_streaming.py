"""Streaming surface: batch-window oracles + real streaming runs
(availableNow) converging to batch answers + bounded-state dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disco_spark import registry
from disco_spark.streaming.windows import run_stream_to_memory
from disco_spark.testing import compare_query
from tests.conftest import SF_SMOKE

registry.load_all()

WINDOWED = [
    "events_tumbling_window",
    "events_sliding_window",
    "events_session_window",
    "events_dedup_by_key",
    "streaming_tumbling_window",  # real readStream run, same oracle
    "streaming_stateful_user_totals",  # applyInPandasWithState run
    "events_funnel_view_purchase",
    "streaming_static_join_value_by_segment",  # real stream-static join run
    "events_daily_retention",
    "events_last_action_per_user",
    "streaming_contamination_screen",  # bloom prefilter inside a stream
]


@pytest.mark.parametrize("name", WINDOWED)
def test_streaming_oracle(spark, name):
    compare_query(spark, name, SF_SMOKE)


def test_stream_equals_batch_for_sliding(spark):
    """Convergence check for the sliding window too (complete mode)."""

    def sliding(stream):
        return (
            stream.groupBy(F.window("ts", "1 hour", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )

    got = {(r.ws, r.n) for r in run_stream_to_memory(spark, SF_SMOKE, sliding).collect()}
    batch = registry.QUERIES["events_sliding_window"](spark, SF_SMOKE).collect()
    want = {(r.window_start, r.n_events) for r in batch}
    assert got == want


def test_streaming_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark bounds state and still dedups the
    replay: unique (event_type, user_id) pairs match the batch distinct."""

    def dedup(stream):
        return stream.select("event_type", "user_id", "ts").dropDuplicatesWithinWatermark(
            ["event_type", "user_id"]
        )

    out = run_stream_to_memory(spark, SF_SMOKE, dedup, output_mode="append")
    got = out.select("event_type", "user_id").distinct().count()
    t = registry.QUERIES  # batch truth
    batch = (
        registry.QUERIES["events_dedup_by_key"](spark, SF_SMOKE)
        .agg(F.sum("n_unique_users"))
        .collect()[0][0]
    )
    assert got == batch


def test_foreachbatch_sink_oracle(spark):
    compare_query(spark, "streaming_foreachbatch_user_totals", SF_SMOKE)


def test_foreachbatch_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch id overwrites its directory instead of
    appending — the failure-replay guarantee the sink pattern exists for."""
    import os

    from pyspark.sql import functions as F2

    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F2.lit(batch_id))
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"batch={batch_id}"))
        )

    df = spark.range(10).withColumn("v", F.col("id") * 2)
    write_batch(df, 0)
    write_batch(df, 0)  # replay
    assert spark.read.parquet(os.path.join(out, "batch=0")).count() == 10


def test_rate_source_generates_monotonic_rows(spark):
    """The built-in rate source (load generator): schema is
    (timestamp, value) with values 0..n-1, one sequence per run."""
    import tempfile
    import uuid

    sink = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and spark.table(sink).count() < 100:
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table(sink)
    assert dict(rows.dtypes) == {"timestamp": "timestamp", "value": "bigint"}
    vals = sorted(r.value for r in rows.collect())
    assert len(vals) >= 100 and vals[:3] == [0, 1, 2]


def test_tws_user_totals_if_supported(spark):
    """transformWithStateInPandas needs protobuf (absent in this
    container); when available the TWS totals must match the oracle."""
    from disco_spark.streaming.sinks import HAVE_TWS

    if not HAVE_TWS:
        pytest.skip("google.protobuf not installed; TWS gated off")
    compare_query(spark, "streaming_tws_user_totals", SF_SMOKE)


def test_incremental_dedup_replays_across_microbatches(spark, tmp_path):
    """Duplicates arriving in a LATER micro-batch are suppressed by the
    watermark state: the same documents file lands twice in the source
    directory, maxFilesPerTrigger=1 forces two micro-batches, and the
    emitted hash set still equals one copy's distinct hashes."""
    import shutil

    from disco_spark.streaming.windows import (
        _incremental_dedup_transform,
        run_stream_to_memory,
    )

    # a directory-shaped documents table whose two part files are copies
    src = tmp_path / "landing" / "documents.parquet"
    src.mkdir(parents=True)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src / "part-00000.parquet")
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src / "part-00001.parquet")
    out = run_stream_to_memory(
        spark,
        str(tmp_path / "landing"),
        _incremental_dedup_transform,
        output_mode="append",
        watermark=None,
        source_file="documents.parquet",
        max_files_per_trigger=1,
    )
    emitted = [r.content_hash for r in out.collect()]
    batch_distinct = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(
            F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        )
        .distinct()
        .count()
    )
    assert len(emitted) == len(set(emitted)) == batch_distinct


def test_stream_stream_join_oracle(spark):
    from disco_spark.testing import compare_query
    from tests.conftest import SF_SMOKE

    compare_query(spark, "streaming_stream_stream_join", SF_SMOKE)
