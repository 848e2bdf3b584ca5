"""Structured Streaming tests — foreachBatch incremental merge and
event-time windows driven to completion with availableNow/memory sinks."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_azure_data_engineer_project_spark.operators.versioned import VersionedTable
from sales_azure_data_engineer_project_spark.streaming import (
    stream_incremental_merge,
    windowed_event_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def test_stream_incremental_merge_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    table = VersionedTable(spark, tgt)

    spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_incremental_merge(spark, src, tgt, ["k"], SCHEMA, ckpt)
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "b"}

    # second drop: update k=2, insert k=3; old file must NOT be reprocessed
    spark.createDataFrame([(2, "b2"), (3, "c")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_incremental_merge(spark, src, tgt, ["k"], SCHEMA, ckpt)
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # each drain committed a version: the first one is still readable
    assert {r["k"]: r["v"] for r in table.read(1).collect()} == {1: "a", 2: "b"}
    version = table.current_version()

    # re-run with no new files: no-op (checkpoint exactly-once)
    stream_incremental_merge(spark, src, tgt, ["k"], SCHEMA, ckpt)
    assert {r["k"]: r["v"] for r in table.read().collect()} == got
    assert table.current_version() == version


def test_stream_incremental_merge_duplicate_keys_fail_the_drain(spark, tmp_path):
    """Two rows for one key in a micro-batch: the drain raises the
    merge's duplicate-keys error and commits no version, instead of
    keeping an arbitrary row of the two."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    table = VersionedTable(spark, tgt)

    spark.createDataFrame([(1, "a")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_incremental_merge(spark, src, tgt, ["k"], SCHEMA, ckpt)
    version = table.current_version()

    spark.createDataFrame([(2, "b"), (2, "b2")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(Exception, match="duplicate merge keys"):
        stream_incremental_merge(spark, src, tgt, ["k"], SCHEMA, ckpt)
    assert table.current_version() == version
    assert {r["k"]: r["v"] for r in table.read().collect()} == {1: "a"}


def _event_rows(spark):
    return spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", 1, "click", 1.0),
            ("2024-01-01 00:20:00", 1, "click", 2.0),
            ("2024-01-01 01:10:00", 1, "view", 3.0),
            ("2024-01-01 03:00:00", 2, "click", 4.0),
        ],
        "ts_s string, user_id long, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value")


def test_windowed_event_counts_streaming(spark, tmp_path):
    src = str(tmp_path / "ev")
    _event_rows(spark).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        windowed_event_counts(stream, window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("winagg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert rows[("2024-01-01 00:00:00", "click")] == 2
    assert rows[("2024-01-01 01:00:00", "view")] == 1
    assert rows[("2024-01-01 03:00:00", "click")] == 1


def test_hopping_window_stream_equals_registered_batch_twin(spark, tmp_path):
    """The registered events_hopping_window_rate (batch, oracle-gated)
    and the streaming windowed_event_counts with the same 15m/5m
    window must agree cell-for-cell on event counts — the
    batch-streaming equivalence Structured Streaming promises for
    aligned hopping windows."""
    import os

    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.streaming.incremental import (
        windowed_event_counts,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["win_start_us"], r["event_type"]): r["n_events"]
        for r in m.queries()["events_hopping_window_rate"](spark, sf).collect()
    }

    # readStream needs a directory source; the testdata table is a file
    src = str(tmp_path / "hop_src")
    spark.read.parquet(os.path.join(sf, "events.parquet")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        windowed_event_counts(stream, window="15 minutes", slide="5 minutes")
        .writeStream.format("memory")
        .queryName("hop_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import functions as F

    got = {
        (r["s_us"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hop_out")
        .select(F.unix_micros("window_start").alias("s_us"), "event_type", "n_events")
        .collect()
    }
    q.stop()
    assert got == batch
