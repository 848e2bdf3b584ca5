"""Streaming incremental ingestion.

The reference's "incremental" capability is rerunnable batch — an ADF
trigger re-executes the notebooks with new bronze files and a widget
flag (`3(1)_Gold_dim_model.py:13-18`, SURVEY §2.9).  Structured
Streaming's ``foreachBatch`` is the idiomatic Spark generalization of
exactly that contract: each micro-batch runs the batch pipeline's
MERGE and commits it through the same ``VersionedTable`` as its gold
tables, with checkpointed exactly-once file tracking replacing the
manual re-trigger.

Also provided: event-time windowed aggregation and session windows with
watermarked late-data handling — the streaming twins of the batch
``events_hourly_rollup`` / ``events_sessionization`` oracle queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.versioned import VersionedTable

__all__ = [
    "stream_incremental_merge",
    "windowed_event_counts",
    "sessionized_stream",
]


def stream_incremental_merge(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    keys: list[str],
    schema: T.StructType,
    checkpoint_dir: str,
    *,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Drain all available files from ``source_dir`` into the
    ``VersionedTable`` at ``target_path`` with SCD-1 MERGE semantics,
    exactly once per file (checkpointed).  Each non-empty micro-batch
    commits one table version.

    ``partition_by`` partitions the table: a micro-batch then rewrites
    only the partitions it touches (``VersionedTable.merge``).  The
    merge is idempotent on the keys, so a batch replayed after a crash
    between its commit and the checkpoint converges to the same state.
    A micro-batch holding two rows for one key fails the drain (the
    merge window's H4 check) and commits nothing.

    ``trigger(availableNow=True)`` processes the backlog and stops —
    the streaming equivalent of one reference pipeline run; schedule it
    (or use a continuous trigger) for true streaming.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def upsert_batch(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        table = VersionedTable(batch_df.sparkSession, target_path, partition_by)
        table.merge(batch_df, keys)

    (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding window counts with late-data watermark.

    Works on both batch and streaming DataFrames (same plan shape); on a
    stream, the watermark bounds state so the aggregation runs forever
    at fixed memory — the 100 TB/day design point.
    """
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of the
    batch ``events_sessionization`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def watermarked_dedup(
    events: DataFrame,
    *,
    id_cols: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps ids only until the watermark
    passes — the engine-managed alternative to the custom
    applyInPandasWithState operators in ``stateful.py`` when duplicate
    arrivals are known to cluster in time (e.g. at-least-once sources
    with bounded replay)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        id_cols or ["event_id"]
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    within: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each click joined to the
    same user's purchases within ``within`` AFTER the click.  Watermarks
    on both sides bound the join state (Spark buffers each side only
    until the other side's watermark passes the interval) — the
    attribution join that runs forever at fixed memory."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"""c_user = p_user AND
                purchase_ts >= click_ts AND
                purchase_ts <= click_ts + INTERVAL {within}"""
        ),
        "inner",
    )
