"""Structured Streaming tests — foreachBatch incremental merge and
event-time windows driven to completion with availableNow/memory sinks."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_azure_data_engineer_project_spark.operators.versioned import VersionedTable
from sales_azure_data_engineer_project_spark.streaming import (
    sessionized_stream,
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


def test_sessionized_stream_batch_equivalence(spark):
    """session_window on a batch frame: 2 sessions for user 1 (65-min gap
    splits), 1 for user 2."""
    out = sessionized_stream(_event_rows(spark), gap="30 minutes")
    got = sorted((r["user_id"], r["n_events"]) for r in out.collect())
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: ids seen in batch 1 are dropped when they
    reappear in batch 2; state survives via the checkpoint."""
    from pyspark.sql import functions as F  # noqa: F811

    from sales_azure_data_engineer_project_spark.streaming.stateful import stateful_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "event_id long, user_id long, v string"

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (2, 10, "b-dup-in-batch"), (3, 20, "c")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    got1 = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2, 3}

    spark.createDataFrame(
        [(2, 10, "b-replay"), (4, 10, "d"), (3, 20, "c-replay"), (5, 20, "e")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    rows = spark.read.parquet(out).collect()
    assert {r["event_id"] for r in rows} == {1, 2, 3, 4, 5}
    assert len(rows) == 5  # replays dropped, nothing duplicated


def test_stateful_dedup_bloom(spark, tmp_path):
    from sales_azure_data_engineer_project_spark.streaming.stateful import (
        stateful_dedup_bloom,
    )

    src = str(tmp_path / "bsrc")
    out = str(tmp_path / "bout")
    ckpt = str(tmp_path / "bckpt")
    os.makedirs(src)
    schema = "event_id long, user_id long, v string"

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_dedup_bloom(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(i, i % 3, f"v{i}") for i in range(50)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run_drain()
    assert spark.read.parquet(out).count() == 50

    # replay all 50 + 10 new: only the new survive the bloom state
    spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(60)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    rows = spark.read.parquet(out).collect()
    assert {r["event_id"] for r in rows} == set(range(60))
    assert len(rows) == 60


def test_stateful_signature_dedup_content(spark, tmp_path):
    """Content-signature dedup: the SAME TEXT under a NEW id is dropped
    across micro-batches (the re-crawl case); distinct texts pass, and
    sub-shingle docs (NULL signature) always pass."""
    from sales_azure_data_engineer_project_spark.streaming.stateful import (
        stateful_signature_dedup,
    )

    src = str(tmp_path / "sigsrc")
    out = str(tmp_path / "sigout")
    ckpt = str(tmp_path / "sigckpt")
    os.makedirs(src)
    schema = "doc_id long, text string"
    article = "the quick brown fox jumps over the lazy dog near the river bank"

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_signature_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [
            (1, article),
            (2, "completely different content about spark streaming state"),
            (3, article),  # in-batch content dup of 1 → dropped
            (4, "hi"),  # < 3 tokens, NULL signature → passes
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 4 in got1 and 2 in got1
    assert len(got1 & {1, 3}) == 1  # exactly one copy of the article survives

    spark.createDataFrame(
        [
            (10, article),  # cross-batch content dup → dropped via state
            (11, "brand new text that nobody has streamed in before now"),
            (12, "hi"),  # short docs never dedup against each other
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    rows = spark.read.parquet(out).collect()
    ids = {r["doc_id"] for r in rows}
    assert 10 not in ids
    assert {11, 12} <= ids
    assert len(rows) == len(ids)


def test_watermarked_dedup_stream(spark, tmp_path):
    from sales_azure_data_engineer_project_spark.streaming.incremental import (
        watermarked_dedup,
    )

    src = str(tmp_path / "wd_src")
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (1, "2024-01-01 00:01:00", 1, "click", 1.0),  # dup within watermark
        (2, "2024-01-01 00:02:00", 1, "view", 2.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        watermarked_dedup(stream)
        .writeStream.format("memory")
        .queryName("wd_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["event_id"] for r in spark.sql("SELECT * FROM wd_out").collect()}
    assert got == {1, 2}
    assert spark.sql("SELECT count(*) n FROM wd_out").first()["n"] == 2


def test_stream_stream_attribution_join(spark, tmp_path):
    from sales_azure_data_engineer_project_spark.streaming.incremental import (
        stream_stream_join,
    )

    base = [
        (1, "2024-01-01 10:00:00", 7, "click", 0.0),
        (2, "2024-01-01 10:30:00", 7, "purchase", 99.0),   # within 1h of click 1
        (3, "2024-01-01 13:00:00", 7, "purchase", 11.0),   # too late for click 1
        (4, "2024-01-01 10:05:00", 8, "purchase", 5.0),    # other user
    ]
    src = str(tmp_path / "ss_src")
    spark.createDataFrame(
        base, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def stream_of(et):
        return (
            spark.readStream.schema(schema).parquet(src).filter(F.col("event_type") == et)
        )

    q = (
        stream_stream_join(stream_of("click"), stream_of("purchase"))
        .writeStream.format("memory")
        .queryName("ss_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT click_id, purchase_id FROM ss_out").collect()
    assert {(r["click_id"], r["purchase_id"]) for r in rows} == {(1, 2)}


def test_stateful_sessionize_timeout_emission(spark, tmp_path):
    """applyInPandasWithState with EventTimeTimeout: in-batch gap breaks
    emit immediately; the final open session is emitted only when the
    WATERMARK crosses its inactivity deadline in a later batch."""
    from sales_azure_data_engineer_project_spark.streaming.stateful import (
        stateful_sessionize,
    )

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src)
    schema = "ts_s string, user_id long, value double"

    def drop(rows):
        spark.createDataFrame(rows, schema).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_drain():
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, value double"
        ).parquet(src)
        q = (
            stateful_sessionize(
                stream, gap_seconds=1800, watermark="10 minutes"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sessions():
        try:
            return {
                (r["key"], r["session_start_us"], r["n_events"], r["total_value"])
                for r in spark.read.parquet(out).collect()
            }
        except Exception:  # noqa: BLE001 - sink not created yet
            return set()

    us = lambda s: 1_000_000 * s  # noqa: E731
    h10 = 1704103200_000_000  # 2024-01-01 10:00:00 UTC in µs

    # batch 1, user 7: two events 5 min apart (one session), then one
    # 3 h later — the gap closes session 1 IN-BATCH; session 2 stays open
    drop([
        ("2024-01-01 10:00:00", 7, 1.0),
        ("2024-01-01 10:05:00", 7, 2.0),
        ("2024-01-01 13:00:00", 7, 5.0),
    ])
    run_drain()
    assert sessions() == {(7, h10, 2, 3.0)}

    # batch 2: user 9 at 18:00 advances the watermark to 17:50, and the
    # trailing no-data micro-batch (noDataMicroBatches, on by default)
    # re-evaluates timeouts against it — 17:50 > the 13:30 deadline, so
    # user 7's open session emits via the TIMED-OUT path in this drain
    drop([("2024-01-01 18:00:00", 9, 7.0)])
    run_drain()
    assert sessions() == {
        (7, h10, 2, 3.0),
        (7, h10 + us(3 * 3600), 1, 5.0),   # timeout emission
    }

    # batch 3: user 9's 60-min in-batch gap closes its 18:00 session
    # immediately; the 19:00 session stays open (deadline 19:30 > the
    # final 18:50 watermark)
    drop([("2024-01-01 19:00:00", 9, 9.0)])
    run_drain()
    got = sessions()
    assert (9, h10 + us(8 * 3600), 1, 7.0) in got        # in-batch gap break
    assert len(got) == 3  # 19:00 session still open, not emitted


def _partition_files(table: VersionedTable, version: int) -> dict[str, dict[str, int]]:
    """Partition dir -> {parquet file name: inode} of one table version."""
    vdir = table._vdir(version)
    return {
        part: {
            f: os.stat(os.path.join(vdir, part, f)).st_ino
            for f in os.listdir(os.path.join(vdir, part))
            if f.endswith(".parquet")
        }
        for part in os.listdir(vdir)
        if "=" in part
    }


def test_partitioned_merge_bounded_rewrite(spark, tmp_path):
    """Partition-pruned MERGE: only partitions present in the source are
    rewritten; the new version's untouched partition dirs hold the base
    version's files (hardlinks: the same inodes)."""
    table = VersionedTable(spark, str(tmp_path / "fact"), partition_by=("pday",))
    schema = "k long, pday string, v string"
    initial = spark.createDataFrame(
        [(1, "A", "a1"), (2, "B", "b1"), (3, "C", "c1"), (5, None, "n1")], schema
    )
    v1 = table.merge(initial, ["k", "pday"])
    files_before = _partition_files(table, v1)
    null_part = "pday=__HIVE_DEFAULT_PARTITION__"
    assert sorted(files_before) == ["pday=A", "pday=B", "pday=C", null_part]

    # merge touches only B: update k=2, insert k=4
    batch = spark.createDataFrame([(2, "B", "b2"), (4, "B", "b-new")], schema)
    v2 = table.merge(batch, ["k", "pday"])
    files_after = _partition_files(table, v2)
    rewritten = sorted(p for p in files_after if files_after[p] != files_before[p])
    assert rewritten == ["pday=B"]

    got = {(r["k"], r["pday"]): r["v"] for r in table.read().collect()}
    assert got == {
        (1, "A"): "a1",
        (2, "B"): "b2",
        (3, "C"): "c1",
        (4, "B"): "b-new",
        (5, None): "n1",
    }
    # A and C were not rewritten (same physical files); B's files are new
    for p in ("pday=A", "pday=C"):
        assert files_after[p] == files_before[p] and files_after[p]
    assert not set(files_after["pday=B"].values()) & set(files_before["pday=B"].values())

    # a NULL partition value is touched like any other: the merge reads
    # that partition too, so its old rows stay
    table.merge(spark.createDataFrame([(6, None, "n2")], schema), ["k", "pday"])
    got = {(r["k"], r["pday"]): r["v"] for r in table.read().collect()}
    assert got[(5, None)] == "n1" and got[(6, None)] == "n2" and len(got) == 6


def test_stream_incremental_merge_partitioned(spark, tmp_path):
    """Streaming foreachBatch ingest into a partitioned gold table:
    each drained batch rewrites only the partitions it touches, replays
    converge (exactly-once via checkpoint + idempotent merge)."""
    src = str(tmp_path / "pm_src")
    tgt = str(tmp_path / "pm_tgt")
    ckpt = str(tmp_path / "pm_ckpt")
    os.makedirs(src)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("pday", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    table = VersionedTable(spark, tgt)

    def run():
        stream_incremental_merge(
            spark, src, tgt, ["k", "pday"], schema, ckpt, partition_by=("pday",)
        )

    spark.createDataFrame(
        [(1, "A", "a1"), (2, "B", "b1"), (3, "C", "c1")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert {
        (r["k"], r["pday"], r["v"]) for r in table.read().collect()
    } == {(1, "A", "a1"), (2, "B", "b1"), (3, "C", "c1")}

    files_a = _partition_files(table, table.current_version())["pday=A"]

    # second drop touches only B; A's physical files must survive
    spark.createDataFrame([(2, "B", "b2"), (4, "B", "b-new")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    got = {(r["k"], r["pday"]): r["v"] for r in table.read().collect()}
    assert got == {
        (1, "A"): "a1",
        (2, "B"): "b2",
        (3, "C"): "c1",
        (4, "B"): "b-new",
    }
    assert _partition_files(table, table.current_version())["pday=A"] == files_a

    # no new files: checkpoint makes the re-run a no-op
    run()
    assert {
        (r["k"], r["pday"]): r["v"] for r in table.read().collect()
    } == got


def test_stateful_embedding_dedup(spark, tmp_path):
    """Semantic streaming dedup: an exact re-encode in a later batch is
    dropped (same sign bucket, cosine 1), a same-bucket near-dup above
    threshold is dropped, and an orthogonal newcomer passes."""
    from sales_azure_data_engineer_project_spark.streaming.stateful import (
        stateful_embedding_dedup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "vec_id long, embedding array<double>"

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_embedding_dedup(stream, threshold=0.9)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    a = [1.0, 0.2, 0.1, 0.05]
    b = [0.1, 1.0, 0.0, 0.0]          # same leading-sign bucket as a, low cosine
    near_a = [1.0, 0.21, 0.1, 0.05]   # cosine(a, near_a) > 0.99
    c = [-1.0, 0.5, 0.2, 0.1]         # different bucket
    spark.createDataFrame([(1, a), (2, b)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_drain()
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 2}

    spark.createDataFrame(
        [(3, a), (4, near_a), (5, c)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_drain()
    got = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 5}, f"replay/near-dup must drop, newcomer passes: {got}"


def test_stateful_bottomk_quantiles_matches_batch_sketch(spark, tmp_path):
    """The streaming bottom-k sketch after N micro-batches must equal
    the batch bottom-k sketch over the concatenated history — the
    mergeability property exercised live through
    applyInPandasWithState state folding."""
    import hashlib

    from sales_azure_data_engineer_project_spark.streaming.stateful import (
        stateful_bottomk_quantiles,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "flag string, cents long, h string"

    def mk_rows(lo, hi):
        return [
            (
                "AB"[i % 2],
                (i * 37) % 1000,
                hashlib.md5(f"row{i}".encode()).hexdigest(),
            )
            for i in range(lo, hi)
        ]

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        q = (
            stateful_bottomk_quantiles(stream, k=32)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(mk_rows(0, 300), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_drain()
    spark.createDataFrame(mk_rows(300, 700), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_drain()

    # latest emission per flag (update mode appends one row per touched
    # group per drain; the max-n_rows row is the latest)
    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        if r["flag"] not in latest or r["n_rows"] > latest[r["flag"]]["n_rows"]:
            latest[r["flag"]] = r

    # batch reference over the full history in pure python
    all_rows = mk_rows(0, 700)
    for flag in ("A", "B"):
        grp = [(h, c) for f, c, h in all_rows if f == flag]
        assert latest[flag]["n_rows"] == len(grp)
        sample = sorted(c for _, c in sorted(grp)[:32])
        ns = len(sample)
        assert latest[flag]["n_sample"] == ns

        def est(q):
            return max(sample[vr - 1] for vr in range(1, ns + 1) if 100 * vr < q * ns + 100)

        assert latest[flag]["est_p50"] == est(50)
        assert latest[flag]["est_p90"] == est(90)
        assert latest[flag]["est_p99"] == est(99)


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
