"""Structured Streaming tests (SURVEY.md §2.5): file-source change stream →
watermark/dedup/window/upsert — same operators the Kafka path would feed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators.upsert import latest_by_key
from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    changelog_df,
    generate_changelog,
    unwrap,
    with_event_time,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.dedup import dedup_changes
from python_cdc_postgres_to_clickhouse_spark.streaming.filestream import (
    read_change_stream,
    write_stream_fixture,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink
from python_cdc_postgres_to_clickhouse_spark.streaming import windows as SW
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def _flat_stream(stream):
    return with_event_time(unwrap(stream, keep_deletes=True))


@pytest.mark.heavy
def test_stream_upsert_matches_replay_oracle(spark, tmp_path):
    fx = generate_changelog(n_keys=40, n_ops=300, seed=21)
    src = str(tmp_path / "stream_src")
    write_stream_fixture(spark, fx, src, n_files=8)

    sink = ParquetUpsertSink(spark, str(tmp_path / "state"), n_buckets=8)
    q = sink.attach(
        _flat_stream(read_change_stream(spark, src)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {r["id"]: r["username"] for r in sink.current_state().collect()}
    assert got == {k: v["username"] for k, v in fx.expected_final.items()}


@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_stream_upsert_checkpoint_restart(spark, tmp_path, uri):
    """D4: stop mid-stream, restart from the checkpoint, no double-apply.
    A ``file://`` state dir must merge exactly like a plain path."""
    fx = generate_changelog(n_keys=30, n_ops=200, seed=8)
    src = str(tmp_path / "src")
    all_files = write_stream_fixture(spark, fx, src, n_files=6)
    import os
    import shutil

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    half = len(all_files) // 2
    # Phase 1: only the first half of files present.
    for p in all_files[half:]:
        shutil.move(p, os.path.join(staged, os.path.basename(p)))
    state = tmp_path / "state"
    sink = ParquetUpsertSink(spark, state.as_uri() if uri else str(state), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q1 = sink.attach(_flat_stream(read_change_stream(spark, src)), checkpoint_dir=ckpt)
    q1.awaitTermination(120)
    partial = {r["id"]: r["username"] for r in sink.current_state().collect()}

    # Phase 2: add the remaining files, restart from the same checkpoint.
    for p in os.listdir(staged):
        shutil.move(os.path.join(staged, p), os.path.join(src, p))
    q2 = sink.attach(_flat_stream(read_change_stream(spark, src)), checkpoint_dir=ckpt)
    q2.awaitTermination(120)

    got = {r["id"]: r["username"] for r in sink.current_state().collect()}
    assert got == {k: v["username"] for k, v in fx.expected_final.items()}
    # The restart must have *changed* something (phase 1 was a prefix).
    assert partial != got


def test_stream_windows_match_batch(spark, tmp_path):
    """Tumbling window agg over the stream == batch agg over the same rows."""
    t = load_tables(spark, SF_ORACLE)
    events_dir = str(tmp_path / "events_stream")
    t["events"].coalesce(4).write.parquet(events_dir)

    stream = (
        spark.readStream.schema(t["events"].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    agg = SW.tumbling(SW.with_watermark(stream, "ts", "1 hour"), width="12 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Append mode only emits windows the watermark has closed; every emitted
    # window must match the batch result exactly.
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in SW.tumbling(t["events"], width="12 hours").collect()
    }
    assert len(streamed) > 0
    for k, v in streamed.items():
        assert batch[k] == v, k
    # All but the last open window(s) should have been emitted.
    assert len(streamed) >= len(batch) - 10


def test_stream_dedup_within_watermark(spark, tmp_path):
    """T6: duplicate deliveries collapse to one row per (id, lsn)."""
    fx = generate_changelog(n_keys=10, n_ops=60, seed=4, dup_rate=0.5)
    src = str(tmp_path / "dupsrc")
    write_stream_fixture(spark, fx, src, n_files=4)
    flat = dedup_changes(_flat_stream(read_change_stream(spark, src)))
    q = (
        flat.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT id, source_lsn FROM dedup_out").collect()
    pairs = [(r["id"], r["source_lsn"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicates survived dedup"
    distinct_events = {
        ((e["after"] or e["before"])["id"], e["source_lsn"]) for e in fx.events
    }
    assert set(pairs) == distinct_events


def test_batch_dedup_same_semantics(spark):
    fx = generate_changelog(n_keys=10, n_ops=50, seed=9, dup_rate=0.4)
    flat = unwrap(changelog_df(spark, fx), keep_deletes=True)
    deduped = dedup_changes(with_event_time(flat))
    assert deduped.count() == flat.dropDuplicates(["id", "source_lsn"]).count()
    assert deduped.count() < flat.count()  # fixture really had duplicates


@pytest.mark.parametrize("name", ["t_tumbling_window", "t_sliding_window", "t_session_window"])
def test_window_queries_oracle(spark, name):
    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

    from .oracle_harness import assert_parity

    assert_parity(spark, all_queries()[name], SF_ORACLE)


def test_session_window_late_data_interaction(spark, tmp_path):
    """T4xT5 (SURVEY §7e): a late event *inside* the watermark must extend
    its session; a late event *behind* the watermark must be dropped and
    must not resurrect a closed session.

    Spark filters late events with the *previous* batch's watermark
    (watermarkForLateEvents lags watermarkForEviction by one batch,
    SPARK-24634 semantics — measured here: a too-late event arriving in
    the very next batch after the clock advance is still admitted), so the
    clock advance and the late events are separated by a spacer batch.

    Timeline (gap=30m, watermark delay=3h):
      batch 0: A@10:00, A@10:05, B@10:00, clock@12:00
      batch 1: clock@12:05 (spacer; late-filter wm for batch 2 -> 09:05)
      batch 2: A@10:10 (>= 09:05: accepted, extends A's session)
               B@08:00 (< 09:05: dropped by the watermark)
      batch 3: clock@next-day -> eviction wm passes every session end,
               flushing the closed sessions in append mode.
    """
    import datetime as dt
    import os

    base = dt.datetime(2026, 1, 1, 10, 0, 0)

    def _rows(*evts):
        return [(u, base + dt.timedelta(minutes=m), float(v)) for u, m, v in evts]

    src = str(tmp_path / "sessions_src")
    os.makedirs(src)
    batches = [
        _rows(("A", 0, 1), ("A", 5, 2), ("B", 0, 10), ("clock", 120, 0)),
        _rows(("clock", 125, 0)),
        _rows(("A", 10, 4), ("B", -120, 100)),
        _rows(("clock", 840, 0)),  # next day 00:00
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
        batch_dir = os.path.join(src, f"batch_{i:05d}.parquet")
        df.coalesce(1).write.parquet(batch_dir)
        # The file source picks files oldest-mtime-first; fast consecutive
        # writes can tie, so pin strictly increasing mtimes per batch.
        for root, _, files in os.walk(batch_dir):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i * 60,) * 2)

    stream = (
        spark.readStream.schema("user_id string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    agg = SW.session(
        SW.with_watermark(stream, "ts", "3 hours"), gap="30 minutes",
        group_cols=["user_id"],
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["window_start"], r["window_end"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sess_out WHERE user_id IN ('A','B')").collect()
    }
    m = dt.timedelta(minutes=1)
    # A: one session extended by the in-watermark late event (else it would
    # end 10:35 with n=2, sum=3).
    assert got == {
        ("A", base, base + 40 * m): (3, 7.0),
        ("B", base, base + 30 * m): (1, 10.0),
    }, got
    # The too-late event must show up in the drop metric, not the output.
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1, f"expected exactly the B@08:00 row dropped, got {dropped}"

    # Batch semantics see *all* rows (no watermark): same A session, but B
    # gains the 08:00 session the stream correctly refused to resurrect.
    batch_df = spark.read.parquet(os.path.join(src, "*.parquet"))
    batch = {
        (r["user_id"], r["window_start"], r["window_end"]): (r["n_events"], r["sum_value"])
        for r in SW.session(batch_df, gap="30 minutes", group_cols=["user_id"])
        .filter(F.col("user_id").isin("A", "B"))
        .collect()
    }
    assert batch[("A", base, base + 40 * m)] == (3, 7.0)
    assert ("B", base - 120 * m, base - 90 * m) in batch
    assert ("B", base - 120 * m, base - 90 * m) not in got
