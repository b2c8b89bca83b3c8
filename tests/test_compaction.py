"""Tombstone compaction: old delete markers drop, recent ones survive, and
a late update older than a *surviving* tombstone still loses."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
    unwrap,
    with_event_time,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.filestream import (
    read_change_stream,
    write_stream_fixture,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink


@pytest.mark.heavy
@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_compaction_drops_old_tombstones_keeps_recent(spark, tmp_path, uri):
    fx = generate_changelog(n_keys=30, n_ops=200, seed=15)
    src = str(tmp_path / "src")
    write_stream_fixture(spark, fx, src, n_files=4)
    state = tmp_path / "state"
    sink = ParquetUpsertSink(spark, state.as_uri() if uri else str(state), n_buckets=4)
    q = sink.attach(
        with_event_time(unwrap(read_change_stream(spark, src), keep_deletes=True)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    raw = spark.read.parquet(str(tmp_path / "state"))
    tombs = raw.filter(F.col("op") == "d")
    n_tombs = tombs.count()
    assert n_tombs > 0
    lsns = sorted(r["source_lsn"] for r in tombs.select("source_lsn").collect())
    horizon = lsns[len(lsns) // 2]  # keep the newer half

    before_live = {r["id"] for r in sink.current_state().collect()}
    sink.compact(tombstone_horizon_lsn=horizon)

    raw2 = spark.read.parquet(str(tmp_path / "state"))
    kept = sorted(
        r["source_lsn"] for r in raw2.filter(F.col("op") == "d").collect()
    )
    assert kept == [l for l in lsns if l >= horizon]
    # Live state untouched by compaction; its temp copy is gone.
    assert {r["id"] for r in sink.current_state().collect()} == before_live
    assert not (tmp_path / "state.compact.tmp").exists()


@pytest.mark.heavy
def test_surviving_tombstone_still_blocks_zombie(spark, tmp_path):
    fx = generate_changelog(n_keys=10, n_ops=80, seed=33)
    src = str(tmp_path / "src")
    write_stream_fixture(spark, fx, src, n_files=2)
    sink = ParquetUpsertSink(spark, str(tmp_path / "state"), n_buckets=4)
    flat = lambda: with_event_time(  # noqa: E731
        unwrap(read_change_stream(spark, src), keep_deletes=True)
    )
    q = sink.attach(flat(), checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    sink.compact(tombstone_horizon_lsn=0)  # drops nothing (all lsns > 0)
    live = {r["id"] for r in sink.current_state().collect()}
    dead = sorted(set(range(10)) - live)
    if not dead:
        return  # nothing deleted in this fixture shape
    zombie_key = dead[0]
    late = ChangeLogFixture(
        events=[
            {
                "before": None,
                "after": {
                    "id": zombie_key,
                    "username": "ZOMBIE",
                    "email": "z@x",
                    "created_at_us": 1,
                },
                "op": "u",
                "ts_ms": 1,
                "source_lsn": 1,
                "source_table": "users",
                "kafka_partition": 0,
                "kafka_offset": 10**6,
            }
        ]
    )
    changelog_df(spark, late).coalesce(1).write.mode("overwrite").parquet(
        f"{src}/batch_99999.parquet"
    )
    q2 = sink.attach(flat(), checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert zombie_key not in {r["id"] for r in sink.current_state().collect()}


def test_ttl_expires_old_live_rows_not_tombstones(spark, tmp_path):
    """ClickHouse `TTL created_at + INTERVAL n DELETE` analog: live rows
    below the threshold drop, newer live rows and ALL surviving tombstones
    stay (a tombstone's lifetime is the replay horizon, not the TTL)."""
    fx = generate_changelog(n_keys=20, n_ops=150, seed=21)
    src = str(tmp_path / "src")
    write_stream_fixture(spark, fx, src, n_files=3)
    sink = ParquetUpsertSink(spark, str(tmp_path / "state"), n_buckets=4)
    q = sink.attach(
        with_event_time(unwrap(read_change_stream(spark, src), keep_deletes=True)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    live = sink.current_state().collect()
    cas = sorted(r["created_at"] for r in live)
    ttl = cas[len(cas) // 2]  # expire the older half
    n_tombs_before = (
        spark.read.parquet(str(tmp_path / "state")).filter(F.col("op") == "d").count()
    )
    assert n_tombs_before > 0

    sink.compact(tombstone_horizon_lsn=0, ttl_older_than=ttl)

    after = sink.current_state().collect()
    assert sorted(r["created_at"] for r in after) == [c for c in cas if c >= ttl]
    assert {r["id"] for r in after} == {
        r["id"] for r in live if r["created_at"] >= ttl
    }
    # Tombstones untouched (horizon 0 keeps them all).
    n_tombs_after = (
        spark.read.parquet(str(tmp_path / "state")).filter(F.col("op") == "d").count()
    )
    assert n_tombs_after == n_tombs_before
