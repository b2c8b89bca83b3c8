"""Python Data Source (wal_jsonl): batch parity, filter pushdown, and
streaming offset/restart semantics."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.sources import pydatasource as PDS
from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(PDS.WalDataSource)
    return spark


def _key_set(rows):
    return {(r["source_lsn"], r["op"], r["kafka_offset"]) for r in rows}


def test_batch_read_matches_dataframe_fixture(registered, tmp_path):
    spark = registered
    fx = generate_changelog(n_keys=20, n_ops=120, seed=7)
    path = str(tmp_path / "wal.jsonl")
    n = PDS.write_wal_jsonl(fx, path)

    df = spark.read.format(PDS.FORMAT_NAME).option("path", path).load()
    got = df.collect()
    assert len(got) == n
    exp = changelog_df(spark, fx).collect()
    assert _key_set(got) == _key_set(exp)
    # Nested envelope structs survive the tuple round trip.
    some = next(r for r in got if r["op"] == "u")
    assert some["after"]["username"].startswith("user_")
    # Parallel scan: more than one input partition for a 120-line log.
    assert df.rdd.getNumPartitions() > 1


def test_batch_filter_pushdown_reaches_source(registered, tmp_path):
    spark = registered
    fx = generate_changelog(n_keys=20, n_ops=120, seed=11)
    path = str(tmp_path / "wal_f.jsonl")
    PDS.write_wal_jsonl(fx, path)


    df = (
        spark.read.format(PDS.FORMAT_NAME)
        .option("path", path)
        .load()
        .filter((F.col("op") == "d") & (F.col("source_lsn") > 1050))
    )
    got = df.collect()
    pushed = PDS.pushed_filters(path)
    assert pushed, "no filters reached the source"
    assert any("EqualTo" in p for p in pushed) and any(
        "GreaterThan" in p for p in pushed
    ), pushed
    exp = [
        e
        for e in fx.events
        if e["op"] == "d" and e["source_lsn"] > 1050
    ]
    assert len(got) == len(exp)
    assert {r["source_lsn"] for r in got} == {e["source_lsn"] for e in exp}


def test_stream_reads_in_bounded_batches_and_resumes(registered, tmp_path):
    spark = registered
    fx = generate_changelog(n_keys=15, n_ops=80, seed=3)
    path = str(tmp_path / "wal_s.jsonl")
    n1 = PDS.write_wal_jsonl(fx, path)

    def run(expect):
        # Python stream sources don't support Trigger.AvailableNow (Spark
        # falls back with a warning), and the memory sink can't recover
        # from a checkpoint — use foreachBatch (recovery-capable) feeding
        # a driver-side list, and stop once the expected rows arrived.
        import time

        out: list = []
        q = (
            spark.readStream.format(PDS.FORMAT_NAME)
            .option("path", path)
            .option("batchLines", "16")
            .load()
            .writeStream.foreachBatch(
                lambda bdf, _bid: out.extend(bdf.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 300  # generous: suite-load contention
        while time.time() < deadline and len(out) < expect:
            time.sleep(0.5)
        # The rows land in `out` before the batch commits: stopping on the
        # row count alone can abandon an uncommitted batch, which the
        # restart then replays in full. Stop only once everything is
        # committed.
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        return out

    first = run(n1)
    assert len(first) == n1
    assert _key_set(first) == _key_set(changelog_df(spark, fx).collect())

    # Append more events; a new run from the SAME checkpoint emits ONLY them.
    extra = ChangeLogFixture(events=fx.events[:9])
    with open(path, "a") as f:
        for ev in extra.events:
            f.write(json.dumps(ev) + "\n")
    second = run(len(extra.events))
    assert len(second) == len(extra.events), (
        "restart must resume from the committed line offset — "
        f"got {len(second)} rows"
    )


def test_segmented_stream_reads_all_segments_in_parallel_and_resumes(
    registered, tmp_path
):
    """Directory-of-segments source: every segment's rows arrive, later
    triggers are capped at batchLines per segment, and a checkpointed
    restart emits only appended lines."""
    import os
    import time

    spark = registered
    spark.dataSource.register(PDS.WalSegmentedDataSource)
    fx = generate_changelog(n_keys=15, n_ops=90, seed=5)
    seg_dir = tmp_path / "segs"
    os.makedirs(seg_dir)
    half = len(fx.events) // 2
    PDS.write_wal_jsonl(
        ChangeLogFixture(events=fx.events[:half]), str(seg_dir / "seg_00.jsonl")
    )
    PDS.write_wal_jsonl(
        ChangeLogFixture(events=fx.events[half:]), str(seg_dir / "seg_01.jsonl")
    )

    def run(expect):
        out: list = []
        q = (
            spark.readStream.format(PDS.SEGMENTED_FORMAT_NAME)
            .option("path", str(seg_dir))
            .option("batchLines", "10")
            .load()
            .writeStream.foreachBatch(lambda bdf, _b: out.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "seg_ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 300  # generous: suite-load contention
        while time.time() < deadline and len(out) < expect:
            time.sleep(0.5)
        # The rows land in `out` before the batch commits: stopping on the
        # row count alone can abandon an uncommitted batch, which the
        # restart then replays in full. Stop only once everything is
        # committed.
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        return out

    first = run(len(fx.events))
    assert _key_set(first) == _key_set(changelog_df(spark, fx).collect())

    extra = ChangeLogFixture(events=fx.events[:7])
    with open(seg_dir / "seg_00.jsonl", "a") as f:
        for ev in extra.events:
            f.write(json.dumps(ev) + "\n")
    second = run(len(extra.events))
    assert len(second) == len(extra.events), len(second)
