"""The bucketed state records its own schema, and each micro-batch is
computed once.

``BucketedState`` commits its column schema as ``_schema/SCHEMA.K`` before a
write that widens it, so a read plans from that record instead of running
the Parquet ``mergeSchema`` footer job. ``start_foreach_batch`` persists each
micro-batch while the sink runs, so the sink's several actions share one
evaluation of the source and its stateful dedup.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from python_cdc_postgres_to_clickhouse_spark.operators.upsert import replay_oracle
from python_cdc_postgres_to_clickhouse_spark.pipelines import users_cdc_pipeline
from python_cdc_postgres_to_clickhouse_spark.sources.cdc import generate_changelog
from python_cdc_postgres_to_clickhouse_spark.streaming.buckets import merge_types
from python_cdc_postgres_to_clickhouse_spark.streaming.filestream import (
    read_change_stream,
    write_stream_fixture,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink

COLS = ["id", "username", "op", "source_lsn", "kafka_offset"]


def _jobs(spark, action) -> list[list[str]]:
    """The stage names of each job ``action()`` launches."""
    sc = spark.sparkContext
    group = f"state-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return [
        [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def _assert_no_inference_job(spark, sink):
    """``current_state().count()`` runs the jobs of a count over an
    explicit-schema read and no more. The ``mergeSchema`` footer job takes
    its call site from the ``parquet()`` read itself."""
    schema = sink.store.read().schema
    plain = _jobs(spark, lambda: spark.read.schema(schema).parquet(sink.state_dir).count())
    jobs = _jobs(spark, lambda: sink.current_state().count())
    assert len(jobs) == len(plain)
    assert not [n for stages in jobs for n in stages if n.startswith("parquet at")]


def test_state_read_launches_no_schema_inference_job(spark, tmp_path):
    sink = ParquetUpsertSink(spark, tmp_path.as_uri() + "/state", n_buckets=2)
    sink.process_batch(spark.createDataFrame([(1, "a", "c", 10, 0)], COLS), 0)
    assert "SCHEMA.0" in os.listdir(tmp_path / "state" / "_schema")
    _assert_no_inference_job(spark, sink)
    # The footer merge is what the record replaces: without it, one more job.
    merged = _jobs(
        spark,
        lambda: spark.read.option("mergeSchema", "true").parquet(sink.state_dir).count(),
    )
    assert len(merged) > len(_jobs(spark, lambda: sink.current_state().count()))


def test_schema_evolution_is_seen_by_a_sink_opened_earlier(spark, tmp_path):
    state = str(tmp_path / "state")
    a = ParquetUpsertSink(spark, state, n_buckets=2)
    a.process_batch(spark.createDataFrame([(1, "a", "c", 10, 0)], COLS), 0)
    b = ParquetUpsertSink(spark, state, n_buckets=2)
    assert "email2" not in b.current_state().columns
    a.process_batch(
        spark.createDataFrame(
            [(2, "b", "NEW", "c", 11, 1)],
            ["id", "username", "email2", "op", "source_lsn", "kafka_offset"],
        ),
        1,
    )
    rows = {r["id"]: r["email2"] for r in b.current_state().collect()}
    assert rows == {1: None, 2: "NEW"}
    assert b.store.recorded_schema().names == [*COLS, "email2"]


def test_compaction_recommits_the_schema(spark, tmp_path):
    sink = ParquetUpsertSink(spark, str(tmp_path / "state"), n_buckets=2)
    sink.process_batch(
        spark.createDataFrame([(1, "a", "c", 10, 0), (2, "b", "c", 11, 1)], COLS), 0
    )
    sink.process_batch(spark.createDataFrame([(2, "b", "d", 12, 2)], COLS), 1)
    recorded = sink.store.recorded_schema()
    sink.compact(tombstone_horizon_lsn=100)
    # The static overwrite deleted the whole state dir, record included.
    assert sink.store.recorded_schema() == recorded
    assert [r["id"] for r in sink.current_state().collect()] == [1]
    _assert_no_inference_job(spark, sink)


def test_state_without_a_record_reads_by_inference_and_records_on_write(spark, tmp_path):
    """A state dir written before records existed reads with ``mergeSchema``,
    and its next write records the union of every file's columns."""
    state = str(tmp_path / "state")
    sink = ParquetUpsertSink(spark, state, n_buckets=2)
    old = spark.createDataFrame([(1, "a", "x", "c", 10, 0)], ["id", "username", "extra", *COLS[2:]])
    sink.store.bucket(old).write.partitionBy("bucket").parquet(state)
    assert sink.store.recorded_schema() is None
    assert sink.current_state().collect()[0]["extra"] == "x"
    sink.process_batch(spark.createDataFrame([(7, "g", "c", 11, 1)], COLS), 1)
    assert sink.store.recorded_schema().names == ["id", "username", "extra", *COLS[2:]]
    assert {r["id"]: r["extra"] for r in sink.current_state().collect()} == {1: "x", 7: None}


def test_merge_types_unions_like_merge_schema():
    old = StructType([StructField("a", LongType(), False), StructField("b", StringType())])
    new = StructType([StructField("c", StringType()), StructField("a", LongType())])
    assert merge_types(old, new) == StructType(
        [StructField("a", LongType()), StructField("b", StringType()), StructField("c", StringType())]
    )
    with pytest.raises(ValueError, match="cannot merge bigint with string"):
        merge_types(old, StructType([StructField("a", StringType())]))


def test_pipeline_batches_are_persisted_once_and_released(spark, tmp_path, monkeypatch):
    fx = generate_changelog(n_keys=6, n_ops=24, seed=3, dup_rate=0.2)
    src = str(tmp_path / "src")
    write_stream_fixture(spark, fx, src, n_files=2)
    cached = []
    process_batch = ParquetUpsertSink.process_batch

    def recording(self, batch_df, batch_id):
        cached.append(batch_df.is_cached)
        process_batch(self, batch_df, batch_id)

    monkeypatch.setattr(ParquetUpsertSink, "process_batch", recording)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    q, sink = users_cdc_pipeline(
        spark,
        read_change_stream(spark, src),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=2,
    )
    assert q.awaitTermination(120)
    assert cached and all(cached)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before == set()
    got = {r["id"]: r["username"] for r in sink.current_state().collect()}
    assert got == {k: v["username"] for k, v in replay_oracle(fx.events).items()}
