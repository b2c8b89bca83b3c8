"""Streaming projection maintenance: chunked ≡ monolithic states, replay
no-op through publish-once parts, DDL-spec wiring, and served answers vs
direct aggregates."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.ddl import translate_ddl
from python_cdc_postgres_to_clickhouse_spark.streaming.projection_sink import (
    ProjectionSink,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE

DDL = """
CREATE TABLE metrics (
    user_id UInt64, event_type String, ts DateTime, value Float64,
    PROJECTION p_daily (
        SELECT event_type, toStartOfDay(ts), count(),
               sum(toInt64(round(value * 100))), uniq(user_id),
               min(value), max(value)
        GROUP BY event_type, toStartOfDay(ts)
    )
) ENGINE = MergeTree ORDER BY (event_type, ts)
"""

ASKED = {
    "n": ("count", "n"),
    "cents": ("sum", "sum_toint64_round_value_100"),
    "uniq_users": ("uniq", "uniq_user_id"),
    "min_value": ("min", "min_value"),
    "max_value": ("max", "max_value"),
}


def _events(spark):
    return load_tables(spark, SF_ORACLE)["events"].select(
        "user_id", "event_type", "ts", "value"
    )


def _sink(spark, tmp_path) -> ProjectionSink:
    spec = translate_ddl(DDL).projections[0]
    return ProjectionSink.from_spec(
        spark, str(tmp_path / "state"), spec, partition_key="event_type"
    )


def _direct(events):
    return {
        r["event_type"]: r
        for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.count_distinct("user_id").alias("exact_u"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ).collect()
    }


def _check(sink, events):
    got = {r["event_type"]: r
           for r in sink.serve(["event_type"], ASKED).collect()}
    want = _direct(events)
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g["n"] == w["n"], k
        assert g["cents"] == w["cents"], k
        assert g["min_value"] == w["min_value"], k
        assert g["max_value"] == w["max_value"], k
        assert abs(g["uniq_users"] - w["exact_u"]) <= max(4, 0.07 * w["exact_u"])
    return got


def test_chunked_stream_equals_monolithic(spark, tmp_path):
    """Drive the real foreachBatch stream in file chunks; every value state
    must equal a single-pass aggregate bit-for-bit (integer cents — no
    float-order effects), and the HLL estimates must MATCH a monolithic
    sketch build exactly (register-max merge)."""
    events = _events(spark)
    src = str(tmp_path / "src")
    events.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
    )
    sink = _sink(spark, tmp_path)
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(600), "stream did not finish"
    got = _check(sink, events)

    mono = {
        r["event_type"]: r["e"]
        for r in events.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
        ).collect()
    }
    for k, g in got.items():
        assert g["uniq_users"] == mono[k], k


def test_replayed_batch_is_noop(spark, tmp_path):
    events = _events(spark)
    first = events.filter(F.col("user_id") % 2 == 0)
    second = events.filter(F.col("user_id") % 2 == 1)
    sink = _sink(spark, tmp_path)
    sink.process_batch(first, 0)
    sink.process_batch(second, 1)
    before = _check(sink, events)
    sink.process_batch(second, 1)  # replay: part 1 is published, a no-op
    after = {r["event_type"]: r
             for r in sink.serve(["event_type"], ASKED).collect()}
    assert {k: tuple(v) for k, v in before.items()} == {
        k: tuple(v) for k, v in after.items()
    }


def test_unpartitioned_state_full_overwrite(spark, tmp_path):
    """partition_key=None: each batch's part is one unpartitioned file (small-key
    mode), and the served answer re-merges states across the parts."""
    events = _events(spark)
    spec = translate_ddl(DDL).projections[0]
    sink = ProjectionSink.from_spec(spark, str(tmp_path / "s"), spec)
    sink.process_batch(events.filter(F.col("user_id") % 3 == 0), 0)
    sink.process_batch(events.filter(F.col("user_id") % 3 == 1), 1)
    sink.process_batch(events.filter(F.col("user_id") % 3 == 2), 2)
    _check(sink, events)


def test_rejects_partition_key_outside_keys(spark, tmp_path):
    import pytest

    spec = translate_ddl(DDL).projections[0]
    with pytest.raises(ValueError, match="not a key"):
        ProjectionSink.from_spec(spark, str(tmp_path / "s"), spec,
                                 partition_key="user_id")


def test_restart_on_same_checkpoint_adds_nothing(spark, tmp_path):
    """Re-attaching over the same files + checkpoint must leave the state
    byte-identical: the stream replays no batches, and even a crash-replay
    of the last batch finds its part published."""
    events = _events(spark)
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    def run():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
        )
        sink = _sink(spark, tmp_path)
        q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
        assert q.awaitTermination(600)
        return sink

    sink = run()
    before = sorted(tuple(r) for r in sink.serve(["event_type"], ASKED).collect())
    sink = run()  # no new files: zero batches fire
    after = sorted(tuple(r) for r in sink.serve(["event_type"], ASKED).collect())
    assert before == after


def test_served_key_filter_prunes_state_partitions(spark, tmp_path):
    """A key-filtered read of the maintained state must prune to that key's
    partition directory — the state layout exists so serve-time reads scale
    with the asked keys, not the full state."""
    events = _events(spark)
    sink = _sink(spark, tmp_path)
    sink.process_batch(events, 0)
    one = sink.projection().df.filter(F.col("event_type") == "purchase")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    assert one.count() > 0
