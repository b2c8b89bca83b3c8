"""Streaming HLL sketch state: chunked build ≡ monolithic build, replay
idempotence WITHOUT markers, rollup-from-sketches, and accuracy."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.streaming.sketch_sink import (
    HLL_LGK,
    DistinctSketchSink,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def _events(spark):
    return load_tables(spark, SF_ORACLE)["events"].select("ts", "event_type", "user_id")


def test_stream_sketches_equal_monolithic_build(spark, tmp_path):
    """Register-max merge: estimates from chunk-merged state must EXACTLY
    equal a single-pass batch sketch — not merely be close."""
    events = _events(spark)
    src = str(tmp_path / "ev")
    events.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    sink = DistinctSketchSink(spark, str(tmp_path / "state"))
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    served = {
        (r["bucket"], r["event_type"]): r["approx_users"]
        for r in sink.serve().collect()
    }
    mono = {
        (r["bucket"], r["event_type"]): r["e"]
        for r in events.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .groupBy("bucket", "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
            ).alias("e")
        )
        .collect()
    }
    assert served == mono
    assert len(served) > 10


def test_replay_is_a_noop_without_markers(spark, tmp_path):
    """HLL union is idempotent, so re-processing the same micro-batch must
    leave every estimate unchanged — the exactly-once story additive
    rollups can only get from applied-batch markers."""
    events = _events(spark)
    sink = DistinctSketchSink(spark, str(tmp_path / "state"))
    half = events.filter(F.col("user_id") % 2 == 0)
    sink.process_batch(half, batch_id=0)
    before = sorted(
        (str(r["bucket"]), r["event_type"], r["approx_users"])
        for r in sink.serve().collect()
    )
    sink.process_batch(half, batch_id=0)  # crash-replay of the same batch
    after = sorted(
        (str(r["bucket"]), r["event_type"], r["approx_users"])
        for r in sink.serve().collect()
    )
    assert before == after


def test_rollup_from_sketches_matches_direct_and_bounds(spark, tmp_path):
    events = _events(spark)
    sink = DistinctSketchSink(spark, str(tmp_path / "state"))
    sink.process_batch(events, batch_id=0)
    daily = {
        (r["bucket"], r["event_type"]): r["approx_users"]
        for r in sink.serve_rollup("day").collect()
    }
    direct = {
        (r["bucket"], r["event_type"]): r["e"]
        for r in events.withColumn("bucket", F.date_trunc("day", F.col("ts")))
        .groupBy("bucket", "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
            ).alias("e")
        )
        .collect()
    }
    # Union of hourly sketches == daily single-pass sketch, exactly.
    assert daily == direct
    # And within the HLL error envelope of exact distinct counts.
    exact = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in events.withColumn("bucket", F.date_trunc("day", F.col("ts")))
        .groupBy("bucket", "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(daily[k] - n) / max(n, 1) < 0.1, (k, daily[k], n)


def test_parts_and_bases_are_single_parquet_files(spark, tmp_path):
    """Each published part and each compacted base holds exactly one
    parquet file: the state is a few KB of sketches per batch, and a
    shuffle-partitioned write would leave that many near-empty files per
    batch."""
    events = _events(spark)
    sink = DistinctSketchSink(spark, str(tmp_path / "state"))
    sink.process_batch(events.filter(F.col("user_id") % 2 == 0), batch_id=0)
    sink.process_batch(events.filter(F.col("user_id") % 2 == 1), batch_id=1)

    def files(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert sink.store.part_ids() == [0, 1]
    for i in (0, 1):
        assert len(files(sink.store.part_dir(i))) == 1
    sink.compact(through_batch_id=0)
    assert len(files(sink.store.base_dir(0))) == 1
    sink.compact()
    assert len(files(sink.store.base_dir(1))) == 1
