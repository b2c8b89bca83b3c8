"""Parts-based rollup sink: exactly-once via publish-once parts + atomic
manifest compaction — every crash/replay interleaving converges."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def _events(spark):
    return load_tables(spark, SF_ORACLE)["events"].select("ts", "event_type", "value")


def _expected(events):
    return {
        (r["bucket"], r["event_type"]): (r["n"], r["s"])
        for r in events.withColumn("bucket", F.date_trunc("hour", "ts"))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    }


def _served(sink):
    df = sink.serve()
    assert df is not None
    return {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in df.collect()
    }


def _chunks(events, n):
    rows = events.count()
    step = (rows + n - 1) // n
    # Deterministic chunking on event order via a stable sort key.
    ordered = events.withColumn("_rid", F.monotonically_increasing_id())
    return [
        ordered.filter(
            (F.col("_rid") >= i * step) & (F.col("_rid") < (i + 1) * step)
        ).drop("_rid")
        for i in range(n)
    ]


def test_streaming_matches_batch(spark, tmp_path):
    events = _events(spark)
    src = str(tmp_path / "ev")
    events.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert len(sink.store.part_ids()) >= 2, "expected multiple micro-batch parts"
    assert _served(sink) == _expected(events)
    # Compaction folds every part into base_v0 and serve is unchanged.
    sink.compact()
    assert sink.store.part_ids() == []
    assert sink.store.manifest()[0] == 0
    assert _served(sink) == _expected(events)


def test_replay_is_idempotent_before_and_after_compaction(spark, tmp_path):
    events = _events(spark)
    chunks = _chunks(events, 4)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    exp = _expected(events)
    assert _served(sink) == exp
    # Replay every batch (crash before ANY offset commit): every part is
    # already published, serve unchanged.
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    assert _served(sink) == exp
    # Compact through batch 2, then replay batches 1..3: 1 and 2 are below
    # the watermark (skipped — already in base), 3 is already published.
    sink.compact(through_batch_id=2)
    for i in (1, 2, 3):
        sink.process_batch(chunks[i], i)
    assert sink.store.part_ids() == [3]
    assert _served(sink) == exp
    sink.compact()
    assert _served(sink) == exp


def test_crash_during_compaction_base_write_recovers(spark, tmp_path):
    """Simulate a crash mid-compaction: the new base directory is written
    but the manifest never commits. Serve still reads the OLD view; re-run
    compact() and everything converges."""
    events = _events(spark)
    chunks = _chunks(events, 3)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    exp = _expected(events)
    # Crash simulation: build the would-be base_v0 without the manifest.
    ids = sink.store.part_ids()
    merged = sink._states(ids).remerged().df
    merged.coalesce(1).write.mode("overwrite").parquet(sink.store.base_dir(0))
    # No manifest → serve ignores the orphan base and reads the parts.
    assert sink.store.manifest() == (-1, -1)
    assert _served(sink) == exp
    # Recovery: compact() rewrites the uncommitted version from the same
    # inputs and commits atomically.
    sink.compact()
    assert _served(sink) == exp
    assert sink.store.manifest()[1] == max(ids)


def test_crash_after_manifest_before_gc_recovers(spark, tmp_path):
    """Manifest committed but garbage not collected: folded parts and the
    old base version are ignored; the next compact sweeps them."""
    events = _events(spark)
    chunks = _chunks(events, 3)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    exp = _expected(events)
    sink.compact()  # base_v0, wm=2
    # New batch, then a compaction whose GC "crashed": do the fold+commit
    # by hand, leaving the folded part and base_v0 behind.
    sink.process_batch(chunks[0], 3)
    merged = sink._states([3]).remerged().df
    merged.coalesce(1).write.mode("overwrite").parquet(sink.store.base_dir(1))
    sink.store.commit_manifest(1, 3)
    exp2 = _served(sink)  # garbage part 3 + base_v0 must be ignored
    assert os.path.isdir(sink.store.base_dir(0))  # garbage present...
    assert 3 in sink.store.part_ids()
    sink.compact()  # sweep
    assert not os.path.isdir(sink.store.base_dir(0))
    assert sink.store.part_ids() == []
    assert _served(sink) == exp2
    # And the double-counting hazard really was avoided: batch 3 applied once.
    n_total = sum(n for n, _ in _served(sink).values())
    n_exp = sum(n for n, _ in exp.values()) + chunks[0].count()
    assert n_total == n_exp
