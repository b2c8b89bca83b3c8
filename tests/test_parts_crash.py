"""Crash injection for the sinks on the shared parts protocol.

Each case makes one step of ``parts.PartStore`` raise, then performs the
recovery a restarted stream or compaction job would (replay the batch, or
re-run ``compact``), and asserts the served result equals a clean run over
the same tiny inputs. The matrix runs with the store at a plain path and
again at a ``file://`` URI (the Hadoop FS code path a remote directory
takes).
Crash points:

- ``staged``: the part is written to staging, the rename never happens;
- ``published``: the part is published, the stream never commits the batch
  (for the retract sink this is before the key-state overwrite);
- ``base_write``: the new compacted base is on disk, the manifest never
  commits;
- ``before_gc``: the manifest commits, garbage collection never runs.

The upsert sink keeps no parts; its one crash point of its own is between
the state's schema record commit and the bucket write that follows it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.ddl import translate_ddl
from python_cdc_postgres_to_clickhouse_spark.operators.pq import ivfpq_fit
from python_cdc_postgres_to_clickhouse_spark.operators.upsert import replay_oracle
from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
    unwrap,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.ann_index_sink import IvfPqIndexSink
from python_cdc_postgres_to_clickhouse_spark.streaming.buckets import WriteOnce
from python_cdc_postgres_to_clickhouse_spark.streaming.parts import PartStore
from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.streaming.projection_sink import (
    ProjectionSink,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.retract_rollup import (
    RetractRollupSink,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.sketch_sink import DistinctSketchSink
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink

SINKS = ("rollup", "ann", "retract", "projection", "sketch")
CRASH_POINTS = ("staged", "published", "base_write", "before_gc")


class Crash(Exception):
    pass


def _then_crash(fn):
    def wrapped(*args, **kwargs):
        fn(*args, **kwargs)
        raise Crash

    return wrapped


def _raise(*args, **kwargs):
    raise Crash


def _inject(monkeypatch, point):
    publish, commit_base = PartStore.publish, PartStore.commit_base
    if point == "staged":
        monkeypatch.setattr(
            PartStore, "publish",
            lambda self, batch_id, write: publish(self, batch_id, _then_crash(write)),
        )
    elif point == "published":
        monkeypatch.setattr(PartStore, "publish", _then_crash(publish))
    elif point == "base_write":
        monkeypatch.setattr(
            PartStore, "commit_base",
            lambda self, write, wm: commit_base(self, _then_crash(write), wm),
        )
    else:
        monkeypatch.setattr(PartStore, "gc", _raise)


# -- tiny inputs, one per sink ----------------------------------------------


def _rollup_case(spark):
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        spark.createDataFrame(
            [
                (t0 + dt.timedelta(minutes=37 * (b * 5 + i)), f"t{i % 2}", 1.25 * (b * 5 + i))
                for i in range(5)
            ],
            "ts timestamp, event_type string, value double",
        )
        for b in range(3)
    ]

    def served(sink):
        return {tuple(r) for r in sink.serve().collect()}

    return (lambda root: PartedRollupSink(spark, root)), batches, served


def _ann_case(spark):
    rng = np.random.RandomState(7)
    X = rng.normal(size=(24, 8))
    model = ivfpq_fit(X, n_cells=2, m=4, k=4, n_iters=5, seed=42)
    batches = [
        spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(b * 8, b * 8 + 8)],
            "vec_id bigint, embedding array<double>",
        )
        for b in range(3)
    ]

    def make(root):
        return IvfPqIndexSink(
            spark, root, n_cells=2, m=4, k=4, n_iters=5, sample_k=5, model=model
        )

    def served(sink):
        index = {
            (r["vec_id"], r["model_version"], r["cell"], tuple(r["codes"]))
            for r in sink.serve().collect()
        }
        return index, {r["vec_id"] for r in sink._current_sample().collect()}

    return make, batches, served


def _changelog_batches(spark):
    """A tiny change log and its flat rows in three batches."""
    events = generate_changelog(n_keys=6, n_ops=36, seed=5).events
    step = (len(events) + 2) // 3
    return events, [
        unwrap(
            changelog_df(spark, ChangeLogFixture(events=events[i : i + step])),
            keep_deletes=True,
        )
        for i in range(0, len(events), step)
    ]


def _retract_case(spark):
    _, batches = _changelog_batches(spark)

    def make(root):
        return RetractRollupSink(
            spark,
            state_dir=os.path.join(root, "state"),
            rollup_dir=os.path.join(root, "rollup"),
            group_expr="length(username)",
            metric_expr="created_at_us",
            n_buckets=2,
        )

    def served(sink):
        return {(r["grp"], r["n_rows"], int(r["sum_metric"])) for r in sink.serve().collect()}

    return make, batches, served


_PROJECTION_DDL = """
CREATE TABLE metrics (
    user_id UInt64, event_type String, ts DateTime, value Float64,
    PROJECTION p (
        SELECT event_type, toStartOfDay(ts), count(),
               sum(toInt64(round(value * 100))), uniq(user_id), max(value)
        GROUP BY event_type, toStartOfDay(ts)
    )
) ENGINE = MergeTree ORDER BY (event_type, ts)
"""


def _projection_case(spark):
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        spark.createDataFrame(
            [
                (i % 4, f"t{i % 2}", t0 + dt.timedelta(hours=7 * (b * 5 + i)), 0.5 * (b * 5 + i))
                for i in range(5)
            ],
            "user_id bigint, event_type string, ts timestamp, value double",
        )
        for b in range(3)
    ]
    spec = translate_ddl(_PROJECTION_DDL).projections[0]
    asked = {
        "n": ("count", "n"),
        "cents": ("sum", "sum_toint64_round_value_100"),
        "users": ("uniq", "uniq_user_id"),
        "top": ("max", "max_value"),
    }

    def make(root):
        return ProjectionSink.from_spec(spark, root, spec, partition_key="event_type")

    def served(sink):
        return {tuple(r) for r in sink.serve(["event_type"], asked).collect()}

    return make, batches, served


def _sketch_case(spark):
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        spark.createDataFrame(
            [
                (i % 3 + b, f"t{i % 2}", t0 + dt.timedelta(minutes=11 * (b * 5 + i)))
                for i in range(5)
            ],
            "user_id bigint, event_type string, ts timestamp",
        )
        for b in range(3)
    ]

    def served(sink):
        return {tuple(r) for r in sink.serve().collect()}

    return (lambda root: DistinctSketchSink(spark, root)), batches, served


_CASES = {
    "rollup": _rollup_case,
    "ann": _ann_case,
    "retract": _retract_case,
    "projection": _projection_case,
    "sketch": _sketch_case,
}


@pytest.fixture(scope="module")
def clean_served(spark, tmp_path_factory):
    """What each sink serves after a crash-free run over the same batches."""
    out = {}
    for kind in SINKS:
        make, batches, served = _CASES[kind](spark)
        sink = make(str(tmp_path_factory.mktemp(f"clean_{kind}")))
        for i, b in enumerate(batches):
            sink.process_batch(b, i)
        out[kind] = served(sink)
    return out


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("kind", SINKS)
def test_crash_then_recovery_serves_clean_result(
    spark, tmp_path, monkeypatch, clean_served, kind, point
):
    _crash_then_recover(spark, tmp_path, monkeypatch, clean_served, kind, point, uri=False)


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("kind", SINKS)
def test_crash_then_recovery_serves_clean_result_at_file_uri(
    spark, tmp_path, monkeypatch, clean_served, kind, point
):
    _crash_then_recover(spark, tmp_path, monkeypatch, clean_served, kind, point, uri=True)


def _crash_then_recover(spark, tmp_path, monkeypatch, clean_served, kind, point, uri):
    make, batches, served = _CASES[kind](spark)
    expected = clean_served[kind]
    sink = make(tmp_path.as_uri() if uri else str(tmp_path))
    if point in ("staged", "published"):
        sink.process_batch(batches[0], 0)
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(Crash):
                sink.process_batch(batches[1], 1)
        # Restart: the stream re-delivers the uncommitted batch 1.
        for i in (1, 2):
            sink.process_batch(batches[i], i)
        assert served(sink) == expected
        sink.compact()
    else:
        for i, b in enumerate(batches):
            sink.process_batch(b, i)
        sink.compact(through_batch_id=1)
        sink.process_batch(batches[2], 2)
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(Crash):
                sink.compact()
        # Every crash point leaves a consistent view ...
        assert served(sink) == expected
        # ... and a restarted stream replays its last batches.
        for i in (1, 2):
            sink.process_batch(batches[i], i)
        sink.compact()
    assert served(sink) == expected
    store = sink.store
    version, watermark = store.manifest()
    assert store.part_ids() == [] and watermark == 2
    # Only the live manifest and base are left (plus the checksum file
    # Hadoop's local filesystem writes beside the manifest).
    root = tmp_path / "rollup" if kind == "retract" else tmp_path
    left = {f"MANIFEST.{version}", "parts", f"base_v{version}", f".MANIFEST.{version}.crc"}
    assert set(os.listdir(root)) - {"models"} == left
    assert os.listdir(root / "parts") == []


@pytest.mark.parametrize("evolve, uri", [(False, True), (True, False)])
def test_upsert_crash_between_schema_commit_and_data_write(
    spark, tmp_path, monkeypatch, evolve, uri
):
    """The schema record commits, the bucket write never happens, and the
    replayed stream reaches the replay oracle's state. Without ``evolve``
    the crash hits batch 0, whose write creates the record; with it,
    batch 1 adds a column, whose record is then ahead of every file."""
    events, batches = _changelog_batches(spark)
    crash_at = 0
    if evolve:
        crash_at = 1
        batches = batches[:1] + [
            b.withColumn("note", F.lit(f"b{i}")) for i, b in enumerate(batches[1:], 1)
        ]
    root = tmp_path.as_uri() if uri else str(tmp_path)
    sink = ParquetUpsertSink(spark, os.path.join(root, "state"), n_buckets=2)
    for i in range(crash_at):
        sink.process_batch(batches[i], i)
    with monkeypatch.context() as m:
        m.setattr(WriteOnce, "commit", _then_crash(WriteOnce.commit))
        with pytest.raises(Crash):
            sink.process_batch(batches[crash_at], crash_at)
    if evolve:
        # A column the record has and no file holds reads as null.
        assert {r["note"] for r in sink.current_state().collect()} == {None}
    else:
        assert sink.current_state() is None
    # Restart: the stream re-delivers the uncommitted batch.
    for i in range(crash_at, len(batches)):
        sink.process_batch(batches[i], i)
    got = {r["id"]: (r["username"], r["email"]) for r in sink.current_state().collect()}
    assert got == {k: (v["username"], v["email"]) for k, v in replay_oracle(events).items()}


def test_gc_sweeps_staging_of_folded_batches_only(spark, tmp_path):
    store = PartStore(spark, str(tmp_path))
    for name in ("_staging_1.123", "_staging_4.123"):
        os.makedirs(os.path.join(store.parts_dir, name))
    for version in (0, 1):
        store.commit_manifest(version, 2)
        os.makedirs(store.base_dir(version))
    # A manifest version is written once: the first commit wins.
    with pytest.raises(RuntimeError, match="already committed"):
        store.commit_manifest(1, 3)
    assert store.manifest() == (1, 2)
    store.gc(1, 2)
    # Batch 1 is folded, so its staging is stale; batch 4 may be in flight.
    assert os.listdir(store.parts_dir) == ["_staging_4.123"]
    # The superseded manifest and base go; the live ones stay.
    assert sorted(n for n in os.listdir(tmp_path) if not n.startswith(".")) == [
        "MANIFEST.1", "base_v1", "parts"
    ]
    assert store.manifest() == (1, 2)
    assert store.applied(2) and not store.applied(4)
