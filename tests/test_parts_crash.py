"""Crash injection for the sinks on the shared parts protocol.

Each case makes one step of ``parts.PartStore`` raise, then performs the
recovery a restarted stream or compaction job would (replay the batch, or
re-run ``compact``), and asserts the served result equals a clean run over
the same tiny inputs. Crash points:

- ``staged``: the part is written to staging, the rename never happens;
- ``published``: the part is published, the stream never commits the batch
  (for the retract sink this is before the key-state overwrite);
- ``base_write``: the new compacted base is on disk, the manifest never
  commits;
- ``before_gc``: the manifest commits, garbage collection never runs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from python_cdc_postgres_to_clickhouse_spark.operators.pq import ivfpq_fit
from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
    unwrap,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.ann_index_sink import IvfPqIndexSink
from python_cdc_postgres_to_clickhouse_spark.streaming.parts import PartStore
from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.streaming.retract_rollup import (
    RetractRollupSink,
)

SINKS = ("rollup", "ann", "retract")
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


def _retract_case(spark):
    events = generate_changelog(n_keys=6, n_ops=36, seed=5).events
    step = (len(events) + 2) // 3
    batches = [
        unwrap(
            changelog_df(spark, ChangeLogFixture(events=events[i : i + step])),
            keep_deletes=True,
        )
        for i in range(0, len(events), step)
    ]

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


_CASES = {"rollup": _rollup_case, "ann": _ann_case, "retract": _retract_case}


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
    make, batches, served = _CASES[kind](spark)
    expected = clean_served[kind]
    sink = make(str(tmp_path))
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
    assert store.part_ids() == [] and store.manifest()[1] == 2
    left = {"MANIFEST", "parts", f"base_v{store.manifest()[0]}"}
    assert set(os.listdir(store.root)) - {"models"} == left
    assert os.listdir(store.parts_dir) == []


def test_gc_sweeps_staging_of_folded_batches_only(tmp_path):
    store = PartStore(str(tmp_path))
    for name in ("_staging_1.123", "_staging_4.123"):
        os.makedirs(os.path.join(store.parts_dir, name))
    store.commit_manifest(0, 2)
    os.makedirs(store.base_dir(0))
    store.gc(0, 2)
    # Batch 1 is folded, so its staging is stale; batch 4 may be in flight.
    assert os.listdir(store.parts_dir) == ["_staging_4.123"]
    assert store.applied(2) and not store.applied(4)
