"""Retractable rollup sink: state-transition deltas keep a GROUP BY view of
the live CDC state correct under updates, deletes, duplicates, and replays."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
    unwrap,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.filestream import (
    read_change_stream,
    write_stream_fixture,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.retract_rollup import (
    RetractRollupSink,
)


def _expected(fixture):
    """Brute-force GROUP BY length(username) over the replay oracle."""
    exp: dict[int, tuple[int, int]] = {}
    for row in fixture.expected_final.values():
        g = len(row["username"])
        n, s = exp.get(g, (0, 0))
        exp[g] = (n + 1, s + row["created_at_us"])
    return exp


def _served(sink):
    df = sink.serve()
    assert df is not None
    return {r["grp"]: (r["n_rows"], int(r["sum_metric"])) for r in df.collect()}


def _mk_sink(spark, tmp_path, name):
    return RetractRollupSink(
        spark,
        state_dir=str(tmp_path / f"{name}_state"),
        rollup_dir=str(tmp_path / f"{name}_rollup"),
        group_expr="length(username)",
        metric_expr="created_at_us",
        n_buckets=4,
    )


def _flat(spark, events):
    return unwrap(
        changelog_df(spark, ChangeLogFixture(events=events)), keep_deletes=True
    )


@pytest.mark.heavy
def test_chunked_equals_monolithic_equals_oracle(spark, tmp_path):
    fx = generate_changelog(n_keys=30, n_ops=200, seed=7)
    chunked = _mk_sink(spark, tmp_path, "chunked")
    chunk = (len(fx.events) + 4) // 5
    for i in range(0, len(fx.events), chunk):
        chunked.process_batch(_flat(spark, fx.events[i : i + chunk]), i // chunk)
    mono = _mk_sink(spark, tmp_path, "mono")
    mono.process_batch(_flat(spark, fx.events), 0)

    exp = _expected(fx)
    assert _served(chunked) == exp
    assert _served(mono) == exp


def test_duplicate_redelivery_is_a_noop(spark, tmp_path):
    """Re-delivering already-applied changes under a NEW batch id must not
    move the rollup: deltas come from state transitions, and the state
    doesn't transition."""
    fx = generate_changelog(n_keys=20, n_ops=120, seed=11)
    sink = _mk_sink(spark, tmp_path, "dup")
    half = len(fx.events) // 2
    sink.process_batch(_flat(spark, fx.events[:half]), 0)
    sink.process_batch(_flat(spark, fx.events[half:]), 1)
    before = _served(sink)
    # Same data again, new batch ids (at-least-once across restarts).
    sink.process_batch(_flat(spark, fx.events[:half]), 2)
    sink.process_batch(_flat(spark, fx.events[half:]), 3)
    assert _served(sink) == before == _expected(fx)


def test_marker_makes_batch_replay_noop(spark, tmp_path):
    """Replaying the SAME batch id (crash between the delta part's publish
    and the stream checkpoint) skips the published delta; the state merge
    still runs."""
    fx = generate_changelog(n_keys=10, n_ops=60, seed=3)
    sink = _mk_sink(spark, tmp_path, "marker")
    sink.process_batch(_flat(spark, fx.events), 0)
    before = _served(sink)
    sink.process_batch(_flat(spark, fx.events), 0)
    assert _served(sink) == before == _expected(fx)


def _env(before, after, op, lsn):
    return {
        "before": before,
        "after": after,
        "op": op,
        "ts_ms": 1_700_000_000_000 + lsn,
        "source_lsn": lsn,
        "source_table": "users",
        "kafka_partition": 0,
        "kafka_offset": lsn,
    }


def _row(key, name):
    return {
        "id": key,
        "username": name,
        "email": f"u{key}@example.com",
        "created_at_us": 1_000_000 + key,
    }


@pytest.mark.heavy
def test_group_moving_update_delete_and_resurrection(spark, tmp_path):
    sink = _mk_sink(spark, tmp_path, "moves")
    # Insert: id 1 in group 3 ('abc'), id 2 in group 5 ('defgh').
    sink.process_batch(
        _flat(
            spark,
            [
                _env(None, _row(1, "abc"), "c", 1),
                _env(None, _row(2, "defgh"), "c", 2),
            ],
        ),
        0,
    )
    assert _served(sink) == {
        3: (1, 1_000_001),
        5: (1, 1_000_002),
    }
    # Update moves id 1 from group 3 → group 5: retract old, assert new.
    sink.process_batch(
        _flat(spark, [_env(_row(1, "abc"), _row(1, "xyzzy"), "u", 3)]), 1
    )
    assert _served(sink) == {5: (2, 2_000_003)}
    # Delete id 2: group 5 shrinks. Stale older update for id 2 arriving
    # after the delete (out-of-order) must NOT resurrect it: Δ = 0.
    sink.process_batch(
        _flat(
            spark,
            [
                _env(_row(2, "defgh"), None, "d", 4),
                _env(_row(2, "defgh"), _row(2, "stale"), "u", 3),
            ],
        ),
        2,
    )
    assert _served(sink) == {5: (1, 1_000_001)}
    # Genuine resurrection: a NEWER insert for id 2.
    sink.process_batch(_flat(spark, [_env(None, _row(2, "back"), "c", 5)]), 3)
    assert _served(sink) == {5: (1, 1_000_001), 4: (1, 1_000_002)}


@pytest.mark.heavy
def test_streaming_attach_end_to_end(spark, tmp_path):
    fx = generate_changelog(n_keys=25, n_ops=150, seed=42)
    src = str(tmp_path / "stream_src")
    write_stream_fixture(spark, fx, src, n_files=6)
    sink = _mk_sink(spark, tmp_path, "stream")
    changes = unwrap(read_change_stream(spark, src, 2), keep_deletes=True)
    q = sink.attach(changes, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert _served(sink) == _expected(fx)
    # Rollup agrees with a full recompute over the sink's own live state.
    state = sink.current_state()
    recomputed = {
        r["grp"]: (r["n"], int(r["s"]))
        for r in state.groupBy(F.length("username").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("created_at_us").cast("decimal(38,0)")).alias("s"),
        )
        .collect()
    }
    assert _served(sink) == recomputed


# -- property: ANY op sequence, ANY chunking, dups + reordering ------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from python_cdc_postgres_to_clickhouse_spark.operators.upsert import replay_oracle  # noqa: E402

from .test_upsert_property import _events_from_script  # noqa: E402


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    script=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)), min_size=1, max_size=30
    ),
    dup_mask=st.lists(st.booleans(), min_size=0, max_size=30),
    shuffle_seed=st.integers(0, 2**16),
    n_chunks=st.integers(1, 4),
)
@pytest.mark.heavy
def test_rollup_equals_replay_for_any_sequence(
    spark, tmp_path_factory, script, dup_mask, shuffle_seed, n_chunks
):
    """For ANY consistent op sequence with verbatim duplicate deliveries,
    arbitrary delivery order, and arbitrary micro-batch chunking, the
    incrementally-maintained rollup equals GROUP BY over the replay oracle.
    Mirrors test_upsert_property's state-level guarantee one level up."""
    events = _events_from_script(script)
    dups = [dict(e) for e, d in zip(events, dup_mask) if d]
    events = events + dups
    import random

    random.Random(shuffle_seed).shuffle(events)
    for off, e in enumerate(events):
        e["kafka_offset"] = off

    tmp = tmp_path_factory.mktemp("retract_prop")
    sink = _mk_sink(spark, tmp, "p")
    chunk = max(1, (len(events) + n_chunks - 1) // n_chunks)
    for i in range(0, len(events), chunk):
        sink.process_batch(_flat(spark, events[i : i + chunk]), i // chunk)

    exp: dict[int, tuple[int, int]] = {}
    for row in replay_oracle(events).values():
        g = len(row["username"])
        n, s = exp.get(g, (0, 0))
        exp[g] = (n + 1, s + row["created_at_us"])
    served = sink.serve()
    got = (
        {r["grp"]: (r["n_rows"], int(r["sum_metric"])) for r in served.collect()}
        if served is not None
        else {}
    )
    assert got == exp
