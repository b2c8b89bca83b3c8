"""SCD2 history sink: replay-oracle parity, idempotent replay, point-in-time
reads, retention compaction, and the streaming leg."""

from __future__ import annotations

import pytest

from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    OP_DELETE,
    changelog_df,
    generate_changelog,
    unwrap,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.filestream import (
    read_change_stream,
    write_stream_fixture,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.scd2_sink import Scd2HistorySink


def _flat(spark, events):
    from python_cdc_postgres_to_clickhouse_spark.sources.cdc import ChangeLogFixture

    return unwrap(
        changelog_df(spark, ChangeLogFixture(events=events)), keep_deletes=True
    )


def _python_scd2(events):
    """Independent oracle: dedup by (id, lsn), per-key LSN-ordered chain,
    non-delete rows get [ts, next-change-ts) validity."""
    by_key: dict[int, dict[int, dict]] = {}
    for e in events:
        key = (e["after"] or e["before"])["id"]
        by_key.setdefault(key, {})[e["source_lsn"]] = e
    out = {}
    for key, chain in by_key.items():
        ordered = [chain[lsn] for lsn in sorted(chain)]
        for i, e in enumerate(ordered):
            if e["op"] == OP_DELETE:
                continue
            nxt = ordered[i + 1]["ts_ms"] if i + 1 < len(ordered) else None
            out[(key, e["source_lsn"])] = (
                e["after"]["username"],
                e["ts_ms"],
                nxt,
            )
    return out


def _sink_history(sink):
    return {
        (r["id"], r["source_lsn"]): (r["username"], r["ts_ms"], r["valid_to_ms"])
        for r in sink.history().collect()
    }


def _chunks(seq, n):
    step = max(1, (len(seq) + n - 1) // n)
    return [seq[i : i + step] for i in range(0, len(seq), step)]


@pytest.mark.heavy
def test_scd2_sink_matches_python_oracle(spark, tmp_path):
    fx = generate_changelog(n_keys=30, n_ops=250, seed=11)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=8)
    for i, chunk in enumerate(_chunks(fx.events, 6)):
        sink.process_batch(_flat(spark, chunk), i)
    assert _sink_history(sink) == _python_scd2(fx.events)


@pytest.mark.heavy
@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_scd2_sink_chunking_invariance(spark, tmp_path, uri):
    """1 batch vs 9 batches produce the identical history table, also
    under a ``file://`` state dir."""
    fx = generate_changelog(n_keys=15, n_ops=120, seed=7)
    root = tmp_path.as_uri() if uri else str(tmp_path)
    a = Scd2HistorySink(spark, f"{root}/a", n_buckets=4)
    a.process_batch(_flat(spark, fx.events), 0)
    b = Scd2HistorySink(spark, f"{root}/b", n_buckets=4)
    for i, chunk in enumerate(_chunks(fx.events, 9)):
        b.process_batch(_flat(spark, chunk), i)
    assert _sink_history(a) == _sink_history(b)


def test_scd2_sink_replay_is_noop(spark, tmp_path):
    """Re-delivering an already-applied batch changes nothing (exactly-once
    effects without markers: set-union + recompute)."""
    fx = generate_changelog(n_keys=12, n_ops=100, seed=3)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=4)
    chunks = _chunks(fx.events, 4)
    for i, chunk in enumerate(chunks):
        sink.process_batch(_flat(spark, chunk), i)
    before = _sink_history(sink)
    sink.process_batch(_flat(spark, chunks[1]), 99)  # crash-replay
    assert _sink_history(sink) == before


def test_scd2_current_matches_replay_oracle(spark, tmp_path):
    fx = generate_changelog(n_keys=25, n_ops=200, seed=5)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=8)
    for i, chunk in enumerate(_chunks(fx.events, 5)):
        sink.process_batch(_flat(spark, chunk), i)
    got = {r["id"]: r["username"] for r in sink.current().collect()}
    assert got == {k: v["username"] for k, v in fx.expected_final.items()}


def test_scd2_as_of_point_in_time(spark, tmp_path):
    fx = generate_changelog(n_keys=20, n_ops=150, seed=9)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=8)
    sink.process_batch(_flat(spark, fx.events), 0)
    all_ts = sorted({e["ts_ms"] for e in fx.events})
    cut = all_ts[len(all_ts) // 2]
    # Python replay: state at `cut` = last change with ts_ms <= cut per key
    # (LSN order == ts order in the fixture), dropping deleted keys.
    state: dict[int, str] = {}
    seen: dict[int, dict[int, dict]] = {}
    for e in fx.events:
        key = (e["after"] or e["before"])["id"]
        seen.setdefault(key, {})[e["source_lsn"]] = e
    for key, chain in seen.items():
        for lsn in sorted(chain):
            e = chain[lsn]
            if e["ts_ms"] > cut:
                break
            if e["op"] == OP_DELETE:
                state.pop(key, None)
            else:
                state[key] = e["after"]["username"]
    got = {r["id"]: r["username"] for r in sink.as_of(cut).collect()}
    assert got == state


def test_scd2_compaction_preserves_survivors_and_replays(spark, tmp_path):
    """Compacting closed-before-horizon versions keeps every surviving
    interval identical and later batches still merge correctly."""
    fx = generate_changelog(n_keys=18, n_ops=160, seed=13)
    chunks = _chunks(fx.events, 4)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=4)
    for i, chunk in enumerate(chunks[:3]):
        sink.process_batch(_flat(spark, chunk), i)
    # The documented contract: the horizon must lag the source replay
    # window — no not-yet-delivered (or replayable) change may be older
    # than it. The undelivered chunk IS the replay window here.
    horizon = min(e["ts_ms"] for e in chunks[3])
    sink.compact(closed_before_ms=horizon)
    sink.process_batch(_flat(spark, chunks[3]), 3)
    full = _python_scd2(fx.events)
    surviving = {
        k: v for k, v in full.items() if v[2] is None or v[2] >= horizon
    }
    assert _sink_history(sink) == surviving
    # current() is unaffected by compaction.
    cur = {r["id"]: r["username"] for r in sink.current().collect()}
    assert cur == {k: v["username"] for k, v in fx.expected_final.items()}


@pytest.mark.heavy
def test_scd2_streaming_leg(spark, tmp_path):
    from python_cdc_postgres_to_clickhouse_spark.sources.cdc import with_event_time

    fx = generate_changelog(n_keys=20, n_ops=150, seed=17)
    src = str(tmp_path / "src")
    write_stream_fixture(spark, fx, src, n_files=6)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=8)
    q = sink.attach(
        with_event_time(unwrap(read_change_stream(spark, src), keep_deletes=True)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert _sink_history(sink) == _python_scd2(fx.events)


# ---------------------------------------------------------------------------
# Hypothesis property: history == oracle for ANY op sequence / delivery
# order / duplication / chunking (mirrors test_retract_rollup's pattern).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

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
def test_scd2_history_equals_oracle_for_any_sequence(
    spark, tmp_path_factory, script, dup_mask, shuffle_seed, n_chunks
):
    events = _events_from_script(script)
    dups = [dict(e) for e, d in zip(events, dup_mask) if d]
    events = events + dups
    import random

    random.Random(shuffle_seed).shuffle(events)
    for off, e in enumerate(events):
        e["kafka_offset"] = off

    tmp = tmp_path_factory.mktemp("scd2_prop")
    sink = Scd2HistorySink(spark, str(tmp / "state"), n_buckets=4)
    chunk = max(1, (len(events) + n_chunks - 1) // n_chunks)
    for i in range(0, len(events), chunk):
        sink.process_batch(_flat(spark, events[i : i + chunk]), i // chunk)

    assert _sink_history(sink) == _python_scd2(events)


def test_scd2_enrich_as_of_temporal_join(spark, tmp_path):
    """Temporal table join: every fact picks the dimension version valid at
    its own timestamp — verified against a python interval scan, including
    facts before the key's first version and inside deleted gaps."""
    fx = generate_changelog(n_keys=15, n_ops=120, seed=23)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=4)
    sink.process_batch(_flat(spark, fx.events), 0)

    # Facts: probe each key at every midpoint between consecutive change
    # timestamps, plus before-first and after-last.
    hist = _python_scd2(fx.events)
    by_key: dict[int, list] = {}
    for (key, lsn), (uname, ts, nxt) in hist.items():
        by_key.setdefault(key, []).append((ts, nxt, uname))
    probes = []
    for key, chain in by_key.items():
        tss = sorted(t for t, _, _ in chain)
        pts = [tss[0] - 5, tss[-1] + 5] + [t + 1 for t in tss]
        probes += [(key, int(p)) for p in pts]
    facts = spark.createDataFrame(probes, "k: long, t_ms: long")

    got = {
        (r["k"], r["t_ms"]): r["dim_username"]
        for r in sink.enrich_as_of(
            facts, "k", "t_ms", payload=("username",)
        ).collect()
    }

    def expected(key, t):
        for ts, nxt, uname in by_key.get(key, []):
            if ts <= t and (nxt is None or t < nxt):
                return uname
        return None

    assert len(got) == len(probes)  # left join keeps every fact exactly once
    for key, t in probes:
        assert got[(key, t)] == expected(key, t), (key, t)


def test_scd2_empty_batch_is_noop(spark, tmp_path):
    fx = generate_changelog(n_keys=8, n_ops=40, seed=29)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=4)
    sink.process_batch(_flat(spark, fx.events), 0)
    before = _sink_history(sink)
    sink.process_batch(_flat(spark, fx.events).limit(0), 1)
    assert _sink_history(sink) == before


def test_scd2_checkpoint_restart(spark, tmp_path):
    """D4 for the history sink: stop mid-stream, restart from the same
    checkpoint — no double-apply, final history complete."""
    import os
    import shutil

    from python_cdc_postgres_to_clickhouse_spark.sources.cdc import with_event_time

    fx = generate_changelog(n_keys=20, n_ops=150, seed=31)
    src = str(tmp_path / "src")
    all_files = write_stream_fixture(spark, fx, src, n_files=6)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    half = len(all_files) // 2
    for p in all_files[half:]:
        shutil.move(p, os.path.join(staged, os.path.basename(p)))

    def flat(stream):
        return with_event_time(unwrap(stream, keep_deletes=True))

    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q1 = sink.attach(flat(read_change_stream(spark, src)), checkpoint_dir=ckpt)
    q1.awaitTermination(120)
    partial = _sink_history(sink)

    for p in os.listdir(staged):
        shutil.move(os.path.join(staged, p), os.path.join(src, p))
    q2 = sink.attach(flat(read_change_stream(spark, src)), checkpoint_dir=ckpt)
    q2.awaitTermination(120)

    got = _sink_history(sink)
    assert got == _python_scd2(fx.events)
    assert partial != got


def test_scd2_streaming_enrichment(spark, tmp_path):
    """Continuous temporal enrichment: a fact stream joined per batch to the
    dimension state; every emitted fact carries the version valid at its own
    event time (dimension fully applied first — steady-state semantics)."""
    fx = generate_changelog(n_keys=12, n_ops=90, seed=37)
    sink = Scd2HistorySink(spark, str(tmp_path / "state"), n_buckets=4)
    sink.process_batch(_flat(spark, fx.events), 0)

    hist = _python_scd2(fx.events)
    by_key: dict[int, list] = {}
    for (key, lsn), (uname, ts, nxt) in hist.items():
        by_key.setdefault(key, []).append((ts, nxt, uname))
    probes = []
    for key, chain in by_key.items():
        for ts, _, _ in chain:
            probes.append((key, int(ts) + 1))
    import os

    facts_dir = str(tmp_path / "facts")
    os.makedirs(facts_dir)
    facts = spark.createDataFrame(probes, "k: long, t_ms: long")
    facts.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(facts_dir, "b0.parquet")
    )
    stream = (
        spark.readStream.schema("k long, t_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(facts_dir, "*.parquet"))
    )
    out = str(tmp_path / "enriched")
    q = sink.attach_enrichment(
        stream,
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        fact_key="k",
        fact_time_ms="t_ms",
        payload=("username",),
    )
    q.awaitTermination(120)

    got = {
        (r["k"], r["t_ms"]): r["dim_username"]
        for r in spark.read.parquet(out).collect()
    }

    def expected(key, t):
        for ts, nxt, uname in by_key.get(key, []):
            if ts <= t and (nxt is None or t < nxt):
                return uname
        return None

    assert len(got) == len(probes)
    for key, t in probes:
        assert got[(key, t)] == expected(key, t)
