"""The benchmark's workloads: timed passes and their correctness checks.

Both workloads are one closed loop with a single client: the next query or
micro-batch starts only after the previous one has returned or committed.
Both run analytic reads and a CDC ingest, in opposite proportions, so every
end-to-end metric exists on both and each layer has a workload that leans on
it and one that barely touches it:

- ``query_mix``: twelve registry queries at sf0.1, each run cold (after
  ``clearCache``) and then warm, followed by a short ingest (8 file batches)
  with its state reads.
- ``cdc_ingest``: a 10-batch change-log backlog replayed through
  ``pipelines.users_cdc_pipeline`` in two halves, the second restarting from
  the checkpoint, with the state reads after each half.

A run does a fixed amount of work, so the parent and a change are compared
on the same samples. Before either ingest half, untimed, the change log's
initial snapshot (its ``op='r'`` rows) is loaded through the same pipeline
as one batch: the timed batches then merge changes into a state table that
holds many more rows than each batch has events.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

# Run in this fixed order. The first dialect query, the first query that
# starts Python workers and the first query after set-up pay one-off start-up
# costs (up to +1.8 s each); a seeded order moved those costs onto a different
# query every run and spread the median cold latency by over a fifth between
# seeds, so the order is fixed and the seed drives the change log only.
QUERY_MIX = (
    "sql_ch_events_rollup", "w_topk_per_group", "sql_ch_dict_lookup",
    "cdc_collapsing_state", "x_dedup_exact", "sql_ch_top_per_type",
    "x_cluster_canonical", "t_tumbling_window", "sql_ch_fill_interpolate",
    "cdc_scd2_history", "j_asof_latest_event", "sql_ch_asof_enrich",
)
WARMUP = "cdc_latest_by_key"

# (n_keys, n_ops, n_files) of the change log each workload ingests, and the
# warm repeats of each state read after an ingest half. The snapshot holds
# n_keys / 2 rows; n_files equal batches carry the rest. On cdc_ingest that
# is ~1.6k events per batch against a state of 20k-26k rows.
INGEST = {
    ("query_mix", "sf0.1"): (6_000, 3_000, 8, 1),
    ("cdc_ingest", "sf0.1"): (40_000, 12_500, 10, 2),
    ("query_mix", "sf0.001"): (200, 200, 4, 1),
    ("cdc_ingest", "sf0.001"): (400, 400, 4, 2),
}
WORKLOADS = ("query_mix", "cdc_ingest")
SNAPSHOT = "snapshot"  # tracer root of the untimed snapshot load
WARM_REPEATS = 1  # warm repeats of each registry query


@dataclass
class Samples:
    """Latencies in seconds, and the operations attempted and failed."""
    query_cold: list[float] = field(default_factory=list)
    query_warm: list[list[float]] = field(default_factory=list)  # repeats per query
    read_cold: list[float] = field(default_factory=list)
    read_warm: list[list[float]] = field(default_factory=list)  # repeats per read
    batches: list[float] = field(default_factory=list)
    ingest_s: list[float] = field(default_factory=list)
    events: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str, err: BaseException | str) -> None:
        first_line = (str(err).splitlines() or [type(err).__name__])[0]
        self.failures.append(f"{what}: {first_line[:300]}")


class Client:
    """The single closed-loop client of a run; ``probe`` adds tracing."""

    def __init__(self, spark, sf_dir: str, specs: dict, probe=None):
        self.spark, self.sf_dir, self.specs, self.probe = spark, sf_dir, specs, probe
        self.samples = Samples()

    # -- analytic queries -------------------------------------------------
    def timed_query(self, name: str, phase: str) -> float:
        """``spec.fn`` plus a noop write: plan build and full execution."""
        qid, p = f"{name}:{phase}", self.probe
        t0 = time.perf_counter()
        with p.phase(qid, "build") if p else nullcontext():
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with p.phase(qid, "force") if p else nullcontext():
            df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if p:
            p.query_done(qid)
        return dt

    def query_pass(self, names: list[str], expected: dict) -> None:
        """Each query cold, then its immediate warm repeats, then its parity
        check (untimed, before the next ``clearCache`` drops what the query
        persisted)."""
        for name in names:
            self.samples.attempted += 1
            try:
                self.spark.catalog.clearCache()
                cold = self.timed_query(name, "cold")
                warm = [self.timed_query(name, f"warm{i}") for i in range(WARM_REPEATS)]
            except Exception as e:  # counted; the mix goes on
                self.samples.fail(name, e)
                continue
            self.samples.query_cold.append(cold)
            self.samples.query_warm.append(warm)
            self._check_query(name, expected[name])

    def _check_query(self, name: str, want) -> None:
        from parity import compare

        try:
            problem = compare(self.specs[name].fn(self.spark, self.sf_dir).toPandas(), want)
        except Exception as e:
            problem = e
        if problem:
            self.samples.fail(name, problem)

    # -- CDC ingest ---------------------------------------------------------
    def ingest(self, log: "ChangeLog", reads_seed: int) -> None:
        """Load the snapshot (untimed), then replay the rest of ``log`` in
        two halves, with state reads and checks after each."""
        rng = random.Random(reads_seed)
        p = self.probe
        if p:
            p.root(SNAPSHOT)
        self.samples.attempted += 1
        try:
            self._stream(log)
        except Exception as e:
            self.samples.fail("snapshot load", e)
            return
        if p:
            p.skip_batches()
        for half in (0, 1):
            log.write_half(half)  # load generation: before the clock starts
            self.samples.attempted += 1
            if p:
                p.root(f"ingest:half{half}")
            t0 = time.perf_counter()
            try:
                query, sink = self._stream(log)
            except Exception as e:
                self.samples.fail(f"ingest half {half}", e)
                return
            wall = time.perf_counter() - t0
            progress = [b for b in query.recentProgress if b["numInputRows"] > 0]
            if p:
                p.ingest_half(progress)
            self.samples.ingest_s.append(wall)
            self.samples.events += sum(b["numInputRows"] for b in progress)
            self.samples.batches += [b["durationMs"]["triggerExecution"] / 1e3 for b in progress]
            delivered = log.delivered(half)
            self.state_reads(sink, delivered, rng.randrange(max(1, log.n_keys - 100)),
                             log.read_repeats)
            self._check_state(f"ingest half {half}", sink, delivered)

    def _stream(self, log: "ChangeLog"):
        """Run the pipeline over the files not yet consumed, to termination."""
        from python_cdc_postgres_to_clickhouse_spark import pipelines
        from python_cdc_postgres_to_clickhouse_spark.streaming import filestream

        query, sink = pipelines.users_cdc_pipeline(
            self.spark, filestream.read_change_stream(self.spark, log.src),
            state_dir=log.state, checkpoint_dir=log.ckpt)
        if not query.awaitTermination(150):
            query.stop()
            raise TimeoutError("stream did not finish within 150 s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query, sink

    def state_reads(self, sink, delivered: list[dict], lo: int, repeats: int) -> None:
        """Each state read cold, then ``repeats`` warm; every result checked."""
        expect = expected_reads(delivered, lo)
        for read, fn in STATE_READS.items():
            times = []
            for i in range(1 + repeats):
                if self.probe:
                    self.probe.root(f"read:{read}:{i}")
                self.samples.attempted += 1
                try:
                    t0 = time.perf_counter()
                    got = fn(sink.current_state(), lo)
                    times.append(time.perf_counter() - t0)
                except Exception as e:
                    self.samples.fail(f"state read {read}", e)
                    break
                if got != expect[read]:
                    self.samples.fail(f"state read {read}",
                                      f"got {got!r:.200} want {expect[read]!r:.200}")
            if times:
                self.samples.read_cold.append(times[0])
                self.samples.read_warm.append(times[1:])

    def _check_state(self, what: str, sink, delivered: list[dict]) -> None:
        from python_cdc_postgres_to_clickhouse_spark.operators.upsert import replay_oracle

        self.samples.attempted += 1
        want = {k: (v["username"], v["email"]) for k, v in replay_oracle(delivered).items()}
        try:
            got = {r["id"]: (r["username"], r["email"])
                   for r in sink.current_state().select("id", "username", "email").collect()}
        except Exception as e:
            self.samples.fail(what, e)
            return
        if got != want:
            missing = len(want.keys() - got.keys())
            extra = len(got.keys() - want.keys())
            self.samples.fail(what, f"state differs from replay_oracle: "
                                    f"{missing} missing, {extra} extra keys")


def _count(cs, lo):
    return cs.count()


def _id_range(cs, lo):
    from pyspark.sql import functions as F

    rows = cs.filter(F.col("id").between(lo, lo + 99)).select("id", "username").collect()
    return sorted((r["id"], r["username"]) for r in rows)


def _op_counts(cs, lo):
    return sorted((r["op"], r["count"]) for r in cs.groupBy("op").count().collect())


# The reads a user of the state table runs after an ingest: live-row count,
# a point-range lookup on the key, and a per-op aggregate.
STATE_READS = {"live_rows": _count, "id_range": _id_range, "op_counts": _op_counts}


def expected_reads(events: list[dict], lo: int) -> dict:
    """What each state read must return, from an in-order replay."""
    live: dict[int, tuple[str, str]] = {}  # id -> (username, op)
    for e in sorted(events, key=lambda e: (e["source_lsn"], e["kafka_offset"])):
        key = (e["after"] or e["before"])["id"]
        if e["op"] == "d":
            live.pop(key, None)
        else:
            live[key] = (e["after"]["username"], e["op"])
    return {
        "live_rows": len(live),
        "id_range": sorted((k, u) for k, (u, _) in live.items() if lo <= k <= lo + 99),
        "op_counts": sorted(Counter(op for _, op in live.values()).items()),
    }


class ChangeLog:
    """A seeded ``generate_changelog`` backlog: its snapshot as one file
    batch, then the changes cut into two halves of equal file batches."""

    def __init__(self, run_dir: str, n_keys: int, n_ops: int, n_files: int,
                 read_repeats: int, seed: int):
        from python_cdc_postgres_to_clickhouse_spark.sources.cdc import generate_changelog

        self.n_keys, self.n_files, self.read_repeats = n_keys, n_files, read_repeats
        self.events = generate_changelog(
            n_keys=n_keys, n_ops=n_ops, seed=seed, dup_rate=0.1).events
        # The generator emits one snapshot row per even key first; delivery
        # reorders events only a few places, so this prefix is the snapshot.
        self.snap = n_keys // 2
        per_file = -(-(len(self.events) - self.snap) // n_files)
        self.cut = self.snap + per_file * (n_files // 2)  # end of half 0
        self.src = os.path.join(run_dir, "src")
        self.state = os.path.join(run_dir, "state")
        self.ckpt = os.path.join(run_dir, "ckpt")

    def delivered(self, half: int) -> list[dict]:
        return self.events[: self.cut] if half == 0 else self.events

    def write_snapshot(self) -> None:
        from datagen import write_changelog

        write_changelog(self.events[: self.snap], self.src, 1)

    def write_half(self, half: int) -> None:
        from datagen import write_changelog

        if half == 0:
            write_changelog(self.events[self.snap: self.cut], self.src, self.n_files // 2, 1)
        else:
            write_changelog(self.events[self.cut:], self.src,
                            self.n_files - self.n_files // 2, 1 + self.n_files // 2)
