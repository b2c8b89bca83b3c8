"""Span recorder and layer probes for the traced benchmark run.

Nothing here edits the package. ``install`` rebinds public functions to
span-recording wrappers at the names their callers look up: every package
module that imported ``load_tables``, ``clickhouse_sql``, ``translate`` or
``connected_components`` by name gets the wrapper under that name, and
``ParquetUpsertSink.process_batch`` / ``current_state`` are wrapped on the
class before a sink is attached. Spans stay in memory; the runner writes
them out at exit.

Executor-side numbers come from Spark's status store (it is populated with
the UI disabled), read per job group: the runner tags every query execution
and every micro-batch with its own ``setJobGroup``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time

PKG = "python_cdc_postgres_to_clickhouse_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.root = "run"  # id of the query or ingest half being driven
        self._stack = threading.local()
        self._ids = iter(range(1, 1 << 62))

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        stack = t._stack.__dict__.setdefault("s", [])
        self.rec = {"id": next(t._ids), "name": self.name,
                    "parent": stack[-1]["id"] if stack else None,
                    "root": t.root, "start": time.time(), "end": None}
        stack.append(self.rec)
        t.spans.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._stack.s.pop()
        return False


def _rebind(original, wrapper) -> None:
    """Point every package-module global bound to ``original`` at ``wrapper``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def install(tracer: Tracer) -> list[dict]:
    """Wrap the layer entry points; returns the list that gets one record
    per micro-batch."""
    from python_cdc_postgres_to_clickhouse_spark import dialect, pipelines, session, tables
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters
    from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink

    for fn, name in [(session.get_spark, "session.get_spark"),
                     (tables.load_tables, "tables.load_tables"),
                     (dialect.clickhouse_sql, "dialect.clickhouse_sql"),
                     (dialect.translate, "dialect.translate"),
                     (clusters.connected_components, "operators.connected_components"),
                     (pipelines.users_cdc_pipeline, "pipelines.users_cdc_pipeline")]:
        _rebind(fn, tracer.wrap(name, fn))

    batches: list[dict] = []
    process_batch = ParquetUpsertSink.process_batch
    current_state = ParquetUpsertSink.current_state

    def traced_process_batch(self, batch_df, batch_id):
        sc = self.spark.sparkContext
        group = f"{tracer.root}:batch{batch_id}"
        sc.setJobGroup(group, group)
        before = _bucket_files(self.state_dir)
        with tracer.span("streaming.process_batch"):
            process_batch(self, batch_df, batch_id)
        after = _bucket_files(self.state_dir)
        touched = sum(1 for b in set(before) | set(after) if before.get(b) != after.get(b))
        batches.append({"group": group, "n_buckets": self.n_buckets, "buckets_touched": touched})

    def traced_current_state(self):
        with tracer.span("streaming.current_state"):
            return current_state(self)

    ParquetUpsertSink.process_batch = traced_process_batch
    ParquetUpsertSink.current_state = traced_current_state
    return batches


def _bucket_files(state_dir: str) -> dict[str, frozenset]:
    if not os.path.isdir(state_dir):
        return {}
    return {b: frozenset(os.listdir(os.path.join(state_dir, b)))
            for b in os.listdir(state_dir) if b.startswith("bucket=")}


class StatusStore:
    """Job, stage and task records from Spark's AppStatusStore, as JSON."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(None))
                if j.get("jobGroup") in groups]

    def stages(self, stage_ids: set[int]) -> list[dict]:
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        return [s for s in self._json(self._store.stageList(None, False, False, empty, None))
                if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]

    def task_durations(self, stage_id: int, attempt: int) -> list[int]:
        tasks = self._json(self._store.taskList(stage_id, attempt, 1 << 30))
        return [t.get("duration") or 0 for t in tasks]

    def cached_rdds(self) -> tuple[int, int]:
        infos = self._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return self._jsc.sc().getPersistentRDDs().size(), size


def stage_summary(store: StatusStore, jobs: list[dict]) -> dict:
    """The stage table of ``jobs``, summed over their completed stages."""
    stages = store.stages({sid for j in jobs for sid in j["stageIds"]})
    out = {"count": len(stages), "tasks": 0, "run_ms": 0,
           "cpu_ms": 0.0, "wait_ms": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0,
           "output_records": 0, "output_bytes": 0, "max_task_share": None}
    for s in stages:
        out["tasks"] += s["numTasks"]
        out["run_ms"] += s["executorRunTime"]
        out["cpu_ms"] += s["executorCpuTime"] / 1e6
        if s.get("firstTaskLaunchedTime") and s.get("submissionTime"):
            out["wait_ms"] += max(0, s["firstTaskLaunchedTime"] - s["submissionTime"])
        out["input_bytes"] += s["inputBytes"]
        out["shuffle_read_bytes"] += s["shuffleReadBytes"]
        out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        out["failed_tasks"] += s["numFailedTasks"]
        out["output_records"] += s["outputRecords"]
        out["output_bytes"] += s["outputBytes"]
    timed = [s for s in stages if s.get("completionTime") and s.get("submissionTime")]
    if timed:
        longest = max(timed, key=lambda s: s["completionTime"] - s["submissionTime"])
        wall = longest["completionTime"] - longest["submissionTime"]
        durations = store.task_durations(longest["stageId"], longest["attemptId"])
        if wall > 0 and durations:
            out["max_task_share"] = max(durations) / wall
    return out


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi] (same unit)."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time in ms: span duration minus its child spans."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        layer = s["name"].split(".")[0]
        own = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out


STAGE_FIELDS = [  # field of stage_summary, unit
    ("count", "count"), ("tasks", "count"), ("run_ms", "ms"), ("cpu_ms", "ms"),
    ("wait_ms", "ms"), ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("failed_tasks", "count"), ("max_task_share", "ratio"),
]
LAYERS = ("session", "tables", "dialect", "queries", "operators", "streaming", "pipelines")

PER_LAYER = [  # name, unit, better
    ("session.get_spark.ms", "ms", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("session.old_gen_peak_mb", "MB", "lower"),
    ("tables.load_tables.calls", "count", "lower"),
    ("tables.load_tables.ms", "ms", "lower"),
    ("dialect.translate.calls", "count", "lower"),
    ("dialect.translate.ms", "ms", "lower"),
    ("dialect.clickhouse_sql.calls", "count", "lower"),
    ("dialect.plan_cache_hit_ratio", "ratio", "higher"),
    ("queries.build.ms", "ms", "lower"),
    ("queries.build.jobs", "count", "lower"),
    ("queries.driver.ms", "ms", "lower"),
    *[(f"queries.stage.{f}", u, "lower") for f, u in STAGE_FIELDS],
    ("operators.connected_components.calls", "count", "lower"),
    ("operators.connected_components.ms", "ms", "lower"),
    ("operators.persisted_rdds", "count", "lower"),
    ("operators.cached_bytes_peak", "bytes", "lower"),
    ("sources.get_batch.ms", "ms", "lower"),
    ("streaming.process_batch.calls", "count", "lower"),
    ("streaming.process_batch.ms", "ms", "lower"),
    ("streaming.buckets_touched_ratio", "ratio", "lower"),
    ("streaming.rows_rewritten_per_event", "rows/event", "lower"),
    ("streaming.bytes_written_per_event", "bytes/event", "lower"),
    ("streaming.dedup_state_rows", "rows", "lower"),
    ("streaming.query_planning.ms", "ms", "lower"),
    ("streaming.wal_commit.ms", "ms", "lower"),
    *[(f"streaming.stage.{f}", u, "lower") for f, u in STAGE_FIELDS],
    ("streaming.state_files", "count", "lower"),
    ("streaming.state_bytes_per_live_row", "bytes/row", "lower"),
    ("streaming.current_state.ms", "ms", "lower"),
    ("pipelines.users_cdc_pipeline.ms", "ms", "lower"),
    *[(f"{layer}.self_ms", "ms", "lower") for layer in LAYERS],
]


class _Phase:
    """One tagged, spanned phase of a query execution (build or force)."""

    def __init__(self, probe: "Probe", qid: str, phase: str) -> None:
        self.probe, self.group, self.phase = probe, f"{qid}/{phase}", phase

    def __enter__(self):
        self.probe.sc.setJobGroup(self.group, self.group)
        self.span = self.probe.tracer.span(f"queries.{self.phase}")
        self.rec = self.span.__enter__()
        return self

    def __exit__(self, *exc):
        self.span.__exit__(*exc)
        self.probe.sc._jsc.clearJobGroup()
        self.probe.last[self.phase] = self.rec
        return False


class Probe:
    """Traced-run bookkeeping: job groups, stage tables, layer metrics."""

    def __init__(self, tracer: Tracer, spark, batches: list[dict]) -> None:
        self.tracer, self.sc = tracer, spark.sparkContext
        self.store = StatusStore(spark)
        self.batches = batches
        self.executions: list[dict] = []
        self.progress: list[dict] = []
        self.batch_stages: list[dict] = []
        self.last: dict = {}
        self._seen_batches = 0

    def root(self, rid: str) -> None:
        self.tracer.root = rid

    def phase(self, qid: str, phase: str) -> _Phase:
        self.tracer.root = qid
        return _Phase(self, qid, phase)

    def query_done(self, qid: str) -> None:
        """Read the execution's jobs and stages (after its clock stopped)."""
        groups = {f"{qid}/build", f"{qid}/force"}
        jobs = self.store.jobs(groups)
        force = self.last["force"]
        spans = [(j["submissionTime"], j["completionTime"]) for j in jobs
                 if j["jobGroup"] == f"{qid}/force" and j.get("completionTime")]
        lo, hi = force["start"] * 1e3, force["end"] * 1e3
        n_rdds, cached = self.store.cached_rdds()
        self.executions.append({
            "qid": qid,
            "build_jobs": sum(1 for j in jobs if j["jobGroup"] == f"{qid}/build"),
            "driver_ms": (hi - lo) - union_ms(spans, lo, hi),
            "stage": stage_summary(self.store, jobs),
            "persisted_rdds": n_rdds, "cached_bytes": cached,
        })

    def skip_batches(self) -> None:
        """Leave the micro-batches run so far (the snapshot load) out."""
        self._seen_batches = len(self.batches)

    def ingest_half(self, progress: list) -> None:
        self.progress += [json.loads(p.json) for p in progress]
        for b in self.batches[self._seen_batches:]:
            self.batch_stages.append(stage_summary(self.store, self.store.jobs({b["group"]})))
        self._seen_batches = len(self.batches)

    def layer_metrics(self, samples, log, peak_rss_mb: float, old_gen_mb: float) -> dict:
        from python_cdc_postgres_to_clickhouse_spark.operators.upsert import replay_oracle

        from workloads import SNAPSHOT

        spans = [s for s in self.tracer.spans
                 if s["end"] is not None and s["root"] != SNAPSHOT]

        def named(n):
            return [s for s in spans if s["name"] == n]

        def ms(n):
            return sum((s["end"] - s["start"]) * 1e3 for s in named(n))

        selft = self_times(spans)
        m: dict[str, float] = {
            "session.get_spark.ms": ms("session.get_spark"),
            "session.peak_rss_mb": peak_rss_mb,
            "session.old_gen_peak_mb": old_gen_mb,
            "tables.load_tables.calls": len(named("tables.load_tables")),
            "tables.load_tables.ms": ms("tables.load_tables"),
            "dialect.translate.calls": len(named("dialect.translate")),
            "dialect.translate.ms": ms("dialect.translate"),
            "dialect.clickhouse_sql.calls": len(named("dialect.clickhouse_sql")),
        }
        ch = named("dialect.clickhouse_sql")
        translated = {s["parent"] for s in named("dialect.translate")}
        m["dialect.plan_cache_hit_ratio"] = (
            sum(1 for s in ch if s["id"] not in translated) / len(ch) if ch else 0.0)
        ex = self.executions
        m["queries.build.ms"] = ms("queries.build")
        m["queries.build.jobs"] = sum(e["build_jobs"] for e in ex)
        m["queries.driver.ms"] = sum(e["driver_ms"] for e in ex)
        m.update(_stage_metrics("queries.stage", [e["stage"] for e in ex]))
        m["operators.connected_components.calls"] = len(named("operators.connected_components"))
        m["operators.connected_components.ms"] = ms("operators.connected_components")
        m["operators.persisted_rdds"] = max((e["persisted_rdds"] for e in ex), default=0)
        m["operators.cached_bytes_peak"] = max((e["cached_bytes"] for e in ex), default=0)

        dur = [p["durationMs"] for p in self.progress]
        events = sum(p["numInputRows"] for p in self.progress)
        m["sources.get_batch.ms"] = sum(d.get("getBatch", 0) + d.get("latestOffset", 0)
                                        for d in dur)
        pb = named("streaming.process_batch")
        m["streaming.process_batch.calls"] = len(pb)
        m["streaming.process_batch.ms"] = sum(
            (s["end"] - s["start"]) * 1e3
            - sum((c["end"] - c["start"]) * 1e3 for c in spans if c["parent"] == s["id"])
            for s in pb)
        # Over batches that wrote: no-data batches (watermark upkeep) touch none.
        wrote = [b["buckets_touched"] / b["n_buckets"] for b in self.batches if b["buckets_touched"]]
        m["streaming.buckets_touched_ratio"] = statistics.mean(wrote) if wrote else 0.0
        written = sum(b["output_records"] for b in self.batch_stages)
        m["streaming.rows_rewritten_per_event"] = written / events if events else 0.0
        m["streaming.bytes_written_per_event"] = (
            sum(b["output_bytes"] for b in self.batch_stages) / events if events else 0.0)
        ops = self.progress[-1].get("stateOperators") if self.progress else None
        m["streaming.dedup_state_rows"] = ops[0]["numRowsTotal"] if ops else 0
        m["streaming.query_planning.ms"] = sum(d.get("queryPlanning", 0) for d in dur)
        m["streaming.wal_commit.ms"] = sum(d.get("walCommit", 0) for d in dur)
        m.update(_stage_metrics("streaming.stage", self.batch_stages))
        files = [os.path.join(r, f) for r, _, fs in os.walk(log.state)
                 for f in fs if f.endswith(".parquet")]
        live = len(replay_oracle(log.events)) if files else 0
        m["streaming.state_files"] = len(files)
        m["streaming.state_bytes_per_live_row"] = (
            sum(os.path.getsize(f) for f in files) / live if live else 0.0)
        reads = samples.read_cold + [x for reps in samples.read_warm for x in reps]
        m["streaming.current_state.ms"] = sum(reads) * 1e3
        m["pipelines.users_cdc_pipeline.ms"] = ms("pipelines.users_cdc_pipeline")
        for layer in LAYERS:
            m[f"{layer}.self_ms"] = selft.get(layer, 0.0)
        return {n: {"value": float(m[n]), "unit": u} for n, u, _ in PER_LAYER}


def _stage_metrics(prefix: str, tables: list[dict]) -> dict:
    out = {f"{prefix}.{f}": float(sum(t[f] for t in tables))
           for f, _ in STAGE_FIELDS if f != "max_task_share"}
    shares = [t["max_task_share"] for t in tables if t["max_task_share"] is not None]
    out[f"{prefix}.max_task_share"] = statistics.median(shares) if shares else 0.0
    return out
