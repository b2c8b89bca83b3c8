"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 45 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. Inputs are made before any clock starts:
the change log from ``--seed``, the tables and their oracle answers once per
checkout from a fixed seed. A run does a fixed amount of work, of which
30-60 s is measured on four cores; ``--seconds`` is recorded but does not
change the work, so two versions of the engine are always compared on the
same samples. Everything a run writes stays under
``perfbench/.work``: those inputs, Spark's local and temp dirs, and one JSON
record per run. With ``--trace 0`` the last line carries the end-to-end
metrics, with ``--trace 1`` the per-layer ones; the lines above it give
every metric with its sample count and the run's environment.
``--smoke`` runs both workloads at sf0.001, traced and untraced, and checks
that every metric is reported.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import workloads as W


def _process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_p50_s", "s"), ("warm_p50_s", "s"),
    ("cold_total_s", "s"), ("warm_total_s", "s"), ("ingest_events_per_s", "events/s"),
    ("batch_p50_s", "s"), ("state_read_p50_s", "s"),
]


def _environment() -> None:
    """Pin Spark to this box and keep every file it writes in the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers (pandas UDFs) import the package too.
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            # -Xms: the heap starts at full size. Left to grow under GC
            # pressure, it grew at a different pace in each run, and the
            # runs were ~15% slower and less steady.
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}'",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _old_gen_peak_mb(spark) -> float:
    """Peak use of the driver JVM's old generation: what the heap retained.
    Unlike the JVM's resident size, this does not follow the fixed heap."""
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools if "Old Gen" in p.getName()) / 2**20


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(start: list[int]) -> float:
    """Share of CPU time taken by the hypervisor (steal) since ``start``."""
    delta = [b - a for a, b in zip(start, _cpu_times())]
    return round(delta[7] / max(1, sum(delta)), 4) if len(delta) > 7 else 0.0


def run(args) -> int:
    _environment()
    try:
        import python_cdc_postgres_to_clickhouse_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import datagen
    from parity import expected_answers
    from python_cdc_postgres_to_clickhouse_spark import registry, session, tables

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "scale": args.scale, "seconds": args.seconds, "cores": CORES,
              "driver_mem": DRIVER_MEM, "spark": pyspark.__version__,
              "python": platform.python_version(), "loadavg_start": _loadavg()}
    cpu_start = _cpu_times()

    # Load generation: outside setup_s and every timed section.
    t_prep = time.time()
    sf_dir = datagen.write_tables(os.path.join(WORK, "tables"), args.scale)
    specs = registry.all_queries()
    order = list(W.QUERY_MIX) if args.workload == "query_mix" else []
    expected = expected_answers(specs, order, sf_dir, os.path.join(WORK, "oracle"))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    log = W.ChangeLog(run_dir, *W.INGEST[(args.workload, args.scale)], seed=args.seed)
    log.write_snapshot()
    prep_s = time.time() - t_prep

    tracer = probe = None
    if args.trace:
        import layers as T

        tracer = T.Tracer()
        tracer.root = "setup"
        batches = T.install(tracer)
    spark = session.get_spark(cpus=CORES)
    try:
        tables.load_tables(spark, sf_dir)
        specs[W.WARMUP].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        setup_s = time.time() - PROCESS_START - prep_s
        if args.trace:
            probe = T.Probe(tracer, spark, batches)
        client = W.Client(spark, sf_dir, specs, probe)

        t_measure = time.perf_counter()
        client.query_pass(order, expected)
        client.ingest(log, reads_seed=args.seed)
        record["workload_s"] = time.perf_counter() - t_measure
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vmhwm_mb("self") + _vmhwm_mb(jvm_pid)
        old_gen_mb = _old_gen_peak_mb(spark)
        layer = probe.layer_metrics(client.samples, log, peak_rss_mb, old_gen_mb) if probe else {}
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        record["stop_s"] = time.perf_counter() - t_stop

    s = client.samples
    # A workload's read queries are its registry queries, or, in a workload
    # that runs none, the state reads after each ingest half.
    cold = s.query_cold or s.read_cold
    warm = s.query_warm or s.read_warm
    warm_runs = [x for reps in warm for x in reps]
    reads = s.read_cold + [x for reps in s.read_warm for x in reps]
    values = {
        "setup_s": (setup_s, 1),
        "cold_p50_s": (_median(cold), len(cold)),
        "warm_p50_s": (_median(warm_runs), len(warm_runs)),
        "cold_total_s": (sum(cold), len(cold)),
        "warm_total_s": (sum(statistics.mean(r) for r in warm if r), len(warm)),
        "ingest_events_per_s": (s.events / sum(s.ingest_s) if s.ingest_s else 0.0, len(s.ingest_s)),
        "batch_p50_s": (_median(s.batches), len(s.batches)),
        "state_read_p50_s": (_median(reads), len(reads)),
    }
    e2e = {n: {"value": values[n][0], "unit": u, "samples": values[n][1]} for n, u in END_TO_END}
    record.update(loadavg_end=_loadavg(), cpu_steal=_steal_share(cpu_start), prep_s=prep_s,
                  peak_rss_mb=peak_rss_mb, old_gen_peak_mb=old_gen_mb, end_to_end=e2e, per_layer=layer,
                  attempted=s.attempted, failures=s.failures, samples=dataclasses.asdict(s))
    if tracer is not None:
        record["spans"] = tracer.spans
        record["tracing_overhead"] = _overhead(args, e2e)
    _save(record, args)

    _print_detail(record)
    shown = e2e if not args.trace else layer
    result = {"correct": not s.failures, "attempted": s.attempted, "failed": len(s.failures),
              "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in shown.items()}}
    print(json.dumps(result), flush=True)
    return 0 if not s.failures else 1


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop(spark) -> None:
    """Stop Spark, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _record_path(workload: str, scale: str, seed: "int | str", trace: int) -> str:
    return os.path.join(WORK, "records", f"{workload}-{scale}-seed{seed}-trace{trace}.json")


def _save(record: dict, args) -> None:
    path = _record_path(args.workload, args.scale, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)


def _overhead(args, traced: dict) -> dict:
    """Traced minus untraced end-to-end values, against the untraced run of
    the same seed or else the latest untraced run of the workload."""
    same = _record_path(args.workload, args.scale, args.seed, 0)
    others = sorted(glob.glob(_record_path(args.workload, args.scale, "*", 0)), key=os.path.getmtime)
    path = same if os.path.exists(same) else (others[-1] if others else None)
    if path is None:
        return {}
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {"against": os.path.basename(path),
            **{n: traced[n]["value"] - base[n]["value"] for n in traced if n in base}}


def _print_detail(record: dict) -> None:
    keys = ("workload", "seed", "trace", "scale", "cores", "driver_mem", "spark",
            "python", "loadavg_start", "loadavg_end", "cpu_steal")
    print("perfbench " + " ".join(f"{k}={record[k]}" for k in keys))
    for n, m in record["end_to_end"].items():
        print(f"  {n:28s} {m['value']:14.4f} {m['unit']:9s} n={m['samples']}")
    for n, m in record["per_layer"].items():
        print(f"  {n:40s} {m['value']:16.3f} {m['unit']}")
    if record.get("tracing_overhead"):
        print("  tracing overhead (traced - untraced): " + json.dumps(record["tracing_overhead"]))
    for f in record["failures"]:
        print(f"  FAILED {f}")


def smoke() -> int:
    """Both workloads at sf0.001, untraced then traced; every metric present."""
    from layers import PER_LAYER

    problems = []
    for workload in W.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = out.stdout.strip().splitlines()
            tag = f"{workload} trace={trace}"
            if out.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {out.returncode}: {out.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            want = dict(END_TO_END) if trace == 0 else {n: u for n, u, _ in PER_LAYER}
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
            with open(_record_path(workload, "sf0.001", 1, trace)) as f:
                rec = json.load(f)
            unsampled = [n for n, m in rec["end_to_end"].items() if not m["samples"]]
            if unsampled:
                problems.append(f"{tag}: no samples for {unsampled}")
            if trace and not rec.get("tracing_overhead"):
                problems.append(f"{tag}: no tracing overhead")
            if not result["correct"]:
                problems.append(f"{tag}: incorrect: {rec['failures']}")
            print(f"smoke {tag}: {len(got)} metrics, attempted={result['attempted']}", flush=True)
    for p in problems:
        print("SMOKE FAILED " + p, file=sys.stderr)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=45)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("sf0.1", "sf0.001"), default="sf0.1")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
