"""Per-session engine state: what a session builds goes with the session,
and the widened dialect queries read their own views.

The catalog, the analyzed dialect plans and the trained index models live
in ``session.state(spark)``; nothing the engine caches may keep a stopped
session alive or hand its plans to the next one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO_ROOT, SF_ORACLE, SF_SMOKE

# The benchmark scale: its documents, customer and part files sit above the
# widening byte floor, the oracle scale's do not.
SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")

# Runs in its own interpreter, so stopping its session leaves the shared
# test fixture alone.
_LIFETIME = """
import gc, json, sys, weakref
from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
from python_cdc_postgres_to_clickhouse_spark.session import get_spark

sf, names = sys.argv[1], sys.argv[2:]
specs = all_queries()

def rows(spark):
    return {n: sorted(map(repr, specs[n].fn(spark, sf).collect())) for n in names}

spark = get_spark(cpus=2)
first = rows(spark)
ref = weakref.ref(spark)
spark.stop()
del spark
spark = get_spark(cpus=2)
gc.collect()
out = {"first_alive": ref() is not None, "same_rows": rows(spark) == first,
       "n_rows": {n: len(v) for n, v in first.items()}}
spark.stop()
print(json.dumps(out))
"""


def test_stopped_session_is_freed_and_a_new_one_rebuilds_its_state():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO_ROOT), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LIFETIME, SF_SMOKE,
         "sql_ch_events_rollup", "x_sketch_cms_freq"],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(out["n_rows"].values()), out
    assert not out["first_alive"], "the engine's caches pin the stopped session"
    assert out["same_rows"], out


def _round_robin_scans(plan, out: list, below: tuple | None = None) -> None:
    """(partition count, scanned file) for every file scan below a
    RoundRobinPartitioning exchange of a not yet executed plan."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _round_robin_scans(plan.executedPlan(), out, below)
    if kind == "ShuffleExchangeExec":
        part = plan.outputPartitioning()
        if part.getClass().getSimpleName() == "RoundRobinPartitioning":
            below = (part.numPartitions(),)
    if kind == "FileSourceScanExec" and below is not None:
        paths = plan.relation().location().rootPaths()
        out += [(below[0], os.path.basename(paths.apply(i).toString()))
                for i in range(paths.size())]
    kids = plan.children()
    for i in range(kids.size()):
        _round_robin_scans(kids.apply(i), out, below)


def _widened(spark, name: str) -> list:
    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

    df = all_queries()[name].fn(spark, SF_BENCH)
    out: list = []
    _round_robin_scans(df._jdf.queryExecution().executedPlan(), out)
    return out


def test_wide_dialect_queries_read_widened_views_and_narrow_ones_do_not(spark):
    # Planning only. Each order runs in a fresh session (own views, own
    # state) on the shared context.
    for order in (("sql_ch_ngram_profile", "sql_ch_token_report"),
                  ("sql_ch_token_report", "sql_ch_ngram_profile")):
        s = spark.newSession()
        got = {name: _widened(s, name) for name in order}
        assert got["sql_ch_ngram_profile"] == [], got
        assert [f for _n, f in got["sql_ch_token_report"]] == ["documents.parquet"], got
    s = spark.newSession()
    for name, table in (("sql_ch_wave10_report", "customer.parquet"),
                        ("sql_ch_jaro_match", "part.parquet")):
        got = _widened(s, name)
        assert [f for _n, f in got] == [table], (name, got)
        assert all(n >= 2 for n, _f in got), (name, got)
