"""Dictionaries and SAMPLE BY keys belong to the session that declares them.

A session declares into its own ``dialect.Ddl`` (``register_dictionary`` /
``register_sample_key``); its ``clickhouse_sql`` calls translate under it,
and the analyzed-plan cache is keyed on the text that translation gives.
Everything here runs in this process on sessions of the shared context, at
the smoke scale.
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from python_cdc_postgres_to_clickhouse_spark.dialect import (
    DialectError,
    clickhouse_sql,
    register_dictionary,
)
from python_cdc_postgres_to_clickhouse_spark.queries.chsql import (
    CH_DICT_LOOKUP,
    sql_ch_dict_lookup,
    sql_ch_events_rollup,
)
from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
from python_cdc_postgres_to_clickhouse_spark.session import state
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_SMOKE


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _nation_view(s, view: str, nation: str) -> None:
    """``sql_ch_dict_lookup``'s dictionary rows, with ``nation`` as the
    looked-up attribute."""
    t = load_tables(s, SF_SMOKE)
    (
        t["customer"].where("c_acctbal > 0")
        .join(t["nation"], t["customer"].c_nationkey == t["nation"].n_nationkey)
        .selectExpr("c_custkey", f"{nation} AS nation")
        .createOrReplaceTempView(view)
    )


def test_a_new_session_does_not_see_another_sessions_dictionary(spark):
    sql_ch_dict_lookup(spark.newSession(), SF_SMOKE).collect()
    with pytest.raises(DialectError, match="'cust_nation' is not registered"):
        clickhouse_sql(spark.newSession(), CH_DICT_LOOKUP, SF_SMOKE)


def test_plan_cache_follows_the_sessions_dictionaries(spark):
    s = spark.newSession()
    first = sql_ch_dict_lookup(s, SF_SMOKE)
    # the query re-registers an identical spec on every call: same plan
    assert sql_ch_dict_lookup(s, SF_SMOKE) is first
    nations = {r[0] for r in _rows(first)}
    assert nations - {"UNKNOWN"}, nations

    _nation_view(s, "dim_zz", "'ZZ'")
    register_dictionary(s, "cust_nation", "dim_zz", "c_custkey")
    zz = clickhouse_sql(s, CH_DICT_LOOKUP, SF_SMOKE)
    assert zz is not first
    assert {r[0] for r in _rows(zz)} == {"ZZ"} | (nations & {"UNKNOWN"})
    assert sum(r[1] for r in _rows(zz)) == sum(r[1] for r in _rows(first))

    # declaring the first view again serves the first plan again
    assert sql_ch_dict_lookup(s, SF_SMOKE) is first


def test_a_declaration_the_query_does_not_read_keeps_its_plan(spark):
    s = spark.newSession()
    rollup = sql_ch_events_rollup(s, SF_SMOKE)
    assert sql_ch_events_rollup(s, SF_SMOKE) is rollup
    sql_ch_dict_lookup(s, SF_SMOKE)  # declares cust_nation in the session
    assert sql_ch_events_rollup(s, SF_SMOKE) is rollup
    plans = [k for k in state(s) if isinstance(k, tuple) and k[0] == "plan"]
    assert len(plans) == 2, plans


def test_dictget_inside_an_any_join_subquery_reads_the_session_dictionary(spark):
    s = spark.newSession()
    _nation_view(s, "dim_zz", "'ZZ'")
    register_dictionary(s, "cust_nation", "dim_zz", "c_custkey")
    rows = _rows(clickhouse_sql(s, """
        SELECT c.nation AS nation, count() AS n
        FROM orders AS o
        ANY LEFT JOIN (
            SELECT c_custkey AS o_custkey,
                   dictGetOrDefault('cust_nation', 'nation', c_custkey, 'UNKNOWN') AS nation
            FROM customer
        ) AS c USING (o_custkey)
        GROUP BY nation
    """, SF_SMOKE))
    assert "ZZ" in {r[0] for r in rows}
    assert {r[0] for r in rows} <= {"ZZ", "UNKNOWN", None}, rows
    assert sum(r[1] for r in rows) == load_tables(s, SF_SMOKE)["orders"].count()


def test_one_session_runs_a_widened_and_a_narrow_query_on_two_threads(spark):
    specs = all_queries()
    names = ("sql_ch_token_report", "sql_ch_ngram_profile")
    alone = {n: _rows(specs[n].fn(spark.newSession(), SF_SMOKE)) for n in names}
    s = spark.newSession()
    start = threading.Barrier(len(names))

    def run(name: str) -> list[tuple]:
        start.wait(timeout=60)
        return _rows(specs[name].fn(s, SF_SMOKE))

    with ThreadPoolExecutor(len(names)) as pool:
        together = dict(zip(names, pool.map(run, names)))
    assert together == alone


def test_two_sessions_on_two_threads_read_their_own_dictionaries(spark):
    alone = _rows(sql_ch_dict_lookup(spark.newSession(), SF_SMOKE))
    start = threading.Barrier(2)

    def run(view: str, nation: str) -> list[tuple]:
        s = spark.newSession()
        _nation_view(s, view, nation)
        register_dictionary(s, "cust_nation", view, "c_custkey")
        start.wait(timeout=60)
        return _rows(clickhouse_sql(s, CH_DICT_LOOKUP, SF_SMOKE))

    with ThreadPoolExecutor(2) as pool:
        real = pool.submit(run, "dim_real", "n_name")
        zz = pool.submit(run, "dim_zz", "'ZZ'")
        real, zz = real.result(timeout=300), zz.result(timeout=300)
    assert real == alone
    assert {r[0] for r in zz} <= {"ZZ", "UNKNOWN"} and "ZZ" in {r[0] for r in zz}


def test_concurrent_declarations_in_one_session_are_all_kept(spark):
    s = spark.newSession()
    names = [[f"d{t}_{i}" for i in range(50)] for t in range(8)]

    def declare(batch: list[str]) -> None:
        for name in batch:
            register_dictionary(s, name, "v", "k")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(names)) as pool:
            for f in [pool.submit(declare, batch) for batch in names]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    declared = [d.name for d in state(s)["ddl"].dictionaries]
    assert declared == sorted(n for batch in names for n in batch)
