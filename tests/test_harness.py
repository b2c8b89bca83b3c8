"""Self-tests for the oracle harness — the harness must be at least as
strict as the driver's type-sensitive hash, or local green lies.

Round-2 lesson: canon via pandas ``iterrows()`` upcast all-numeric rows to
float64, so a Spark-BIGINT vs DuckDB-DOUBLE column (bit-identical values)
passed locally while the driver hashed `123457` != `123457.0` and failed
``c_math_funcs`` two rounds running.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from .oracle_harness import assert_dtype_parity, canon_rows


def test_int_vs_float_column_is_caught():
    sdf = pd.DataFrame({"k": [1, 2], "v": np.array([10, 20], dtype=np.int64)})
    odf = pd.DataFrame({"k": [1, 2], "v": np.array([10.0, 20.0], dtype=np.float64)})
    with pytest.raises(AssertionError, match="type-class mismatch"):
        assert_dtype_parity(sdf, odf, "fixture")


def test_canon_preserves_int_repr_in_mixed_numeric_frame():
    # The iterrows() bug: an all-numeric (int, float) row became a float64
    # Series, canonizing the int as '10.0'. Column-wise canon keeps '10'.
    df = pd.DataFrame(
        {"i": np.array([10], dtype=np.int64), "f": np.array([1.5], dtype=np.float64)}
    )
    assert canon_rows(df) == ["1.5|10"]


def test_int_width_is_immaterial():
    sdf = pd.DataFrame({"v": np.array([7], dtype=np.int64)})
    odf = pd.DataFrame({"v": np.array([7], dtype=np.int32)})
    assert_dtype_parity(sdf, odf, "fixture")
    assert canon_rows(sdf) == canon_rows(odf)


def test_object_decimal_counts_as_float():
    from decimal import Decimal

    sdf = pd.DataFrame({"v": np.array([1.25], dtype=np.float64)})
    odf = pd.DataFrame({"v": [Decimal("1.25")]})  # object dtype
    assert_dtype_parity(sdf, odf, "fixture")
    assert canon_rows(sdf) == canon_rows(odf)


def test_all_null_column_is_wildcard():
    sdf = pd.DataFrame({"v": pd.array([None, None], dtype=object)})
    odf = pd.DataFrame({"v": np.array([np.nan, np.nan], dtype=np.float64)})
    assert_dtype_parity(sdf, odf, "fixture")


def test_nullable_int_upcast_matches_on_both_sides():
    # Nulls in an int column upcast to float64 in pandas on BOTH engines'
    # conversion paths — that agreement must not be flagged.
    sdf = pd.DataFrame({"v": np.array([1.0, np.nan], dtype=np.float64)})
    odf = pd.DataFrame({"v": np.array([1.0, np.nan], dtype=np.float64)})
    assert_dtype_parity(sdf, odf, "fixture")


# ---------------------------------------------------------------------------
# Driver-window bookkeeping: the union of per-round driver rows plus the
# current 50-query priority window must cover the whole registry, or some
# query silently never gets a driver CORRECTNESS row (the round-2 advice
# found exactly this off-by-one in a hand-counted comment).
# ---------------------------------------------------------------------------


def test_driver_priority_window_shape():
    from python_cdc_postgres_to_clickhouse_spark.registry import (
        DRIVER_PRIORITY,
        all_queries,
    )

    # The driver consumes the FIRST 50 names; positions 51-59 are the
    # round-6 queue (41 deferred r3 queries + 9 fills that window exactly)
    # and positions 60+ the explicit round-7 overflow (see the registry
    # comment). Each future window must stay feasible: the overflow may
    # not exceed one more 50-slot window.
    assert len(DRIVER_PRIORITY) >= 50, len(DRIVER_PRIORITY)
    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY), (
        "duplicate names in DRIVER_PRIORITY"
    )
    assert len(DRIVER_PRIORITY) - 50 <= 9 + 50, (
        "round-6 queue + round-7 overflow exceed two driver windows"
    )
    assert set(DRIVER_PRIORITY) <= set(all_queries())


def test_every_query_has_or_will_have_a_driver_row():
    """(∪ CORRECTNESS_r*.json keys) ∪ DRIVER_PRIORITY ⊇ registry — i.e. every
    registered query either already has a driver row from a past round or is
    inside the window the driver will check next."""
    import glob
    import json
    from pathlib import Path

    from python_cdc_postgres_to_clickhouse_spark.registry import (
        DRIVER_PRIORITY,
        all_queries,
    )

    repo = Path(__file__).resolve().parent.parent
    covered: set[str] = set(DRIVER_PRIORITY)
    for p in glob.glob(str(repo / "CORRECTNESS_r*.json")):
        covered |= set(json.load(open(p)))
    missing = sorted(set(all_queries()) - covered)
    assert not missing, f"queries with no past or upcoming driver row: {missing}"


def test_load_tables_repoints_views_across_sf_dirs(spark):
    """Temp views are session-global state: after loading a different
    sf_dir, the NEXT load of the original must re-point the views even on
    a DataFrame-cache hit — spark.sql() queries read views by name, and a
    stale registration silently serves the wrong scale (the bug behind
    nine order-dependent suite failures in round 4)."""
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

    from .conftest import SF_ORACLE, SF_SMOKE

    n_oracle = load_tables(spark, SF_ORACLE)["lineitem"].count()
    n_smoke = load_tables(spark, SF_SMOKE)["lineitem"].count()
    assert n_smoke < n_oracle
    assert spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"] == n_smoke
    load_tables(spark, SF_ORACLE)  # cache hit — must still re-register
    assert spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"] == n_oracle


def test_no_duplicate_dict_keys_in_package():
    """Duplicate keys in dict literals silently shadow earlier entries —
    round 10 found toRelativeDayNum's faithful rule shadowed by a stale
    duplicate this way. AST-audit every sizable dict literal in the
    package."""
    import ast
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "python_cdc_postgres_to_clickhouse_spark")
    dups = []
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        tree = ast.parse(open(f).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict) and len(node.keys) > 5:
                seen = set()
                for k in node.keys:
                    if isinstance(k, ast.Constant):
                        if k.value in seen:
                            dups.append((f, k.lineno, k.value))
                        seen.add(k.value)
    assert not dups, dups


def test_driver_window_tool_orders_unverified_changed_then_oldest(tmp_path):
    import importlib.util
    import json

    from .conftest import REPO_ROOT

    spec = importlib.util.spec_from_file_location(
        "driver_window", REPO_ROOT / "tools" / "driver_window.py"
    )
    dw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dw)
    ok, failed = {"hash_match": True, "err": None}, {"hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({"a": ok, "b": ok, "e": ok}))
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps(
        {"a": ok, "c": {"hash_match": None, "err": "no_oracle"}, "e": failed}))
    last = dw.last_verified(str(tmp_path))
    assert last == {"a": 2, "b": 1, "c": 2, "e": 1}
    assert dw.window("abcde", last, changed=["c"]) == [
        ("d", "never"), ("c", "changed"), ("b", "r1"), ("e", "r1"), ("a", "r2"),
    ]
