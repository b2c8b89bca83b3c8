"""Expected query answers from the DuckDB oracles, and the parity check.

The rules are those of ``tests/oracle_harness.assert_parity``: same column
names, same column type classes, same row count, same multiset of
canonicalized rows. Oracle answers depend only on the tables and the oracle
SQL, so they are computed once per checkout and kept as pickles keyed by
both. The registry's oracle-SQL cache is pointed at the benchmark's work
directory, so a run never writes to the repository's ``.oracle_cache/``.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pandas as pd


def _fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def expected_answers(specs: dict, names: list[str], sf_dir: str, cache_dir: str) -> dict:
    from python_cdc_postgres_to_clickhouse_spark import registry
    from tests.oracle_harness import run_oracle

    registry._CACHE_DIR = Path(cache_dir) / "oracle_sql"
    os.makedirs(cache_dir, exist_ok=True)
    data_fp = _fingerprint(sf_dir)
    out = {}
    for name in names:
        sql = specs[name].resolve_oracle(sf_dir)
        key = hashlib.sha256(f"{name}|{sql}|{data_fp}".encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            tmp = f"{path}.tmp{os.getpid()}"
            run_oracle(sql, sf_dir).to_pickle(tmp)
            os.replace(tmp, path)
        out[name] = pd.read_pickle(path)
    return out


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches the oracle frame, else the first difference."""
    from tests.oracle_harness import assert_dtype_parity, canon_rows

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        assert_dtype_parity(got, want, "query")
    except AssertionError as e:
        return str(e)
    bad = [(a, b) for a, b in zip(canon_rows(got), canon_rows(want)) if a != b]
    if bad:
        return f"{len(bad)}/{len(got)} rows differ; first: {bad[0][0]!r} vs oracle {bad[0][1]!r}"
    return None
