"""Deterministic inputs for the benchmark.

``write_tables`` builds the ten analytic tables the query registry reads
(TPC-H-like star schema, ``events``, ``documents``, ``embeddings``) with the
columns and value domains listed in FIXTURES.md. Timestamps
(``o_orderdate``, ``l_shipdate``, ``events.ts``) are timezone-free
microseconds, as in the generated fixtures the engine's tests read
today; FIXTURES.md still lists their older ms/ns layout.
``tables.load_table`` reads ``events.ts`` from either through a different
cast, so the benchmark takes the path the current fixtures take. Each table
is one Parquet file with one row group, the layout the engine's
scan-widening rules are written for. The tables use a fixed seed: the
workload seed changes only the change log, so the tables' oracle answers
are computed once per checkout.

``write_changelog`` turns a seeded ``generate_changelog`` backlog into equal
file batches with the envelope schema that ``filestream.read_change_stream``
reads. It writes with pyarrow rather than ``write_stream_fixture``, which
builds each file through ``spark.createDataFrame`` over Python dicts and
takes about 25 s for 66k events; the files hold the same rows in the same
delivery order.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts per scale, as in FIXTURES.md.
SCALES = {
    "sf0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                  lineitem=600_000, events=100_000, users=1_500,
                  documents=5_000, embeddings=2_000),
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1_500,
                    lineitem=6_000, events=1_000, users=150,
                    documents=500, embeddings=500),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _days(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sizes: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": rng.choice(names, n["part"]),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PTYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    gaps = rng.exponential(1.0, e)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 60) * 1e6
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + offs.astype(np.int64).astype("timedelta64[us]")),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i >= 20 and rng.random() < 0.05:
            # Near-duplicate: an earlier document plus a trailing marker word.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, d, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, v)
    vecs = rng.normal(size=(v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = 0.07 * centroids[labels] + vecs
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(root: str, scale: str) -> str:
    """Write the tables for ``scale`` under ``root`` once; return their dir."""
    out = os.path.join(root, scale)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(SCALES[scale]).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")
    os.replace(tmp, out)
    return out


_ROW = pa.struct([("id", pa.int32()), ("username", pa.string()),
                  ("email", pa.string()), ("created_at_us", pa.int64())])
# ``sources.cdc.ENVELOPE_SCHEMA`` in Arrow types.
_ENVELOPE = pa.schema([
    ("before", _ROW), ("after", _ROW), ("op", pa.string()),
    ("ts_ms", pa.int64()), ("source_lsn", pa.int64()),
    ("source_table", pa.string()), ("kafka_partition", pa.int32()),
    ("kafka_offset", pa.int64()),
])


def write_changelog(events: list[dict], directory: str, n_files: int,
                    first_file: int = 0) -> None:
    """Write ``events`` (delivery order) as ``n_files`` equal parquet batches.

    File names continue from ``first_file`` so a later half sorts after the
    files a stream has already consumed.
    """
    os.makedirs(directory, exist_ok=True)
    chunk = -(-len(events) // n_files)
    for k, i in enumerate(range(0, len(events), chunk)):
        path = os.path.join(directory, f"batch_{first_file + k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(events[i:i + chunk], schema=_ENVELOPE), path)
