"""Table catalog: load the driver-generated Parquet tables for a scale factor.

Parquet is the engine's MergeTree-equivalent (SURVEY.md §2.1 S13/S14): the
reference provisions ClickHouse as the columnar destination; here partitioned
Parquet read through Spark's vectorized reader plays that role. Scans get
predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import state, tune_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at *any* scale factor — region
# and nation are fixed-size (5 / 25 rows) even at 100 TB; supplier/part/
# customer grow with sf, so those are broadcast only when AQE observes them
# under the threshold, not by unconditional hint.
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Input-skew fix for compute-bound text consumers (optimization round 13,
# guide §2.5 "input skew" / §6): every fixture parquet file is ONE row
# group, and Spark can never split a row group across tasks — so every
# scan stage (and every narrow pipeline fused above it: interpreted
# higher-order lambdas, regex, character n-gram folds) ran on ONE core of
# local[32]. The catalog therefore exposes a byte-gated WIDE VARIANT of
# the text payload table and of the two dimension tables the dialect's
# fold batteries scan (``<t>_wide`` for each of WIDE_TABLES:
# ``widen_small_scan`` over the same frame, a catalog entry AND a view),
# that per-row-compute-bound queries opt into by name. Measured
# A/B at sf0.1 / local[32] (min-of-3 noop, bench-calibrated):
# sql_ch_token_report 2.43 → 0.76 s, x_linear_quality_score 0.69 → 0.20,
# x_gopher_gates 0.64 → 0.24, x_bpe_encode 1.71 → 0.84, x_token_diversity
# 0.57 → 0.27, x_chunk_documents 0.34 → 0.19 (machine-adjusted). It is an
# OPT-IN, not a blanket catalog rewrite, because the same bench pass
# showed the extra shuffle is a net LOSS wherever downstream work is
# shuffle/join-bound rather than per-row-bound (x_dedup_exact 0.20 → 0.63,
# x_tfidf_topterms 0.67 → 1.44, x_minhash_near_dup 0.75 → 1.48,
# x_doc_rarity 0.46 → 0.88 under the blanket variant); the relational
# facts (lineitem, orders, events) showed the same loss pattern
# (tpch_q9 1.4 → 2.0 s A/B) and embeddings is re-scanned on several plan
# branches by the ANN family, each branch re-paying the shuffle —
# single-pass embedding consumers widen locally instead (cosine_topk
# corpus side, semantic_dedup assignment pass). Scale-adaptive by
# construction: at cluster scale every table has ≥ parallelism splits
# and widen_small_scan is a no-op; below the byte floor the shuffle
# costs more scheduling than it buys (and sf0.01 — the driver's
# correctness scale — stays below it, so verified layouts are
# unchanged).
#
# Round 14 (verdict items 1 + 8): ONE widening device with a
# BYTES-SCALED partition target — ``clamp(input_bytes // split, 1,
# defaultParallelism)``, applied only above a byte floor — replacing the
# three r13 copies (catalog variant, dialect view swap, inline q1/j_star
# checks). Two profiles, constants defined once here:
#   WIDEN_COMPUTE — per-row fold/codec/GEMM passes. Measured fold cost is
#     ~0.5-2 ms of single-core CPU per KB of parquet at sf0.1, so one
#     task per 8 KB still yields ≥10 ms tasks (well above scheduling
#     cost); the 120 KB floor keeps the driver's sf0.01 correctness
#     scale on the verified narrow layouts.
#   WIDEN_SCAN — decimal-heavy single-fact scans (q1 / j_star: per-row
#     decimal money math + broadcast probes fused into the scan stage).
#     One task per 1 MB, floor 2 MB. The round-13 version targeted
#     defaultParallelism unconditionally; the r13 driver measured that as
#     a ×1.44 regression at 32 cores with inverted 8-vs-32 scaling (32
#     round-robin tasks over a 10 MB scan lose to fewer bigger tasks in
#     contended windows). A round-14 partition-count sweep at BOTH core
#     counts (calm window, min-of-3, interleaved): q1 at 32 cores
#     n1=1.16 / n10=0.85 / n32=0.89 s, at 8 cores n1=1.25 / n10=1.08 /
#     n32=1.04; j_star 32c n1=1.62 / n10=0.90 / n32=0.98, 8c n10=0.98 —
#     the bytes-scaled ~1 MB/task optimum beats both the narrow scan and
#     the 32-way widen, and restores the 8-vs-32 ratio to ≥1 (1.26 / 1.10
#     at n10). sf0.01 lineitem (1.04 MB) sits below the floor → the
#     driver's correctness-scale layouts are unchanged; at real scale the
#     table has thousands of splits and the device is a no-op.
WIDEN_COMPUTE = ("compute", 120_000, 8_192)
WIDEN_SCAN = ("decimal-agg-scan", 2_000_000, 1_000_000)
# The tables whose catalog entry has a WIDEN_COMPUTE ``<t>_wide`` variant.
WIDE_TABLES = ("documents", "customer", "part")


def _table_bytes(sf_dir: str, name: str) -> int:
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        # ts arrives as int64 nanos (nanosAsLong); truncate to µs exactly as
        # DuckDB does when narrowing TIMESTAMP_NS → its µs TIMESTAMP, so both
        # engines see identical values. Integer `div` avoids the double
        # round-trip that would lose precision on 1.7e18-magnitude nanos.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs-parquet with isAdjustedToUTC=false reads as TIMESTAMP_NTZ.
            # Batch queries don't care (the session is UTC-pinned, so NTZ and
            # LTZ agree on every wall-clock value), but event-time watermarks
            # reject NTZ — normalize to TimestampType at the source so the
            # same catalog serves batch and streaming identically.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views (idempotent).

    Called at the head of every declared query, so the driver's session
    gets the UTC pin no matter how it was built. DataFrames are cached per
    sf_dir in the session's state (``session.state``) — they are immutable
    plans, so reuse is safe and avoids re-listing parquet footers on every
    query invocation. Every entry, the ``<t>_wide`` variants included, is
    also a view. Views are session-global, so a cache hit still re-points
    them whenever a different sf_dir was loaded in between — otherwise any
    spark.sql()-based query silently reads the previous scale's tables
    (caught by the test suite: nine SQL-string queries went red whenever a
    smoke-scale test ran between two oracle-scale ones).
    """
    tune_session(spark)
    st = state(spark)
    dfs = st.get(("catalog", sf_dir))
    if dfs is None:
        dfs = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
        # Byte-gated wide variants for per-row-compute-bound consumers
        # (see the WIDEN_COMPUTE note above); below the floor each is the
        # narrow frame itself.
        for name in WIDE_TABLES:
            dfs[f"{name}_wide"] = widen_small_scan(
                dfs[name], input_bytes=_table_bytes(sf_dir, name)
            )
        st[("catalog", sf_dir)] = dfs
    elif st.get("views") == sf_dir:
        return dfs
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    st["views"] = sf_dir
    return dfs


def widen_small_scan(
    df: DataFrame,
    min_parallelism: int | None = None,
    input_bytes: int | None = None,
    profile: tuple[str, int, int] = WIDEN_COMPUTE,
) -> DataFrame:
    """Repartition a scan whose input-split count is below the target —
    and ONLY then (at cluster scale a table has thousands of row-group
    splits and this is a no-op; a blanket repartition there would be a
    pointless full shuffle of raw text).

    Why it exists: interpreted higher-order expressions (transform /
    aggregate lambdas — shingle construction, per-bit vote folds) are
    CPU-bound and do NOT parallelize past the scan's split count; a
    single-row-group Parquet file serializes the whole pipeline onto one
    core (measured 5.4× at sf0.1 on local[32]). Pay one small shuffle of
    the raw rows to use every core.

    With ``input_bytes`` the target is BYTES-SCALED per ``profile``
    (see WIDEN_COMPUTE / WIDEN_SCAN above): below the profile's byte
    floor nothing happens; above it the target is
    ``clamp(input_bytes // split, 1, defaultParallelism)`` — a small
    input never fans out to more tasks than its bytes justify (round-13
    driver evidence: 32 tasks over a 10 MB scan regressed q1 ×1.44).
    Without ``input_bytes`` (operator-internal call sites that see only a
    DataFrame) the target is the session parallelism, as in round 13.
    """
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if input_bytes is not None:
        _name, floor, split = profile
        if input_bytes < floor:
            return df
        target = min(target, max(int(input_bytes) // split, 1))
    if target >= 2 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
