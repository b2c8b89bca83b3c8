"""Connected-components clustering vs union-find ground truth; salted agg
parity; custom stateful streaming operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators import dedup as D
from python_cdc_postgres_to_clickhouse_spark.operators.clusters import (
    connected_components,
    dedup_keep_representatives,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    edges = [(r["a"], r["b"]) for r in pairs.collect()]
    assert edges, "fixture should contain near-dup pairs"
    expected = _union_find(edges)
    got = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_chain(spark, monkeypatch):
    """A path graph is the worst case for label propagation — still
    converges and labels everything with the min id. Zero the union-find
    gate so the iterative path (with the single-partition collapse) stays
    covered."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    n = 30
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r["vertex"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_wide_path(spark, monkeypatch):
    """The fully-distributed branch (no union-find, no single-partition
    collapse) must produce identical components — force it by zeroing both
    cutoffs."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    n = 30
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r["vertex"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_driver_and_distributed_paths_agree_on_fixture(spark, monkeypatch):
    """Ladder rungs are interchangeable: the real fixture's Jaccard pair
    graph must get the SAME labeling from driver union-find (default gate)
    and the iterative propagation loop (gate zeroed)."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    via_driver = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    via_loop = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert via_driver == via_loop and via_driver


def test_dedup_keep_representatives(spark):
    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    kept = dedup_keep_representatives(docs, pairs)
    n_docs, n_kept = docs.count(), kept.count()
    comp = _union_find([(r["a"], r["b"]) for r in pairs.collect()])
    n_clustered, n_clusters = len(comp), len(set(comp.values()))
    assert n_kept == n_docs - (n_clustered - n_clusters)
    # Every cluster's min id survives.
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for rep in set(comp.values()):
        assert rep in kept_ids


@pytest.mark.heavy
def test_stateful_running_user_stats(spark, tmp_path):
    """applyInPandasWithState: per-user running stats over a stream equal
    the batch aggregate at stream end."""
    from python_cdc_postgres_to_clickhouse_spark.streaming.stateful import running_user_stats

    t = load_tables(spark, SF_ORACLE)
    events = t["events"].filter(F.col("user_id") < 20).select("user_id", "ts", "value")
    src = str(tmp_path / "ev")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Update mode emits one row per key per batch; the LAST emission per key
    # is the running total at stream end.
    out = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) AS rn
          FROM user_stats) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in out}
    exp = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == exp


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize(
    "vtype,edges",
    [
        ("int", []),
        ("bigint", []),
        ("int", [(1, 2), (2, 3), (10, 11), (3, 1)]),
        ("bigint", [(1, 2), (2, 3), (10, 11), (3, 1)]),
        ("bigint", [(5, 2**40), (2**40, 2**40 + 1)]),
    ],
)
def test_union_find_labels_keep_vertex_type(spark, arrow, vtype, edges):
    """The driver union-find path returns its labels through pandas: with
    Arrow on and off, for int and bigint vertices and an empty edge list,
    the result keeps the vertex type and equals the union-find labels."""
    values = ", ".join(f"({a}, {b})" for a, b in edges) or "(0, 0)"
    pairs = spark.sql(
        f"SELECT CAST(a AS {vtype}) AS a, CAST(b AS {vtype}) AS b "
        f"FROM VALUES {values} AS t(a, b)" + ("" if edges else " WHERE false")
    )
    # Fallback off: an Arrow conversion failure must fail here, not
    # silently take the list path.
    confs = {
        "spark.sql.execution.arrow.pyspark.enabled": arrow,
        "spark.sql.execution.arrow.pyspark.fallback.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        out = connected_components(pairs)
        rows = out.collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [vtype, vtype]
    assert {r["vertex"]: r["component"] for r in rows} == _union_find(edges)
    assert len(rows) == len(_union_find(edges))
