"""Incremental IVF-PQ index sink: chunked≡monolithic under a pinned model,
replay idempotence + watermark skip, deterministic bounded sample,
generation refresh, and crash recovery — the scd2_sink/parts_rollup test
standard applied to the ANN streaming leg."""

from __future__ import annotations

import pytest

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators.pq import (
    ivfpq_encode_math,
    ivfpq_topk,
    train_ivfpq,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.ann_index_sink import IvfPqIndexSink
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE

SEED = 42


def _emb(spark):
    return load_tables(spark, SF_ORACLE)["embeddings"].select(
        "vec_id", "embedding"
    )


def _chunks(emb, n):
    # Layout-independent deterministic chunking (not a partition prefix).
    return [emb.filter(F.col("vec_id") % n == i) for i in range(n)]


def _model(spark):
    return train_ivfpq(
        _emb(spark), n_cells=8, m=8, k=16, seed=SEED, id_col="vec_id"
    )


def _sink(spark, tmp_path, name, model=None, **kw):
    return IvfPqIndexSink(
        spark,
        str(tmp_path / name),
        n_cells=8,
        m=8,
        k=16,
        seed=SEED,
        model=model,
        **kw,
    )


def _index_set(sink):
    df = sink.serve()
    assert df is not None
    return {
        (r["vec_id"], r["model_version"], r["cell"], tuple(r["codes"]))
        for r in df.collect()
    }


def test_chunked_equals_monolithic_with_pinned_model(spark, tmp_path):
    """With a bootstrap model the index content is a pure per-row function
    of the input set: 1-batch and 3-batch ingestion produce identical
    rows, and both match the pure-numpy encode replay."""
    model = _model(spark)
    emb = _emb(spark)
    mono = _sink(spark, tmp_path, "mono", model=model)
    mono.process_batch(emb, 0)
    chunked = _sink(spark, tmp_path, "chunked", model=model)
    for i, c in enumerate(_chunks(emb, 3)):
        chunked.process_batch(c, i)
    assert _index_set(mono) == _index_set(chunked)

    rows = emb.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cell, codes = ivfpq_encode_math(X, *model)
    expected = {
        (rows[i]["vec_id"], 0, int(cell[i]), tuple(int(c) for c in codes[i]))
        for i in range(len(rows))
    }
    assert _index_set(mono) == expected


def test_stream_attach_and_topk_matches_batch_operator(spark, tmp_path):
    """File-streamed ingestion (multiple micro-batches) builds the same
    index the batch path builds, and sink.topk == the batch ivfpq_topk
    over that index (single generation ⇒ bit-identical scores/ranks)."""
    model = _model(spark)
    emb = _emb(spark)
    src = str(tmp_path / "src")
    emb.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    sink = _sink(spark, tmp_path, "idx", model=model)
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert len(sink.store.part_ids()) >= 2, "expected multiple micro-batch parts"

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = {
        (r["query_id"], r["neighbor_id"], r["approx_d2"], r["rank"])
        for r in sink.topk(queries, k=5, nprobe=3).collect()
    }
    batch_index = sink.serve().drop("model_version")
    expect = {
        (r["query_id"], r["neighbor_id"], r["approx_d2"], r["rank"])
        for r in ivfpq_topk(
            batch_index, *model, queries, k=5, nprobe=3
        ).collect()
    }
    assert got == expect and len(got) > 0


@pytest.mark.heavy
def test_replay_idempotent_and_watermark_skip(spark, tmp_path):
    model = _model(spark)
    chunks = _chunks(_emb(spark), 3)
    sink = _sink(spark, tmp_path, "idx", model=model)
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    exp = _index_set(sink)
    # Crash-before-any-offset-commit replay: byte-identical overwrites.
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    assert _index_set(sink) == exp
    # Compact through batch 1; replaying 0/1 must watermark-skip (no part
    # reappears), batch 2 rewrites its live part.
    sink.compact(through_batch_id=1)
    for i in (0, 1, 2):
        sink.process_batch(chunks[i], i)
    assert sink.store.part_ids() == [2]
    assert _index_set(sink) == exp
    sink.compact()
    assert sink.store.part_ids() == []
    assert _index_set(sink) == exp


def test_bootstrap_model_trains_once_and_is_replay_stable(spark, tmp_path):
    """Without a bootstrap model, batch 0 trains generation 0 from its own
    md5-rank sample; a replayed batch 0 finds the model present and the
    re-encode overwrites the part with the same bytes."""
    chunks = _chunks(_emb(spark), 3)
    sink = _sink(spark, tmp_path, "idx")
    sink.process_batch(chunks[0], 0)
    assert sink._models.versions() == [0]
    model_bytes = open(sink._models.path(0), "rb").read()
    exp = _index_set(sink)
    sink.process_batch(chunks[0], 0)
    assert open(sink._models.path(0), "rb").read() == model_bytes
    assert _index_set(sink) == exp
    # The trained model reproduces outside the sink: same sample rows →
    # same fit (ivfpq_fit is shared pure numpy).
    rows = chunks[0].select("vec_id", "embedding").collect()
    order = sorted(
        rows,
        key=lambda r: hashlib.md5(
            f"{SEED}_{r['vec_id']}".encode()
        ).hexdigest(),
    )[: sink.sample_k]
    X = np.array([r["embedding"] for r in order], dtype=np.float64)
    cells, books = sink._fit(X)
    g_cells, g_books = sink.load_model(0)
    assert np.array_equal(cells, g_cells) and np.array_equal(books, g_books)


def test_uri_index_dir_bootstraps_and_serves_like_a_path(spark, tmp_path):
    """Under a ``file://`` index dir the bootstrap model commits through the
    Hadoop-FS write-once commit, once, and the index equals a plain-path
    run's."""
    chunks = _chunks(_emb(spark), 3)
    uri = IvfPqIndexSink(
        spark, (tmp_path / "uri").as_uri(), n_cells=8, m=8, k=16, seed=SEED
    )
    path = _sink(spark, tmp_path, "path")
    for sink in (uri, path):
        sink.process_batch(chunks[0], 0)
        sink.process_batch(chunks[0], 0)  # replay
        sink.process_batch(chunks[1], 1)
    assert uri._models.versions() == [0]
    assert (tmp_path / "uri" / "models" / "v0.json").read_bytes() == (
        tmp_path / "path" / "models" / "v0.json"
    ).read_bytes()
    assert _index_set(uri) == _index_set(path)
    uri.compact()
    assert uri.store.part_ids() == []
    assert _index_set(uri) == _index_set(path)


@pytest.mark.heavy
def test_sample_is_global_lowest_k_regardless_of_batching(spark, tmp_path):
    """The accumulated training sample is the global lowest-sample_k by
    md5 rank over every id ever seen — identical for 1-batch and 4-batch
    ingestion, and identical to the pure-python computation."""
    model = _model(spark)
    emb = _emb(spark)
    a = _sink(spark, tmp_path, "a", model=model, sample_k=50)
    a.process_batch(emb, 0)
    b = _sink(spark, tmp_path, "b", model=model, sample_k=50)
    for i, c in enumerate(_chunks(emb, 4)):
        b.process_batch(c, i)
    ids_a = {r["vec_id"] for r in a._current_sample().collect()}
    ids_b = {r["vec_id"] for r in b._current_sample().collect()}
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    expected = set(
        sorted(
            all_ids,
            key=lambda v: hashlib.md5(f"{SEED}_{v}".encode()).hexdigest(),
        )[:50]
    )
    assert ids_a == ids_b == expected
    # Compaction preserves it (fold of per-part lowest-k sets).
    b.compact()
    assert {r["vec_id"] for r in b._current_sample().collect()} == expected


@pytest.mark.heavy
def test_refresh_creates_generation_and_closes_replay_window(spark, tmp_path):
    chunks = _chunks(_emb(spark), 3)
    sink = _sink(spark, tmp_path, "idx")
    sink.process_batch(chunks[0], 0)
    sink.process_batch(chunks[1], 1)
    pre = _index_set(sink)
    new_v = sink.refresh()
    assert new_v == 1
    # refresh folded everything: pre-refresh rows unchanged, watermark set.
    assert _index_set(sink) == pre
    assert sink.store.part_ids() == []
    # A replayed pre-refresh batch is watermark-skipped — it must NOT be
    # re-encoded under the new generation.
    sink.process_batch(chunks[0], 0)
    assert sink.store.part_ids() == []
    assert _index_set(sink) == pre
    # New batches encode under generation 1; both generations serve.
    sink.process_batch(chunks[2], 2)
    served = sink.serve()
    versions = {r["model_version"] for r in served.select("model_version").distinct().collect()}
    assert versions == {0, 1}
    # Generation-1 rows match the encode replay under model 1.
    rows = chunks[2].collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cell, codes = ivfpq_encode_math(X, *sink.load_model(1))
    exp_g1 = {
        (rows[i]["vec_id"], 1, int(cell[i]), tuple(int(c) for c in codes[i]))
        for i in range(len(rows))
    }
    got_g1 = {
        t for t in _index_set(sink) if t[1] == 1
    }
    assert got_g1 == exp_g1
    # topk over two generations returns k ranked rows per query.
    queries = _emb(spark).filter(F.col("vec_id") % 100 == 0)
    out = sink.topk(queries, k=5, nprobe=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())
    assert len(by_q) == queries.count()


def test_rebuild_resets_to_single_generation(spark, tmp_path):
    chunks = _chunks(_emb(spark), 3)
    sink = _sink(spark, tmp_path, "idx")
    sink.process_batch(chunks[0], 0)
    sink.refresh()
    sink.process_batch(chunks[1], 1)
    new_model = sink.rebuild(_emb(spark))
    assert new_model == 2
    served = sink.serve()
    assert {
        r["model_version"]
        for r in served.select("model_version").distinct().collect()
    } == {2}
    assert served.count() == _emb(spark).count()
    # Pre-rebuild batches replay as watermark-skips.
    sink.process_batch(chunks[0], 0)
    assert sink.store.part_ids() == []


def test_crash_between_codes_and_sample_writes(spark, tmp_path, monkeypatch):
    """Crash between a part's codes and sample writes: both leaves are
    staged, so no part is published — serve() and the sample read see only
    whole parts — and the stream's replay publishes the part whole."""
    model = _model(spark)
    chunks = _chunks(_emb(spark), 3)
    sink = _sink(spark, tmp_path, "idx", model=model)
    sink.process_batch(chunks[0], 0)
    before = _index_set(sink)
    sample_before = {r["vec_id"] for r in sink._current_sample().collect()}

    parquet = DataFrameWriter.parquet

    def crash_on_sample(self, path, *args, **kwargs):
        if os.path.basename(path) == "sample":
            raise RuntimeError("crash between the codes and sample writes")
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_on_sample)
        with pytest.raises(RuntimeError):
            sink.process_batch(chunks[1], 1)
    assert sink.store.part_ids() == [0]
    assert _index_set(sink) == before
    assert {r["vec_id"] for r in sink._current_sample().collect()} == sample_before
    sink.process_batch(chunks[1], 1)  # the stream's replay
    assert os.path.isdir(os.path.join(sink.store.part_dir(1), "sample"))
    clean = _sink(spark, tmp_path, "clean", model=model)
    clean.process_batch(chunks[0], 0)
    clean.process_batch(chunks[1], 1)
    assert _index_set(sink) == _index_set(clean)
