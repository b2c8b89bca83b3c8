"""Online near-dup suppression (streaming/neardup.py): chunked streaming
replay must reproduce the one-shot greedy exactly, survive redelivery, and
actually suppress the fixture's planted near-duplicates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators import dedup as D
from python_cdc_postgres_to_clickhouse_spark.streaming.neardup import (
    StreamingNearDupFilter,
    _signatures,
    greedy_suppress,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE

THRESHOLD = 0.6
H = 16


@pytest.fixture()
def docs(spark):
    return load_tables(spark, SF_ORACLE)["documents"]


def _reference_suppressed(docs) -> set[int]:
    """Pure-Python greedy over the signature-estimate pair graph — the
    ground truth both the one-shot and the chunked runs must match."""
    rows = _signatures(docs, H, 3, "doc_id", "text").select("doc", "sig").collect()
    sigs = {r["doc"]: tuple(r["sig"]) for r in rows}
    # Candidate edges exactly as banded LSH generates them (band agreement),
    # then the estimate filter.
    bands: dict[tuple[int, tuple], list[int]] = {}
    for doc, s in sigs.items():
        for b in range(8):
            bands.setdefault((b, s[2 * b : 2 * b + 2]), []).append(doc)
    edges = set()
    for members in bands.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                lo, hi = min(a, b), max(a, b)
                est = sum(x == y for x, y in zip(sigs[lo], sigs[hi])) / H
                if est >= THRESHOLD:
                    edges.add((lo, hi))
    return greedy_suppress(sorted(edges), list(sigs))


def _run_chunks(spark, docs, state_dir, chunks):
    f = StreamingNearDupFilter(spark, state_dir, threshold=THRESHOLD)
    for i, chunk in enumerate(chunks):
        f.process_batch(chunk, i)
    return f


def _ids(df):
    return {r["doc"] for r in df.collect()}


@pytest.mark.heavy
def test_chunked_replay_equals_one_shot_greedy(spark, docs, tmp_path):
    ref_suppressed = _reference_suppressed(docs)
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    one = _run_chunks(spark, docs, str(tmp_path / "one"), [docs])
    assert _ids(one.accepted_ids()) == all_ids - ref_suppressed

    chunks = [
        docs.where((F.col("doc_id") % 500 >= lo) & (F.col("doc_id") % 500 < lo + 100))
        for lo in range(0, 500, 100)
    ]
    many = _run_chunks(spark, docs, str(tmp_path / "many"), chunks)
    assert _ids(many.accepted_ids()) == all_ids - ref_suppressed


@pytest.mark.heavy
def test_chunk_order_respects_first_wins(spark, docs, tmp_path):
    """Docs arriving in a later chunk must lose to their already-accepted
    near-dup from an earlier chunk, even when ids say otherwise — the log
    attributes each suppression to an accepted doc."""
    f = _run_chunks(
        spark,
        docs,
        str(tmp_path / "s"),
        [docs.where(F.col("doc_id") >= 250), docs.where(F.col("doc_id") < 250)],
    )
    log = f.suppression_log()
    if log is None:
        pytest.skip("no suppressions at this sf")
    accepted = _ids(f.accepted_ids())
    for r in log.collect():
        assert r["dup_of"] in accepted, "suppression must point at an accepted doc"
        assert r["doc"] not in accepted
        assert r["est_jaccard"] >= THRESHOLD


@pytest.mark.heavy
def test_redelivery_is_idempotent(spark, docs, tmp_path):
    chunk1 = docs.where(F.col("doc_id") < 250)
    chunk2 = docs.where(F.col("doc_id") >= 250)
    f = _run_chunks(spark, docs, str(tmp_path / "r"), [chunk1, chunk2])
    before = _ids(f.accepted_ids())
    log_before = _ids(f.suppression_log()) if f.suppression_log() is not None else set()
    # crash/replay: the last batch is delivered again, then the whole corpus
    f.process_batch(chunk2, 99)
    f.process_batch(docs, 100)
    assert _ids(f.accepted_ids()) == before
    log_after = _ids(f.suppression_log()) if f.suppression_log() is not None else set()
    assert log_after == log_before


@pytest.mark.heavy
def test_planted_near_dups_are_suppressed(spark, docs, tmp_path):
    """For every planted ≥0.9-Jaccard pair, at most one side survives."""
    f = _run_chunks(spark, docs, str(tmp_path / "p"), [docs])
    accepted = _ids(f.accepted_ids())
    pairs = [
        (r["a"], r["b"])
        for r in D.jaccard_pairs(docs, threshold=0.9).select("a", "b").collect()
    ]
    assert pairs, "fixture should contain planted near-dup pairs"
    both = [(a, b) for a, b in pairs if a in accepted and b in accepted]
    # Banded (16,8) LSH at J>=0.9 has >(1-1e-6) per-pair recall; allow zero
    # misses — a miss here means the pipeline broke, not statistics.
    assert not both, f"near-dup pairs with both sides accepted: {both}"


@pytest.mark.heavy
def test_streaming_attach_runs_end_to_end(spark, docs, tmp_path):
    """The real writeStream path (file source, one file per trigger) lands
    the same accepted set as direct batch processing."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, lo in enumerate(range(0, 500, 250)):
        (
            docs.where((F.col("doc_id") % 500 >= lo) & (F.col("doc_id") % 500 < lo + 250))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, f"chunk_{i:05d}.parquet"))
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    f = StreamingNearDupFilter(spark, str(tmp_path / "state"), threshold=THRESHOLD)
    q = f.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    direct = _run_chunks(spark, docs, str(tmp_path / "direct"), [docs])
    # Chunks ascend in doc_id, so first-wins == global greedy by id: the
    # streamed accepted set must EQUAL the one-shot run's exactly.
    assert _ids(f.accepted_ids()) == _ids(direct.accepted_ids())


def test_failed_batch_releases_its_cached_signatures(spark, docs, tmp_path, monkeypatch):
    """A batch persists its signatures and bands while it runs; a batch that
    fails part way (here the first state append) must not leave them cached
    for the rest of the session."""

    def failing_append(self, df, sub):
        raise OSError(f"cannot append {sub}")

    monkeypatch.setattr(StreamingNearDupFilter, "_append", failing_append)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    f = StreamingNearDupFilter(spark, str(tmp_path / "state"), threshold=THRESHOLD)
    with pytest.raises(OSError, match="cannot append bands"):
        f.process_batch(docs.limit(40), 0)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before == set()
