"""InsertDedupSink: content-hash block dedup (CH insert_deduplicate)."""

from __future__ import annotations

import json
import os

from python_cdc_postgres_to_clickhouse_spark.streaming.insert_dedup import (
    InsertDedupSink,
    block_hash,
)

SCHEMA = "k bigint, v string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _window_file(sink) -> str:
    """The newest committed hash-window file."""
    return sink._window.path(sink._window.versions()[-1])


def test_resent_block_applies_once_even_under_new_batch_id(spark, tmp_path, monkeypatch):
    _resend_is_dropped(spark, tmp_path, monkeypatch, uri=False)


def test_resent_block_applies_once_at_file_uri(spark, tmp_path, monkeypatch):
    """The hash window lives beside the data under a URI too, never in a
    stray "file:" directory under the working directory."""
    _resend_is_dropped(spark, tmp_path, monkeypatch, uri=True)


def _resend_is_dropped(spark, tmp_path, monkeypatch, uri):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "t"
    sink = InsertDedupSink(spark, out.as_uri() if uri else str(out))
    block = [(1, "a"), (2, "b"), (3, "c")]
    sink.process_batch(_df(spark, block), 0)
    sink.process_batch(_df(spark, block), 1)          # resend, NEW batch id
    sink.process_batch(_df(spark, block[::-1]), 2)    # resend, reordered
    assert sink.current().count() == 3
    sink.process_batch(_df(spark, [(4, "d")]), 3)     # genuinely new block
    assert sink.current().count() == 4
    assert os.listdir(cwd) == []
    # Only the newest window version is kept.
    assert sorted(os.listdir(out / "_block_hashes")) == [".1.json.crc", "1.json"]


def test_block_hash_is_order_insensitive_and_content_sensitive(spark):
    a = block_hash(_df(spark, [(1, "a"), (2, "b")]))
    b = block_hash(_df(spark, [(2, "b"), (1, "a")]))
    c = block_hash(_df(spark, [(1, "a"), (2, "x")]))
    d = block_hash(_df(spark, [(1, "a"), (1, "a")]))  # multiset, not set
    e = block_hash(_df(spark, [(1, "a")]))
    assert a == b
    assert len({a, c, d, e}) == 4
    assert block_hash(_df(spark, [])) is None


def test_dedup_window_evicts_like_clickhouse(spark, tmp_path):
    # CH forgets hashes past replicated_deduplication_window: a block
    # resent AFTER eviction is applied again (documented CH behavior).
    sink = InsertDedupSink(spark, str(tmp_path / "w"), dedup_window=2)
    b1, b2, b3 = [(1, "a")], [(2, "b")], [(3, "c")]
    sink.process_batch(_df(spark, b1), 0)
    sink.process_batch(_df(spark, b2), 1)
    sink.process_batch(_df(spark, b3), 2)   # evicts b1's hash
    sink.process_batch(_df(spark, b1), 3)   # re-applied: out of the window
    assert sink.current().count() == 4
    # ...but a block still inside the window stays deduplicated
    sink.process_batch(_df(spark, b3), 4)
    assert sink.current().count() == 4


def test_empty_batch_is_a_noop(spark, tmp_path):
    sink = InsertDedupSink(spark, str(tmp_path / "e"))
    sink.process_batch(_df(spark, [(1, "a")]), 0)
    sink.process_batch(_df(spark, []), 1)
    assert sink.current().count() == 1


def test_corrupt_hash_record_does_not_wedge_the_sink(spark, tmp_path):
    """A torn newest hash record (written outside the sink's write-once
    commit) must be read as an empty window (at-least-once residual),
    never raise."""
    sink = InsertDedupSink(spark, str(tmp_path / "c"))
    sink.process_batch(_df(spark, [(1, "a")]), 0)
    with open(_window_file(sink), "w") as f:
        f.write('["abc", "de')  # torn mid-write
    sink.process_batch(_df(spark, [(2, "b")]), 1)  # must not raise
    assert sink.current().count() == 2
    # the record is healed: dedup works again from here on
    sink.process_batch(_df(spark, [(2, "b")]), 2)
    assert sink.current().count() == 2


def test_hash_record_write_is_atomic(spark, tmp_path):
    """The record lands via temp file + rename onto a new version — no temp
    residue and valid JSON after every batch."""
    sink = InsertDedupSink(spark, str(tmp_path / "a"))
    sink.process_batch(_df(spark, [(1, "a")]), 0)
    assert not [n for n in os.listdir(tmp_path / "a" / "_block_hashes") if "tmp" in n]
    with open(_window_file(sink)) as f:
        assert isinstance(json.load(f), list)
