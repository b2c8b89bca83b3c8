"""Content-hash insert deduplication: the ``insert_deduplicate`` analog.

ClickHouse's Replicated*MergeTree engines deduplicate INSERT blocks by a
hash of the block's content, remembering the most recent
``replicated_deduplication_window`` hashes — a producer that RETRIES the
same rows (a new insert, a new batch id, after a timeout it cannot
distinguish from failure) is silently dropped instead of double-applied.
The parts sinks' publish-once parts (``parts.PartStore``) only cover
checkpoint REPLAYS of the same micro-batch; this sink also covers
producer-side resends, which arrive under fresh batch ids.

Semantics vs CH, documented: the hash here is an order-insensitive exact
digest of the block's row multiset (per-row md5 → exact decimal sum + xor
+ count), so a resend with reordered rows still deduplicates — strictly
stronger than CH's order-sensitive block-bytes hash. Two distinct blocks
collide only if they hold the same multiset of rows, in which case
dropping the second IS the correct dedup.

Scale: the hash is one map-side pass + a 3-number aggregate (no shuffle of
the data, no sort); the hash window is a driver-side JSON file of ≤N
16-byte digests, committed per batch as the next version of
``_block_hashes/K.json`` through ``parts.WriteOnce`` (Hadoop FS API, so a
``file://`` or remote ``out_dir`` keeps its window beside its data). Appends are plain parquet appends — no read-modify-write
of existing state, so block size, not table size, bounds each commit.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parts import WriteOnce


def block_hash(df: DataFrame) -> str | None:
    """Order-insensitive exact content digest of ``df``; None if empty."""
    h = F.md5(F.to_json(F.struct(*sorted(df.columns))))
    agg = df.select(
        # 60 bits of each md5 as a number: exact decimal sum is
        # order-insensitive and overflow-free at any row count.
        F.sum(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)")
        ).alias("s"),
        F.bit_xor(
            F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
        ).alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if agg["n"] == 0:
        return None
    return f"{agg['s']}|{agg['x']}|{agg['n']}"


class InsertDedupSink:
    """Append sink that drops blocks whose content hash was seen within
    the last ``dedup_window`` applied blocks (CH ``insert_deduplicate``)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 dedup_window: int = 100):
        self.spark = spark
        self.out_dir = out_dir
        self.dedup_window = dedup_window
        # A "_" directory: Spark's reader skips it inside the data dir.
        self._window = WriteOnce(spark, os.path.join(out_dir, "_block_hashes"), "", ".json")

    def _recent_hashes(self) -> tuple[int, list[str]]:
        """(window version, its hashes); (-1, []) before the first block."""
        versions = self._window.versions()
        if not versions:
            return -1, []
        try:
            return versions[-1], json.loads(self._window.read(versions[-1]))
        except (ValueError, Py4JJavaError):
            # A torn/unreadable hash record must not wedge the sink: the
            # data commits landed, only dedup memory is lost — treat as
            # empty and accept the documented at-least-once residual.
            return versions[-1], []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        digest = block_hash(batch_df)
        if digest is None:
            return
        version, recent = self._recent_hashes()
        if digest in recent:
            return  # a resent/replayed block — the whole point
        batch_df.write.mode("append").parquet(self.out_dir)
        # Hash recorded AFTER the data commit: a crash in between replays
        # as a duplicate (at-least-once residual); the reverse order would
        # silently LOSE the block on a crash, which is worse. The record is
        # a new write-once version, so a crash mid-write never leaves a
        # torn newest window.
        recent.append(digest)
        if self._window.commit(version + 1, json.dumps(recent[-self.dedup_window:])):
            self._window.drop_below(version + 1)

    def current(self) -> DataFrame:
        return self.spark.read.parquet(self.out_dir)
