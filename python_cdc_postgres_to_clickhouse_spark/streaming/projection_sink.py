"""Streaming aggregate state: keep a table of re-mergeable aggregate states
current under a micro-batched stream, one part per batch.

ClickHouse stores every kind of aggregate state one way: an insert writes
a part of ``-State`` columns, and reads and background merges re-merge the
parts. This sink is that mechanism, once, for every aggregate-state sink of
the engine: ``ddl.translate_ddl``'s ``PROJECTION`` entries (``from_spec``),
the hourly rollup (``parts_rollup.PartedRollupSink``: count and sum) and
the distinct-user sketches (``sketch_sink.DistinctSketchSink``: HLL
``uniq``) are each a key/measure spec of it. Each micro-batch contributes
one partial-aggregated chunk of states (``operators/projection.py``
``build_projection``), stored as one part of a ``parts.PartStore``;
``projection()`` reads base ⊎ live parts and ``Projection.answer``
re-merges the states per group (count→sum, sum→sum, min/max→themselves,
uniq→HLL register-max union) — the same ⊕ the MergeTree background merge
applies, which ``compact()`` runs to fold parts into a new base.

Exactly-once: sum/count states are ADDITIVE, so a replayed batch must not
add its chunk twice. Batch N publishes its chunk once as part N; a replay
finds the part (or the compacted watermark) and is skipped — no marker
file, no crash window between a state write and a marker.

At 100 TB: a part holds one row per key the batch touched and is never
rewritten; read cost is O(live parts), bounded by compaction, and the base
is |distinct keys| rows. With ``partition_key`` set (one of the projection
keys) parts and bases are written ``partitionBy(partition_key)``, so a
key-filtered serve prunes every part to that key's directory.

Decimal note: Spark widens decimal sums per aggregation level up to
precision 38 — feed sum measures a ``decimal(38, s)`` (or integer cents) so
parts and bases keep one parquet schema at every merge level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..operators.projection import Projection, build_projection
from .parts import ForeachBatchSink, PartStore


class ProjectionSink(ForeachBatchSink):
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: dict[str, Column],
        measures: dict[str, tuple[str, Column]],
        partition_key: str | None = None,
    ):
        if partition_key is not None and partition_key not in keys:
            raise ValueError(f"partition_key {partition_key!r} not a key")
        self.spark = spark
        self.state_dir = state_dir
        self.keys = keys
        self.measures = measures
        self.kinds = {n: kind for n, (kind, _) in measures.items()}
        self.partition_key = partition_key
        self.store = PartStore(spark, state_dir)

    @classmethod
    def from_spec(cls, spark, state_dir: str, spec,
                  partition_key: str | None = None) -> "ProjectionSink":
        """Build a sink straight from a ``ddl.ProjectionSpec`` — the CH
        ``CREATE TABLE … PROJECTION`` entry made continuously maintained."""
        keys, measures = spec.to_operator_args()
        return cls(spark, state_dir, keys, measures, partition_key)

    def _writer(self, states: DataFrame):
        """``write(dir)`` for a part or base of ``states``."""
        out = states.coalesce(1).write
        if self.partition_key is not None:
            out = out.partitionBy(self.partition_key)
        return out.parquet

    def _states(self, part_ids: list[int] | None = None) -> Projection | None:
        """The stored states of base ⊎ ``part_ids`` (default: the live
        parts); None while the store is empty."""
        df = self.store.read(part_ids)
        return None if df is None else Projection(df, tuple(self.keys), dict(self.kinds))

    # -- the merge -----------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.applied(batch_id) or batch_df.isEmpty():
            return
        incoming = build_projection(batch_df, self.keys, self.measures)
        self.store.publish(batch_id, self._writer(incoming.df))

    def compact(self, through_batch_id: int | None = None) -> None:
        """Fold live parts <= ``through_batch_id`` (default: all) into a new
        base of one re-merged state row per key."""
        self.store.compact(
            lambda ids, base: self._writer(self._states(ids).remerged().df)(base),
            through_batch_id,
        )

    # -- reads ----------------------------------------------------------------
    def projection(self) -> Projection:
        """The stored states, base ⊎ live parts: a key may have one row per
        part, which ``answer`` re-merges."""
        states = self._states()
        if states is None:
            raise ValueError(f"{self.state_dir}: no projection state yet")
        return states

    def serve(self, group_keys: list[str], asked: dict[str, tuple]) -> DataFrame:
        """Answer a covered GROUP BY from the maintained state — the routed
        read path over live-maintained data."""
        return self.projection().answer(group_keys, asked)
