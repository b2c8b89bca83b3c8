"""Incremental materialized JOIN view under two CDC streams — delta-rule
view maintenance (the classic ΔQ = ΔA ⋈ B ∪ A ⋈ ΔB, realized bucket-wise).

The reference's destination serves joins by recomputing them per query;
warehouse practice materializes hot join views and maintains them
incrementally as both base tables change. This sink maintains

    VIEW = latest_state(A) ⋈_{join_key} latest_state(B)   (inner equi)

under CDC change streams for A and B, without ever recomputing the full
join:

- **Base states** are latest-by-key upsert tables (the D3 semantic): one
  ``ParquetUpsertSink`` per side, hash-bucketed on that side's PRIMARY key
  in the shared ``buckets.BucketedState`` store (remote-safe state probe),
  tombstones and all. A batch merges and rewrites only the buckets it
  touches; the post-batch side the view reads is the pre-batch state's
  untouched buckets ∪ the merged touched ones.
- **Affected join keys** of a micro-batch = join keys carried by the new
  rows ∪ join keys the batch's primary keys pointed to BEFORE the batch
  (read from pre-batch state). The second term handles the MOVE case: an
  update that changes a row's join key must erase its pairs under the old
  key, which a new-rows-only delta would silently leave stale.
- **View recompute** is bucket-local (the view is a ``BucketedState`` on
  the join key): only view buckets holding affected join keys are rebuilt,
  each WHOLE — by joining the two post-batch states semi-joined down to
  those buckets, since a rebuilt bucket also holds the pairs of unaffected
  keys that hash to it. Cost tracks |Δ| and the join fan-out of the
  touched buckets, never view size.
- **Sentinel rows** guarantee every rebuilt bucket is WRITTEN even when
  its recomputed content is empty (all pairs gone): dynamic partition
  overwrite only replaces partitions present in the output, so an
  all-pairs-deleted bucket would otherwise keep serving stale rows. One
  null-keyed sentinel per rebuilt bucket, filtered at read — keeps the
  write a single dynamic-overwrite pass with no per-bucket driver loop.

Crash/replay protocol (exactly-once effects without a txn format): the
VIEW write happens BEFORE the state writes. Replay of a batch whose state
writes crashed recomputes the same affected set from the same pre-state —
idempotent. Replay of a FULLY committed batch sees post-batch state, so
the old-key term vanishes from the affected set — but those buckets were
already rewritten correctly by the committed pass, and recomputing the
remaining buckets from unchanged state is a byte-identical no-op. A
partially-written view heals on replay (all affected buckets rebuilt);
mid-write readers see bucket-level eventual consistency, the same
contract as the other sinks here.

Scale (100 TB): per batch, each side does one bucket-pruned state merge
(upsert protocol) and the view rebuild reads two state tables pruned by a
broadcast semi-join on the rebuilt view buckets; the join itself shuffles
only those buckets' rows. At 4096 buckets a busy batch rewrites a few dozen
bucket files per table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .buckets import BucketedState
from .parts import start_foreach_batch
from .upsert_sink import ParquetUpsertSink


class JoinViewSink:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        join_key: str,
        left_keys: Sequence[str] = ("id",),
        right_keys: Sequence[str] = ("rid",),
        order_by: Sequence[str] = ("source_lsn", "kafka_offset"),
        n_buckets: int = 16,
    ):
        self.join_key = join_key
        self.left = ParquetUpsertSink(
            spark, os.path.join(base_dir, "left"), left_keys, order_by, n_buckets
        )
        self.right = ParquetUpsertSink(
            spark, os.path.join(base_dir, "right"), right_keys, order_by, n_buckets
        )
        self.view_state = BucketedState(
            spark, os.path.join(base_dir, "view"), [join_key], n_buckets
        )

    # -- the incremental maintenance step --------------------------------

    def _side(
        self, side: ParquetUpsertSink, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame | None, DataFrame]:
        """One side's step: (its post-batch state, its merged touched
        buckets to write or None, the join keys the batch affects).

        The post-batch state is the pre-batch state's untouched buckets ∪
        the merged touched buckets. The affected join keys are the batch
        rows' own plus those its primary keys held in pre-batch state (the
        MOVE term)."""
        jk = self.join_key
        affected = batch.select(jk)
        state = side.store.read()
        merged = side.merge(batch)
        if merged is None:
            return (batch if state is None else state), None, affected
        touched, prior, new = merged
        if prior is None:
            return new, new, affected
        old_jks = prior.join(batch.select(*side.keys).distinct(), side.keys, "left_semi")
        post = state.filter(~F.col("bucket").isin(touched)).unionByName(
            new, allowMissingColumns=True
        )
        return post, new, affected.unionByName(old_jks.select(jk))

    def process_batch(
        self, left_batch: DataFrame, right_batch: DataFrame, batch_id: int = 0
    ) -> None:
        jk = self.join_key
        l_post, l_new, l_affected = self._side(self.left, left_batch)
        r_post, r_new, r_affected = self._side(self.right, right_batch)
        rebuilt = (
            self.view_state.bucket(
                l_affected.unionByName(r_affected).filter(F.col(jk).isNotNull())
            )
            .select("bucket")
            .distinct()
        )

        def live(post: DataFrame) -> DataFrame:
            """Served (non-tombstone) rows of one side whose join key falls
            in a rebuilt view bucket — every such key, affected or not:
            the rewrite replaces the whole bucket."""
            return (
                self.view_state.bucket(post.drop("bucket"))
                .filter(F.col("op") != "d")
                .join(F.broadcast(rebuilt), "bucket", "left_semi")
            )

        l_live, r_live = live(l_post), live(r_post).drop("bucket")
        overlap = set(l_live.columns) & set(r_live.columns) - {jk}
        r_sel = [F.col(jk)] + [
            F.col(c).alias(f"r_{c}" if c in overlap else c)
            for c in r_live.columns
            if c != jk
        ]
        pairs = l_live.join(r_live.select(*r_sel), jk, "inner")

        # Sentinels: one null-keyed row per rebuilt bucket so empty
        # recomputes still overwrite their partition.
        out = pairs.withColumn("_sentinel", F.lit(False)).unionByName(
            rebuilt.withColumn("_sentinel", F.lit(True)), allowMissingColumns=True
        )
        # VIEW first, then states (see crash/replay protocol above).
        self.view_state.write(out)
        for side, new in ((self.left, l_new), (self.right, r_new)):
            if new is not None:
                side.store.write(new)

    # -- serving ----------------------------------------------------------

    def view(self) -> DataFrame | None:
        df = self.view_state.read()
        if df is None:
            return None
        return df.filter(~F.col("_sentinel")).drop("_sentinel", "bucket")

    # -- streaming attachment (tagged union stream) -----------------------

    def attach(
        self,
        tagged_changes: DataFrame,
        checkpoint_dir: str,
        side_col: str = "_side",
        **trigger_kwargs,
    ) -> StreamingQuery:
        """Drive from ONE stream carrying both sides, tagged 'l'/'r' in
        ``side_col`` (two independent streaming queries could not
        coordinate a single consistent batch)."""
        def _step(batch_df: DataFrame, batch_id: int) -> None:
            l = batch_df.filter(F.col(side_col) == "l").drop(side_col)
            r = batch_df.filter(F.col(side_col) == "r").drop(side_col)
            self.process_batch(l, r, batch_id)

        return start_foreach_batch(
            tagged_changes, _step, checkpoint_dir, **trigger_kwargs
        )
