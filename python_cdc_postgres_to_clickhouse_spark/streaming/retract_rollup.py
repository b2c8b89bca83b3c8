"""Retractable rollup sink: incremental aggregates under updates & deletes.

``parts_rollup.PartedRollupSink`` maintains additive partials over an
APPEND-ONLY event stream. A CDC changelog is not append-only: updates move
rows between groups and change metric values, deletes retract them. This
sink maintains

    SELECT <group>, COUNT(*), SUM(<metric>) FROM current_state GROUP BY 1

incrementally from the Debezium envelope stream — the "materialized view
over ReplacingMergeTree" pattern a reference deployment would build in the
provisioned ClickHouse destination (reference docker-compose.yml:155-174).

The crucial design point: deltas are derived from **state transitions**,
never from raw deliveries. For each key the batch touches, the sink
compares the key's live row before the merge with its live row after the
merge and emits ``-old_contribution + new_contribution``. That makes the
rollup correct under everything the at-least-once transport throws at it:

- duplicate deliveries (any batch): the winning row is unchanged → Δ = 0;
- out-of-order deliveries: an older LSN losing to stored state → Δ = 0;
- update-after-delete resurrection, group-moving updates, delete-last:
  all are just transitions, retract old + assert new.

Exactly-once: batch N's delta is published once as delta part N of a
``parts.PartStore`` BEFORE the key-state overwrite. A replay of N finds the
part published (``applied``), skips the delta, and re-runs the idempotent
(latest-by-key) state merge. A crash before the part's rename leaves no
part and the state untouched, so the replay derives the same delta. The
delta is never derived after the state write — that would compute
old = new and lose the batch's effect. ``serve()`` merges base + live delta
parts at read time; ``compact()`` folds them into a new base.

Scale (100 TB): per batch the sink reads only the state buckets the batch
touches and semi-joins to the batch's keys; the delta part holds one row
per group the batch changed, and compaction keeps the base at one row per
live group — independent of changelog length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import latest_by_key
from .parts import PartStore, start_foreach_batch
from .upsert_sink import ParquetUpsertSink

# Fixed partial types: decimal widths must not drift across batches or the
# delta parts stop reading together.
_N_T = "bigint"
_SUM_T = "decimal(38,0)"


class RetractRollupSink:
    """Maintains ``GROUP BY group_expr`` counts/sums of the live CDC state.

    ``group_expr`` / ``metric_expr`` are SQL expressions over the flat
    (unwrapped) row — e.g. ``"length(username)"`` and ``"created_at_us"``.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        rollup_dir: str,
        group_expr: str,
        metric_expr: str,
        keys: tuple[str, ...] = ("id",),
        order_by: tuple[str, ...] = ("source_lsn", "kafka_offset"),
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.rollup_dir = rollup_dir
        self.group_expr = group_expr
        self.metric_expr = metric_expr
        self.keys = list(keys)
        self.store = PartStore(rollup_dir)
        self._state = ParquetUpsertSink(
            spark, state_dir, keys=keys, order_by=order_by, n_buckets=n_buckets
        )

    # -- contributions ----------------------------------------------------

    def _contrib(self, rows: DataFrame, sign: int) -> DataFrame:
        """Per-group (count, sum) contribution of a set of LIVE rows."""
        live = rows.filter(F.col("op") != "d")
        return live.groupBy(F.expr(self.group_expr).alias("grp")).agg(
            (F.count(F.lit(1)) * sign).cast(_N_T).alias("n_rows"),
            (F.coalesce(F.sum(F.expr(self.metric_expr).cast(_SUM_T)), F.lit(0)) * sign)
            .cast(_SUM_T)
            .alias("sum_metric"),
        )

    @staticmethod
    def _merged(df: DataFrame) -> DataFrame:
        return df.groupBy("grp").agg(
            F.sum("n_rows").cast(_N_T).alias("n_rows"),
            F.sum("sum_metric").cast(_SUM_T).alias("sum_metric"),
        )

    # -- batch processing -------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of flat change rows (unwrap(keep_deletes=
        True) output) into rollup + key state."""
        bucketed = self._state._bucket(batch_df)
        touched = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
        if not touched:
            return
        affected = bucketed.select(*self.keys).distinct()
        state = self._state.read_state()
        if state is not None:
            relevant = state.filter(F.col("bucket").isin(touched))
            old_rows = relevant.join(affected, self.keys, "left_semi")
            merged = relevant.unionByName(bucketed, allowMissingColumns=True)
        else:
            old_rows = None
            merged = bucketed
        # Pin the merged state: it is read twice (rollup delta + state
        # overwrite) and the second read must not see the first write.
        new_state = latest_by_key(
            merged, keys=self.keys, order_by=self._state.order_by, drop_deletes=False
        ).localCheckpoint(eager=True)

        if not self.store.applied(batch_id):
            delta = self._contrib(new_state.join(affected, self.keys, "left_semi"), +1)
            if old_rows is not None:
                delta = delta.unionByName(self._contrib(old_rows, -1))
            self.store.publish(batch_id, self._merged(delta).coalesce(1).write.parquet)

        (
            new_state.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self._state.state_dir)
        )

    # -- API --------------------------------------------------------------

    def attach(
        self, changes: DataFrame, checkpoint_dir: str, **trigger_kwargs
    ) -> StreamingQuery:
        return start_foreach_batch(
            changes, self.process_batch, checkpoint_dir, **trigger_kwargs
        )

    def serve(self) -> DataFrame | None:
        """Live per-group aggregates: base ⊎ live delta parts, summed at
        read time; groups whose rows all retracted away net to zero and are
        dropped here."""
        df = self.store.read(self.spark)
        if df is None:
            return None
        return self._merged(df).filter(F.col("n_rows") > 0)

    def compact(self, through_batch_id: int | None = None) -> None:
        """Fold live delta parts <= ``through_batch_id`` (default: all) into
        a new base of one row per live group."""
        self.store.compact(
            lambda ids, base: self._merged(self.store.read(self.spark, ids))
            .filter(F.col("n_rows") != 0)
            .coalesce(1)
            .write.parquet(base),
            through_batch_id,
        )

    def current_state(self) -> DataFrame | None:
        return self._state.current_state()
