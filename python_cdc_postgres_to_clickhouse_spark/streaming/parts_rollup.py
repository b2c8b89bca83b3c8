"""Parts-based rollup sink: exactly-once additive aggregation, no txn format.

An additive merge is not idempotent, so merging a micro-batch into rollup
state in place cannot survive a replay without a marker, and a crash
between the state write and the marker double-counts. This sink keeps the
MergeTree parts model the provisioned destination actually uses (reference
docker-compose.yml:155-166), through the shared ``parts.PartStore``:

- **Insert = part.** Batch N publishes its partial aggregate once as
  ``parts/batch=N/``, never merging in place; a replayed N is skipped.
- **SELECT = merge at read.** ``serve()`` unions base + live parts and sums
  — ClickHouse's AggregatingMergeTree read semantics. Cost is O(live
  parts), bounded by compaction.
- **Background merge = compaction.** ``compact()`` folds parts into a new
  base version committed as the next write-once manifest version; the
  crash-safety argument is the store's.

At 100 TB: each part is a few-KB-to-MB partial aggregate (one row per
(bucket, dims) the batch touched), the stream never rewrites history, and
compaction is a bounded background job — the same write-amplification
profile as a MergeTree insert path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parts import ForeachBatchSink, PartStore

_N_T = "bigint"
_SUM_T = "decimal(38,6)"


class PartedRollupSink(ForeachBatchSink):
    """Per-(hour, event_type) additive partials of an append-only event
    stream, stored as one part per micro-batch + a versioned compacted base."""

    def __init__(self, spark: SparkSession, rollup_dir: str):
        self.spark = spark
        self.rollup_dir = rollup_dir
        self.store = PartStore(spark, rollup_dir)

    @staticmethod
    def _partials(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
            .groupBy("bucket", "event_type")
            .agg(
                F.count(F.lit(1)).cast(_N_T).alias("n_events"),
                # Fixed decimal width — sum precision drifts per aggregation
                # level otherwise and parts stop reading together.
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast(_SUM_T)
                .alias("sum_value"),
            )
        )

    @staticmethod
    def _merged(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket", "event_type").agg(
            F.sum("n_events").cast(_N_T).alias("n_events"),
            F.sum("sum_value").cast(_SUM_T).alias("sum_value"),
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.applied(batch_id):
            return
        self.store.publish(
            batch_id, self._partials(batch_df).coalesce(1).write.parquet
        )

    def serve(self) -> DataFrame | None:
        """Merge-at-read: base ⊎ live parts, summed — AggregatingMergeTree's
        SELECT semantics. Derived metrics from the partials."""
        df = self.store.read()
        if df is None:
            return None
        return self._merged(df).select(
            "bucket",
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
            (
                F.col("sum_value").cast("double") / F.col("n_events").cast("double")
            ).alias("avg_value"),
        )

    def compact(self, through_batch_id: int | None = None) -> None:
        """Fold live parts <= ``through_batch_id`` (default: all) into a new
        base version."""
        self.store.compact(
            lambda ids, base: self._merged(self.store.read(ids))
            .coalesce(1)
            .write.parquet(base),
            through_batch_id,
        )
