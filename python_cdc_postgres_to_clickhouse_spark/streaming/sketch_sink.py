"""Streaming distinct-user rollups via mergeable HLL sketch state.

The AggregatingMergeTree-with-uniqState analog: ClickHouse deployments
keep `uniqState(user_id)` per bucket and merge on read; here a foreachBatch
sink maintains one HLL sketch binary per (day, hour-bucket, event_type)
and merges micro-batches with `hll_union_agg`.

The property that makes this the BEST-behaved rollup state: HLL union is
register-wise max, so merging is idempotent AND associative —

    state ∪ batch ∪ batch  ==  state ∪ batch

A replayed micro-batch (crash between state write and stream checkpoint)
leaves the state bit-identical, with NO applied-batch markers — contrast
the additive partials of ``parts_rollup.PartedRollupSink``, which would
double-count on replay and so are published once per batch as parts. Chunked ingestion equals a monolithic build
exactly (test-asserted), so the serving estimates are reproducible
regardless of how the stream was batched.

At 100 TB: state is one ~2^lgk-byte sketch per bucket — independent of
user cardinality; each micro-batch touches only its days' partitions;
serving estimates (and any coarser rollup: daily, all-time) read the
sketches and union them, never the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .buckets import probe
from .parts import ForeachBatchSink

HLL_LGK = 12


class DistinctSketchSink(ForeachBatchSink):
    """Maintains per-(hour, event_type) HLL sketches of distinct users."""

    def __init__(self, spark: SparkSession, state_dir: str, lgk: int = HLL_LGK):
        self.spark = spark
        self.state_dir = state_dir
        self.lgk = lgk

    def _partials(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
            .withColumn("day", F.to_date("bucket"))
            .groupBy("day", "bucket", "event_type")
            .agg(F.hll_sketch_agg("user_id", F.lit(self.lgk)).alias("sk"))
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        incoming = self._partials(batch_df)
        days = [r["day"] for r in incoming.select("day").distinct().collect()]
        if not days:
            return
        merged = incoming
        # Probe through the Hadoop FS API (remote-safe, see buckets.py): a
        # missed state would make the dynamic overwrite REPLACE same-day
        # sketches instead of merging them (undercounted, no error).
        if probe(self.spark, self.state_dir, "day=*"):
            existing = self.spark.read.parquet(self.state_dir).filter(
                F.col("day").isin(days)
            )
            merged = (
                existing.unionByName(incoming)
                .groupBy("day", "bucket", "event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        # State is a handful of KB-sized sketch rows per day (24 buckets ×
        # |event types|) — without the coalesce, every dynamic-overwrite
        # rewrite emits shuffle-partition-count near-empty files per day
        # and the state directory degrades into a small-file swamp at
        # streaming cadence.
        (
            merged.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(self.state_dir)
        )

    def serve(self) -> DataFrame:
        """Per-bucket distinct-user estimates from the stored sketches."""
        r = self.spark.read.parquet(self.state_dir)
        return r.select(
            "bucket",
            "event_type",
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )

    def serve_rollup(self, granularity: str = "day") -> DataFrame:
        """Coarser rollups by UNIONING stored sketches — never re-reading
        the stream. Any granularity coarser than the stored bucket works;
        distinct counts are NOT additive, which is exactly why the state
        holds sketches instead of counts."""
        r = self.spark.read.parquet(self.state_dir)
        key = F.date_trunc(granularity, F.col("bucket")).alias("bucket")
        return (
            r.groupBy(key, "event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        )
