"""Streaming distinct-user rollups via mergeable HLL sketch state: the
AggregatingMergeTree-with-``uniqState(user_id)`` analog, as a spec of
``ProjectionSink``.

Keys are (hour bucket, event_type) and the one measure is an HLL ``uniq``
state of ``user_id``. Each micro-batch publishes its sketches once as a
part of the shared ``parts.PartStore``; reads and ``compact()`` union the
parts' sketches with ``hll_union_agg``. HLL union is a register-wise max,
so chunked ingestion equals a monolithic build exactly (test-asserted) and
a coarser rollup (daily, all-time) is the union of the stored sketches,
never a re-read of the stream: distinct counts are not additive, which is
why the state holds sketches instead of counts.

At 100 TB: state is one ~2^HLL_LGK-byte sketch per bucket, independent of
user cardinality.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .projection_sink import ProjectionSink

# lgConfigK of the stored sketches: ``hll_sketch_agg``'s default, which the
# projection's ``uniq`` state uses.
HLL_LGK = 12
_SERVED = {"approx_users": ("uniq", "sk")}


class DistinctSketchSink(ProjectionSink):
    """Maintains per-(hour, event_type) HLL sketches of distinct users."""

    def __init__(self, spark: SparkSession, state_dir: str):
        super().__init__(
            spark,
            state_dir,
            keys={
                "bucket": F.date_trunc("hour", F.col("ts")),
                "event_type": F.col("event_type"),
            },
            measures={"sk": ("uniq", F.col("user_id"))},
        )

    def serve(self) -> DataFrame:
        """Per-bucket distinct-user estimates from the stored sketches."""
        return self.projection().answer(list(self.keys), _SERVED)

    def serve_rollup(self, granularity: str = "day") -> DataFrame:
        """Coarser rollups by unioning the stored sketches re-keyed to
        ``date_trunc(granularity, bucket)``; any granularity coarser than
        the stored hour works."""
        p = self.projection()
        coarse = p.df.withColumn("bucket", F.date_trunc(granularity, F.col("bucket")))
        return replace(p, df=coarse).answer(list(self.keys), _SERVED)
