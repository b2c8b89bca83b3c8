"""Hourly rollup of an append-only event stream, exactly-once: the
SummingMergeTree destination the reference provisions
(docker-compose.yml:155-166) as a spec of ``ProjectionSink``.

Keys are (hour bucket, event_type); the measures are a ``count`` state and
a ``sum`` state of ``value`` as ``decimal(38,6)``, which stays
``decimal(38,6)`` at every merge level. Batch N publishes its partial
aggregate once as a part of the shared ``parts.PartStore``, ``serve()``
sums base ⊎ live parts, and ``compact()`` folds parts into a new base; an
additive merge is not idempotent, and publish-once is what keeps a
replayed batch from counting twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .projection_sink import ProjectionSink

_SERVED = {
    "n_events": ("count", "n_events"),
    "sum_value": ("sum", "sum_value"),
    "avg_value": ("avg", "sum_value", "n_events"),
}


class PartedRollupSink(ProjectionSink):
    """Per-(hour, event_type) additive partials, one part per micro-batch
    plus a versioned compacted base."""

    def __init__(self, spark: SparkSession, rollup_dir: str):
        super().__init__(
            spark,
            rollup_dir,
            keys={
                "bucket": F.date_trunc("hour", F.col("ts")),
                "event_type": F.col("event_type"),
            },
            measures={
                "n_events": ("count", F.lit(1)),
                "sum_value": ("sum", F.col("value").cast("decimal(38,6)")),
            },
        )

    def serve(self) -> DataFrame | None:
        """Merge at read: base ⊎ live parts summed per key, the sum as a
        double and its mean; None before the first part."""
        states = self._states()
        if states is None:
            return None
        served = states.answer(list(self.keys), _SERVED)
        return served.withColumn("sum_value", F.col("sum_value").cast("double"))
