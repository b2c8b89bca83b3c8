"""Streaming SCD Type-2 history sink: foreachBatch maintenance of a
versioned dimension-history table under a CDC change stream.

The batch query `cdc_scd2_history` (queries/cdc_history.py) derives SCD2
intervals from a *complete* changelog; this sink maintains the same table
**incrementally** — the warehouse-side "history table" job a reference
user would run against the provisioned ClickHouse destination (reference
docker-compose.yml:155-174), here native on bucketed Parquet like the
other sinks in this package.

Design (the bucket protocol of streaming/upsert_sink.py, both on the
shared ``buckets.BucketedState`` store and its remote-safe probe):

- **State = the deduped change rows themselves**, hash-bucketed on the
  key, with the derived ``valid_to_ms`` stored alongside. Intervals are a
  pure function of the SET of change rows per key, so the merge is
  set-union + recompute — re-delivering a batch unions in rows that are
  already present, the dedup collapses them, and the recompute yields the
  byte-identical bucket: **replay is a no-op without markers** (the same
  exactly-once argument as latest-by-key, lifted from "newest row" to
  "whole version chain").
- **Out-of-order delivery** needs no special case: a late old change
  lands in the middle of its key's chain and the bucket-local window
  recompute re-derives every interval it shifts.
- **Deletes** close their predecessor (their ``ts_ms`` becomes its
  ``valid_to_ms``) and carry a zero-length validity themselves
  (``valid_to_ms = own ts_ms``); they are dropped from served reads but
  stay in state — exactly the tombstone rule of the upsert sink — until
  `compact()`.
- **Compaction / retention**: ``valid_to_ms`` is monotone in LSN order
  within a key (commit time advances with the WAL), so "every version
  closed before the horizon" is a per-key *prefix* of the chain; dropping
  it never changes any surviving row's recomputed interval (leads look
  only forward). The horizon must exceed the source's replay window
  (reference 7-day Kafka retention, debezium.json:24) — the same contract
  as tombstone compaction in the upsert sink.

Scale (100 TB): a micro-batch rewrites only the buckets it touches
(dynamic partition overwrite); the recompute is one bucket-local window
per touched bucket — cost tracks touched-key history length, not table
size. Served reads are plain filters over the bucketed Parquet:
``current()`` prunes to open intervals, ``as_of(ts)`` to intervals
covering ts — both pushed to the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.cdc import OP_DELETE
from .buckets import BucketedState
from .parts import ForeachBatchSink, start_foreach_batch


class Scd2HistorySink(ForeachBatchSink):
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: Sequence[str] = ("id",),
        order_by: Sequence[str] = ("source_lsn",),
        time_col: str = "ts_ms",
        op_col: str = "op",
        n_buckets: int = 16,
    ):
        self.keys = list(keys)
        # Delivery metadata (offsets) is dropped at ingest: state identity
        # is (keys, order_by) and duplicate deliveries must be EXACTLY
        # identical rows so the dedup is deterministic.
        self.order_by = list(order_by)
        self.time_col = time_col
        self.op_col = op_col
        self.store = BucketedState(spark, state_dir, keys, n_buckets)

    def _recompute(self, rows: DataFrame) -> DataFrame:
        """Dedup by (keys, order) and re-derive validity intervals.

        Bucket-local: ``rows`` holds full key chains (a key lives in one
        bucket), so the window never crosses bucket boundaries.
        """
        deduped = rows.dropDuplicates([*self.keys, *self.order_by])
        w = W.partitionBy(*self.keys).orderBy(*self.order_by)
        lead_ts = F.lead(self.time_col).over(w)
        valid_to = F.when(
            F.col(self.op_col) == OP_DELETE, F.col(self.time_col)
        ).otherwise(lead_ts)
        return deduped.withColumn("valid_to_ms", valid_to.cast("long"))

    # -- streaming ---------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of flat change rows into the history."""
        drop_meta = [
            c for c in ("kafka_partition", "kafka_offset") if c in batch_df.columns
        ]
        batch_df, touched, prior = self.store.touched(batch_df.drop(*drop_meta))
        if not touched:
            return
        if prior is not None:
            batch_df = prior.drop("valid_to_ms").unionByName(
                batch_df, allowMissingColumns=True
            )
        self.store.write(self._recompute(batch_df))

    # -- serving reads -----------------------------------------------------

    def history(self) -> DataFrame | None:
        """All versions with [valid_from, valid_to) timestamps; open
        ``valid_to`` = current. Delete markers are excluded (their effect
        lives in the predecessor's valid_to)."""
        state = self.store.read()
        if state is None:
            return None
        return (
            state.filter(F.col(self.op_col) != OP_DELETE)
            .withColumn("valid_from", F.timestamp_millis(F.col(self.time_col)))
            .withColumn("valid_to", F.timestamp_millis(F.col("valid_to_ms")))
            .withColumn("is_current", F.col("valid_to_ms").isNull())
            .drop("bucket")
        )

    def as_of(self, ts_ms: int) -> DataFrame | None:
        """Point-in-time read: each key's version valid at ``ts_ms``."""
        state = self.store.read()
        if state is None:
            return None
        return (
            state.filter(F.col(self.op_col) != OP_DELETE)
            .filter(
                (F.col(self.time_col) <= F.lit(ts_ms))
                & (
                    F.col("valid_to_ms").isNull()
                    | (F.col("valid_to_ms") > F.lit(ts_ms))
                )
            )
            .drop("bucket")
        )

    def current(self) -> DataFrame | None:
        """Open versions only — equivalent to the upsert sink's state."""
        state = self.store.read()
        if state is None:
            return None
        return (
            state.filter(
                (F.col(self.op_col) != OP_DELETE) & F.col("valid_to_ms").isNull()
            )
            .drop("bucket")
        )

    def enrich_as_of(
        self,
        facts: DataFrame,
        fact_key: str,
        fact_time_ms: str,
        payload: Sequence[str] | None = None,
        how: str = "left",
    ) -> DataFrame:
        """Temporal table join (Flink's FOR SYSTEM_TIME AS OF): each fact
        row joins the dimension version that was valid AT ITS OWN event
        time — the standard CDC-warehouse enrichment (order × customer
        address as of order time), served straight from the history table.

        Plan shape: an equi-join on the key with the interval containment
        as residual — ONE hash shuffle of facts and history on the key;
        per key the matching version is unique (intervals partition the
        timeline), so no dedup pass is needed. Facts earlier than the
        key's first version (or inside a deleted gap) stay unmatched under
        ``how='left'``.
        """
        state = self.store.read()
        if state is None:
            raise ValueError("no history state to enrich against")
        dim = state.filter(F.col(self.op_col) != OP_DELETE)
        if payload is not None:
            dim = dim.select(*self.keys, self.time_col, "valid_to_ms", *payload)
        # Disambiguate: prefix every dimension column except the join key.
        renames = {
            c: f"dim_{c}"
            for c in dim.columns
            if c not in self.keys and c not in (self.time_col, "valid_to_ms")
        }
        for old, new in renames.items():
            dim = dim.withColumnRenamed(old, new)
        key_eq = [facts[fact_key] == dim[k] for k in self.keys]
        in_interval = (dim[self.time_col] <= facts[fact_time_ms]) & (
            dim["valid_to_ms"].isNull()
            | (dim["valid_to_ms"] > facts[fact_time_ms])
        )
        cond = key_eq[0]
        for c in key_eq[1:]:
            cond = cond & c
        joined = facts.join(dim, cond & in_interval, how)
        return joined.drop(*self.keys, self.time_col, "valid_to_ms")

    def attach_enrichment(
        self,
        facts: DataFrame,
        out_dir: str,
        checkpoint_dir: str,
        fact_key: str,
        fact_time_ms: str,
        payload: Sequence[str] | None = None,
        **trigger_kwargs,
    ) -> StreamingQuery:
        """Continuous temporal enrichment: each fact micro-batch joins the
        dimension version valid at its own event time and appends to
        ``out_dir``.

        Semantics are processing-time-snapshot (the industry default for
        streaming temporal joins): a batch enriches against the history AS
        KNOWN when the batch processes — a dimension change that arrives
        later does not retro-update already-emitted facts. When the fact
        stream lags the dimension stream by less than the dimension's
        delivery delay, re-run the batch derivation (`cdc_scd2_history` ⋈
        facts) over the affected window to heal — the same
        lateness-vs-latency trade every streaming temporal join makes.

        Append output is replay-tolerant downstream: re-emitted batches
        carry identical rows (the join is deterministic given state), so
        readers dedup on (fact id) if the sink crashed between write and
        checkpoint commit.
        """

        def _enrich(batch_df: DataFrame, batch_id: int) -> None:
            if not self.store.exists():
                enriched = batch_df  # dimension empty: pass facts through
            else:
                enriched = self.enrich_as_of(
                    batch_df, fact_key, fact_time_ms, payload=payload
                )
            enriched.write.mode("append").parquet(out_dir)

        return start_foreach_batch(
            facts, _enrich, checkpoint_dir, **trigger_kwargs
        )

    # -- retention ---------------------------------------------------------

    def compact(self, closed_before_ms: int) -> None:
        """Drop versions (and delete markers) closed before the horizon.

        ``closed_before_ms`` must lag the source replay window: a replayed
        change older than the horizon would re-derive against a truncated
        chain (the documented contract shared with upsert-sink tombstone
        compaction). Because ``valid_to_ms`` is monotone per key, the drop
        is a per-key chain prefix and surviving intervals recompute
        identically afterwards.
        """
        self.store.rewrite(
            F.col("valid_to_ms").isNull()
            | (F.col("valid_to_ms") >= F.lit(closed_before_ms))
        )
