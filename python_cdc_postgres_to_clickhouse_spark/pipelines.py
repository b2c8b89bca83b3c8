"""End-to-end pipeline compositions: the one-call replacements for the
reference's three consumer scripts plus the ClickHouse half it never built.

A user of the reference runs `python main.py` (print decoded users events
forever); a user of this engine calls ``users_cdc_pipeline`` and gets the
continuously-maintained current-state table — decode, dedup, upsert and
state management included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .sources.avro import decode_users
from .sources.cdc import unwrap, with_event_time
from .sources.kafka import stream_options, stream_reader
from .streaming.dedup import dedup_changes
from .streaming.parts import start_foreach_batch
from .streaming.upsert_sink import ParquetUpsertSink


def users_cdc_pipeline(
    spark: SparkSession,
    changes: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    dedup: bool = True,
) -> tuple[StreamingQuery, ParquetUpsertSink]:
    """Envelope change stream → current-state users table (EP1 + D1-D4 + S13
    in one call).

    ``changes`` is any streaming DataFrame with the Debezium envelope
    schema — the file-based stand-in in tests, the Kafka source in
    production (see ``kafka_users_changes``).
    """
    flat = with_event_time(unwrap(changes, keep_deletes=True))
    if dedup:
        flat = dedup_changes(flat)
    sink = ParquetUpsertSink(spark, state_dir, n_buckets=n_buckets)
    query = sink.attach(flat, checkpoint_dir=checkpoint_dir)
    return query, sink


def kafka_users_changes(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "pg.public.users",
) -> DataFrame:
    """Kafka → decoded users rows (the production head of the pipeline;
    requires the Kafka JAR + a broker, so tests drive the file stand-in
    instead). Value decode uses the registry framing like the reference's
    main consumer (main.py:21-22)."""
    raw = stream_reader(
        spark, **stream_options(bootstrap_servers, topics=topic)
    ).load()
    return decode_users(raw, framing="confluent")


def split_dead_letters(decoded: DataFrame, probe_col: str = "id") -> tuple[DataFrame, DataFrame]:
    """F2/F3: split PERMISSIVE decode output into (good, dead_letter)
    branches — corrupt records surface as nulls in the decoded columns, so
    a null probe column marks the dead letters. Route the second branch to
    a quarantine sink instead of dropping it silently."""
    from pyspark.sql import functions as F

    good = decoded.filter(F.col(probe_col).isNotNull())
    dead = decoded.filter(F.col(probe_col).isNull())
    return good, dead


def postgres_snapshot(
    spark: SparkSession,
    jdbc_url: str,
    table: str = "public.users",
    partition_column: str | None = "id",
    num_partitions: int = 16,
    lower_bound: int = 0,
    upper_bound: int = 1 << 31,
) -> DataFrame:
    """S7: the initial-snapshot head (`snapshot.mode: initial`,
    reference debezium.json:18) as a partitioned JDBC read — feed the
    result to ``operators.upsert.apply_changes`` as the D1 base. Untested
    here (no Postgres in the container); the option plumbing mirrors the
    Spark JDBC contract and the snapshot⊎changelog semantics are covered
    by the parquet-snapshot tests."""
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", table)
        .option("driver", "org.postgresql.Driver")
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def clickhouse_jdbc_options(
    host: str = "localhost",
    port: int = 8123,
    database: str = "default",
    table: str = "users",
    user: str = "default",
    password: str = "",
) -> dict[str, str]:
    """S13 escape hatch: JDBC writer options for a *real* ClickHouse
    destination (the server the reference provisions,
    docker-compose.yml:155-174, HTTP port 8123). The bucketed Parquet
    upsert sink remains the engine-native MergeTree equivalent; this path
    exists so a migrating user can keep their ClickHouse serving layer.

    Requires the ClickHouse JDBC driver JAR on the cluster classpath
    (`com.clickhouse:clickhouse-jdbc`), absent in this container — option
    plumbing is tested, the live write is not.
    """
    return {
        "url": f"jdbc:clickhouse://{host}:{port}/{database}",
        "dbtable": table,
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "user": user,
        "password": password,
        # Idempotent-ish replay: batched inserts into a ReplacingMergeTree
        # keyed on (id) with a version column let ClickHouse collapse the
        # re-sent rows a checkpoint replay produces.
        "batchsize": "100000",
        "isolationLevel": "NONE",
    }


def clickhouse_append_batch(options: dict[str, str]):
    """foreachBatch function appending each micro-batch via JDBC.

    Append-only inserts + a ReplacingMergeTree(version) target reproduce
    the upsert semantics server-side (latest version per key wins at merge
    time) — the same division of labor the reference intends: Kafka
    consumer writes, ClickHouse collapses (docker-compose.yml:155-174).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.format("jdbc")
            .options(**options)
            .mode("append")
            .save()
        )

    return write_batch


def clickhouse_jdbc_sink(
    changes: DataFrame,
    checkpoint_dir: str,
    options: dict[str, str] | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Attach a flattened change stream to a ClickHouse JDBC destination
    (micro-batch appends; exactly-once up to ClickHouse's replacing-merge
    semantics, at-least-once at the insert level). ``available_now=True``
    drains what exists and stops — backfill/catch-up mode."""
    opts = options or clickhouse_jdbc_options()
    trigger = {} if available_now else {"processingTime": "0 seconds"}
    return start_foreach_batch(
        changes, clickhouse_append_batch(opts), checkpoint_dir, **trigger
    )


def console_debug_sink(df: DataFrame, n_rows: int = 20) -> StreamingQuery:
    """S12: the reference's print-loop as a proper console sink."""
    return (
        df.writeStream.format("console")
        .option("numRows", str(n_rows))
        .option("truncate", "true")
        .start()
    )
