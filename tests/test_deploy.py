"""plan_deployment: a whole CH ingestion script bound into stream specs."""

from __future__ import annotations

import pytest

from python_cdc_postgres_to_clickhouse_spark.deploy import (
    apply_batch,
    plan_deployment,
    split_statements,
)
from python_cdc_postgres_to_clickhouse_spark.dialect import DialectError

SCRIPT = """
-- the queue: Debezium topic, registry-framed Avro
CREATE TABLE users_queue (
    id UInt64,
    name String,
    balance Float64
) ENGINE = Kafka('broker:9092', 'pg.public.users', 'cdc', 'AvroConfluent');

CREATE TABLE users_current (
    id UInt64,
    name String,
    balance_cents Int64
) ENGINE = ReplacingMergeTree ORDER BY id;

CREATE MATERIALIZED VIEW users_mv TO users_current AS
SELECT id, upper(name) AS name,
       toInt64(round(balance * 100)) AS balance_cents
FROM users_queue PREWHERE balance >= 0;

CREATE DICTIONARY user_labels (
    id UInt64, label String
) PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 'dim_labels')) LAYOUT(FLAT())
LIFETIME(300);
"""


def test_split_statements_respects_quotes_and_comments():
    stmts = split_statements(
        "CREATE TABLE a (s String DEFAULT 'x;y');\n-- note; with semicolon\n"
        "CREATE TABLE b (k UInt64) ENGINE = MergeTree ORDER BY k"
    )
    assert len(stmts) == 2
    assert "x;y" in stmts[0] and stmts[1].startswith("CREATE TABLE b")


def test_deployment_binds_mv_to_kafka_queue():
    dep = plan_deployment(SCRIPT)
    assert set(dep.tables) == {"users_queue", "users_current"}
    assert [d.name for d in dep.dictionaries] == ["user_labels"]
    assert len(dep.bindings) == 1
    b = dep.bindings[0]
    assert b.source.table == "users_queue"
    assert b.dest is not None and b.dest.table == "users_current"
    assert b.framing == "confluent"
    opts = b.reader_options
    assert opts["subscribe"] == "pg.public.users"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert "ParquetUpsertSink" in b.sink_strategy
    # the dictionary is declared in the plan's Ddl and usable by dictGet
    from python_cdc_postgres_to_clickhouse_spark.dialect import translate

    assert "dim_labels" in translate(
        "SELECT dictGet('user_labels', 'label', id) FROM t", dep.ddl
    )


def test_apply_batch_runs_translated_mv_body(spark):
    dep = plan_deployment(SCRIPT)
    b = dep.bindings[0]
    queue = spark.createDataFrame(
        [(1, "ann", 1.25), (2, "bob", -5.0), (3, "cid", 2.0)],
        "id bigint, name string, balance double",
    )
    rows = {r["id"]: (r["name"], r["balance_cents"])
            for r in apply_batch(spark, b, queue).collect()}
    # PREWHERE filtered the negative balance; CH functions translated
    assert rows == {1: ("ANN", 125), 3: ("CID", 200)}
    spark.catalog.dropTempView("users_queue")


def test_unknown_statement_is_loud():
    with pytest.raises(DialectError, match="unsupported statement"):
        plan_deployment("DROP TABLE x")


def test_start_binding_drains_a_stream_through_the_mv(spark, tmp_path):
    """End-to-end MV maintenance over a (stand-in) stream: the translated
    SELECT runs per micro-batch and lands in the target path."""
    dep = plan_deployment(SCRIPT)
    b = dep.bindings[0]
    src = tmp_path / "queue_stream"
    src.mkdir()
    spark.createDataFrame(
        [(1, "ann", 1.25), (2, "bob", -5.0)],
        "id bigint, name string, balance double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b0.parquet"))
    spark.createDataFrame(
        [(3, "cid", 2.0)], "id bigint, name string, balance double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1.parquet"))

    from python_cdc_postgres_to_clickhouse_spark.deploy import start_binding

    stream = (
        spark.readStream.schema("id bigint, name string, balance double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    q = start_binding(
        spark, b, stream, str(tmp_path / "dest"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    rows = {
        r["id"]: (r["name"], r["balance_cents"])
        for r in spark.read.parquet(str(tmp_path / "dest")).collect()
    }
    assert rows == {1: ("ANN", 125), 3: ("CID", 200)}
    spark.catalog.dropTempView("users_queue")


def test_mv_body_with_dictget_enriches_through_apply_batch(spark):
    """The full CH idiom in one script: the MV's SELECT enriches the queue
    through a dictionary — dictGet inside the MV body translates to the
    broadcast scalar-subquery and resolves against the registered view at
    trigger time."""
    script = SCRIPT + """
;CREATE MATERIALIZED VIEW users_labeled_mv TO users_current AS
SELECT id, dictGetOrDefault('user_labels', 'label', id, 'none') AS label
FROM users_queue
"""
    spark.createDataFrame(
        [(1, "vip")], "id bigint, label string"
    ).createOrReplaceTempView("dim_labels")
    dep = plan_deployment(script)
    try:
        labeled = [b for b in dep.bindings
                   if b.mv.view == "users_labeled_mv"][0]
        queue = spark.createDataFrame(
            [(1, "ann", 1.0), (2, "bob", 2.0)],
            "id bigint, name string, balance double",
        )
        rows = {r["id"]: r["label"]
                for r in apply_batch(spark, labeled, queue).collect()}
        assert rows == {1: "vip", 2: "none"}
    finally:
        spark.catalog.dropTempView("dim_labels")
        spark.catalog.dropTempView("users_queue")


DB_SCRIPT = """
CREATE TABLE cdc.users_queue (
    id UInt64,
    name String,
    balance Float64
) ENGINE = Kafka('broker:9092', 'pg.public.users', 'cdc', 'AvroConfluent');

CREATE TABLE cdc.users_current (
    id UInt64,
    name String,
    balance_cents Int64
) ENGINE = ReplacingMergeTree ORDER BY id;

CREATE MATERIALIZED VIEW cdc.users_mv TO cdc.users_current AS
SELECT id, upper(name) AS name,
       toInt64(round(balance * 100)) AS balance_cents
FROM cdc.users_queue WHERE balance >= 0;
"""


def test_db_qualified_script_binds_and_rebases_queue_reference():
    """`FROM db.queue` must be rewritten to the bare name the trigger
    registers as a temp view — otherwise the SELECT resolves a real
    catalog table (or nothing) instead of the micro-batch."""
    dep = plan_deployment(DB_SCRIPT)
    assert set(dep.tables) == {"users_queue", "users_current"}
    assert len(dep.bindings) == 1
    b = dep.bindings[0]
    assert "cdc.users_queue" not in b.mv.select_spark_sql
    assert "users_queue" in b.mv.select_spark_sql


def test_db_qualified_script_runs_through_apply_batch(spark):
    dep = plan_deployment(DB_SCRIPT)
    b = dep.bindings[0]
    queue = spark.createDataFrame(
        [(1, "ann", 1.25), (2, "bob", -5.0)],
        "id bigint, name string, balance double",
    )
    rows = {r["id"]: (r["name"], r["balance_cents"])
            for r in apply_batch(spark, b, queue).collect()}
    assert rows == {1: ("ANN", 125)}
    spark.catalog.dropTempView("users_queue")


def test_same_bare_name_from_two_databases_is_loud():
    script = """
CREATE TABLE a.q (k UInt64) ENGINE = MergeTree ORDER BY k;
CREATE TABLE b.q (k UInt64) ENGINE = MergeTree ORDER BY k;
"""
    with pytest.raises(DialectError, match="collide on bare name"):
        plan_deployment(script)


def test_dictionary_updates_are_visible_next_batch(spark):
    """Per-batch dictionary freshness (CH reloads on LIFETIME; the MV
    trigger re-reads the source every micro-batch — strictly fresher):
    a change to the dictionary's source table between triggers shows up
    in the very next batch."""
    script = SCRIPT + """
;CREATE MATERIALIZED VIEW users_labeled2_mv TO users_current AS
SELECT id, dictGetOrDefault('user_labels', 'label', id, 'none') AS label
FROM users_queue
"""
    spark.createDataFrame(
        [(1, "vip")], "id bigint, label string"
    ).createOrReplaceTempView("dim_labels")
    dep = plan_deployment(script)
    try:
        b = [x for x in dep.bindings if x.mv.view == "users_labeled2_mv"][0]
        queue = spark.createDataFrame(
            [(1, "ann", 1.0)], "id bigint, name string, balance double"
        )
        assert apply_batch(spark, b, queue).collect()[0]["label"] == "vip"
        # the dimension changes between micro-batches
        spark.createDataFrame(
            [(1, "banned")], "id bigint, label string"
        ).createOrReplaceTempView("dim_labels")
        assert apply_batch(spark, b, queue).collect()[0]["label"] == "banned"
    finally:
        spark.catalog.dropTempView("dim_labels")
        spark.catalog.dropTempView("users_queue")


def test_json_each_row_queue_decodes_and_drains_through_mv(spark):
    """ENGINE = Kafka(..., 'JSONEachRow') end to end: raw frames (several
    newline-separated JSON rows per message, plus a malformed line) decode
    against the queue table's OWN translated schema, dead letters split
    off, and the MV body runs over the decoded batch."""
    from python_cdc_postgres_to_clickhouse_spark.sources.jsonrows import (
        decode_json_each_row,
    )

    script = """
CREATE TABLE j_queue (
    id UInt64,
    name String,
    balance Float64
) ENGINE = Kafka('broker:9092', 'topic.j', 'g1', 'JSONEachRow');

CREATE MATERIALIZED VIEW j_mv AS
SELECT id, upper(name) AS name,
       toInt64(round(balance * 100)) AS balance_cents
FROM j_queue WHERE balance >= 0;
"""
    dep = plan_deployment(script)
    b = dep.bindings[0]
    assert b.framing == "jsoneachrow"
    frames = spark.createDataFrame(
        [
            ('{"id": 1, "name": "ann", "balance": 1.25}\n'
             '{"id": 2, "name": "bob", "balance": -5.0}',),
            ('{"id": 3, "name": "cid", "balance": 2.0}',),
            ("not json at all",),
        ],
        "value string",
    )
    rows, dead = decode_json_each_row(frames, b.source.columns)
    assert dead.collect()[0]["raw_line"] == "not json at all"
    out = {r["id"]: (r["name"], r["balance_cents"])
           for r in apply_batch(spark, b, rows).collect()}
    assert out == {1: ("ANN", 125), 3: ("CID", 200)}
    spark.catalog.dropTempView("j_queue")


def test_deployment_registers_sample_by_key(spark):
    from python_cdc_postgres_to_clickhouse_spark.dialect import translate

    script = """
CREATE TABLE hits2 (
    user_id UInt64, v Float64
) ENGINE = MergeTree ORDER BY user_id SAMPLE BY cityHash64(user_id);
"""
    dep = plan_deployment(script)
    out = translate("SELECT count() FROM hits2 SAMPLE 1/10 OFFSET 5/10", dep.ddl)
    assert "pmod" in out and "xxhash64(user_id)" in out


def test_json_each_row_streaming_leg(spark, tmp_path):
    """The full JSONEachRow path under Structured Streaming: raw frames
    arrive as a stream, decode_frames splits rows from dead letters with
    pure column expressions, and the MV trigger drains into the target —
    the broker is the only stand-in."""
    from python_cdc_postgres_to_clickhouse_spark.deploy import (
        decode_frames,
        start_binding,
    )

    script = """
CREATE TABLE js_queue (
    id UInt64, name String, balance Float64
) ENGINE = Kafka('b:9092', 't.js', 'g', 'JSONEachRow');

CREATE MATERIALIZED VIEW js_mv AS
SELECT id, upper(name) AS name,
       toInt64(round(balance * 100)) AS balance_cents
FROM js_queue WHERE balance >= 0;
"""
    dep = plan_deployment(script)
    b = dep.bindings[0]
    src = tmp_path / "frames"
    src.mkdir()
    spark.createDataFrame(
        [('{"id": 1, "name": "ann", "balance": 1.25}\n'
          '{"id": 2, "name": "bob", "balance": -5.0}',),
         ("garbage line",)],
        "value string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b0.parquet"))
    spark.createDataFrame(
        [('{"id": 3, "name": "cid", "balance": 2.0}',)], "value string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1.parquet"))

    frames = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    rows, _dead = decode_frames(b, frames)
    q = start_binding(
        spark, b, rows, str(tmp_path / "js_dest"), str(tmp_path / "js_ckpt")
    )
    assert q.awaitTermination(120)
    out = {
        r["id"]: (r["name"], r["balance_cents"])
        for r in spark.read.parquet(str(tmp_path / "js_dest")).collect()
    }
    assert out == {1: ("ANN", 125), 3: ("CID", 200)}
    spark.catalog.dropTempView("js_queue")


def test_decode_frames_avro_is_loud():
    dep = plan_deployment(SCRIPT)
    with pytest.raises(DialectError, match="sources/avro"):
        from python_cdc_postgres_to_clickhouse_spark.deploy import (
            decode_frames,
        )

        decode_frames(dep.bindings[0], None)


def test_insert_dedup_destination_routes_through_dedup_sink(spark, tmp_path):
    """A destination table with insert dedup enabled makes the MV trigger
    drop producer-resent identical blocks — end to end from the DDL
    SETTINGS through start_binding's sink choice."""
    script = """
CREATE TABLE dq (
    id UInt64, v Float64
) ENGINE = Kafka('b:9092', 't.d', 'g', 'JSONEachRow');

CREATE TABLE dedup_dest (
    id UInt64, cents Int64
) ENGINE = ReplicatedMergeTree ORDER BY id
SETTINGS replicated_deduplication_window = 10;

CREATE MATERIALIZED VIEW d_mv TO dedup_dest AS
SELECT id, toInt64(round(v * 100)) AS cents FROM dq;
"""
    dep = plan_deployment(script)
    b = dep.bindings[0]
    assert b.dest.insert_dedup and b.dest.dedup_window == 10

    from python_cdc_postgres_to_clickhouse_spark.deploy import start_binding

    src = tmp_path / "dq_frames"
    src.mkdir()
    batch = spark.createDataFrame([(1, 1.25), (2, 2.0)], "id bigint, v double")
    # the SAME block written twice: a producer resend under a new file
    batch.coalesce(1).write.mode("overwrite").parquet(str(src / "b0.parquet"))
    batch.coalesce(1).write.mode("overwrite").parquet(str(src / "b1.parquet"))
    stream = (
        spark.readStream.schema("id bigint, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    q = start_binding(
        spark, b, stream, str(tmp_path / "d_dest"), str(tmp_path / "d_ckpt")
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "d_dest"))
    assert out.count() == 2  # the resent block applied once
    assert {r["cents"] for r in out.collect()} == {125, 200}
    spark.catalog.dropTempView("dq")


AVRO_QUEUE_SCRIPT = """
CREATE TABLE u_queue (
    id Int32,
    username String,
    email String,
    created_at_us DateTime64(6)
) ENGINE = Kafka('b:9092', 'cdc.public.users', 'g', 'AvroConfluent');

CREATE MATERIALIZED VIEW u_mv AS
SELECT id, upper(username) AS username, email, created_at_us
FROM u_queue WHERE id > 0;
"""


def test_avro_queue_decodes_and_drains_through_mv(spark):
    """ENGINE = Kafka(..., 'AvroConfluent') end to end, broker-less — the
    reference's actual wire format (debezium.json:14-15 AvroConverter;
    schema.avsc is the writer schema): decode_frames strips the registry
    header, maps the µs-long onto the declared DateTime64 column via
    timestamp_micros, splits an undecodable frame to the dead-letter leg,
    and the MV body drains the decoded batch."""
    import datetime as dt

    from python_cdc_postgres_to_clickhouse_spark.deploy import decode_frames
    from python_cdc_postgres_to_clickhouse_spark.sources.avro import (
        USERS_AVRO_SCHEMA_JSON,
        encode_user_record,
        frame_confluent,
    )

    dep = plan_deployment(AVRO_QUEUE_SCRIPT)
    b = dep.bindings[0]
    assert b.framing == "confluent"
    payloads = [
        frame_confluent(
            encode_user_record(1, "ann", "a@x.io", 1_700_000_000_000_000),
            schema_id=7,
        ),
        frame_confluent(encode_user_record(-2, "neg", "n@x.io", None),
                        schema_id=7),
        b"\x00\x00\x00\x00\x07\x01",  # header + truncated body: EOF mid-read
    ]
    frames = spark.createDataFrame(
        [(bytearray(p),) for p in payloads], "value binary"
    )
    rows, dead = decode_frames(b, frames, schema_json=USERS_AVRO_SCHEMA_JSON)
    assert dead.count() == 1
    assert bytes(dead.collect()[0]["raw_frame"]) == payloads[2]
    decoded = {r["id"]: r for r in rows.collect()}
    assert set(decoded) == {1, -2}  # the MV predicate runs later
    assert decoded[1]["created_at_us"] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert decoded[-2]["created_at_us"] is None
    out = [r.asDict() for r in apply_batch(spark, b, rows).collect()]
    assert out == [{
        "id": 1, "username": "ANN", "email": "a@x.io",
        "created_at_us": dt.datetime(2023, 11, 14, 22, 13, 20),
    }]
    spark.catalog.dropTempView("u_queue")


def test_avro_queue_streaming_leg(spark, tmp_path):
    """The Avro path under Structured Streaming: binary frames arrive as a
    stream, decode_frames produces the typed rows, start_binding's MV
    trigger drains into the target — exactly the JSONEachRow streaming
    contract, on the reference's own wire format."""
    from python_cdc_postgres_to_clickhouse_spark.deploy import (
        decode_frames,
        start_binding,
    )
    from python_cdc_postgres_to_clickhouse_spark.sources.avro import (
        USERS_AVRO_SCHEMA_JSON,
        encode_user_record,
        frame_confluent,
    )

    dep = plan_deployment(AVRO_QUEUE_SCRIPT)
    b = dep.bindings[0]
    src = tmp_path / "avro_frames"
    src.mkdir()
    batch0 = [
        frame_confluent(
            encode_user_record(1, "ann", "a@x.io", 1_700_000_000_000_000),
            schema_id=7,
        ),
        b"\x00\x00\x00\x00\x07\x01",  # dead letter: must not stall the MV
    ]
    batch1 = [
        frame_confluent(encode_user_record(2, "bob", "b@x.io", None),
                        schema_id=7),
        frame_confluent(encode_user_record(-3, "neg", "n@x.io", None),
                        schema_id=7),
    ]
    for i, batch in enumerate([batch0, batch1]):
        spark.createDataFrame(
            [(bytearray(p),) for p in batch], "value binary"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
    frames = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    rows, _dead = decode_frames(b, frames, schema_json=USERS_AVRO_SCHEMA_JSON)
    q = start_binding(
        spark, b, rows, str(tmp_path / "u_dest"), str(tmp_path / "u_ckpt")
    )
    assert q.awaitTermination(120)
    out = {
        r["id"]: r["username"]
        for r in spark.read.parquet(str(tmp_path / "u_dest")).collect()
    }
    assert out == {1: "ANN", 2: "BOB"}
    spark.catalog.dropTempView("u_queue")


def test_avro_queue_missing_declared_column_is_loud(spark):
    from python_cdc_postgres_to_clickhouse_spark.deploy import decode_frames
    from python_cdc_postgres_to_clickhouse_spark.sources.avro import (
        USERS_AVRO_SCHEMA_JSON,
    )

    script = AVRO_QUEUE_SCRIPT.replace("email String", "emale String")
    dep = plan_deployment(script)
    frames = spark.createDataFrame([(bytearray(b"x"),)], "value binary")
    with pytest.raises(DialectError, match="emale"):
        decode_frames(dep.bindings[0], frames,
                      schema_json=USERS_AVRO_SCHEMA_JSON)
