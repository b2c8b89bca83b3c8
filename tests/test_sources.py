"""Source plumbing tests: schema-registry HTTP client (against a local
stub server) and Kafka option building (broker-less)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.sources.kafka import (
    batch_options,
    bounded_offsets,
    stream_options,
)
from python_cdc_postgres_to_clickhouse_spark.sources.registry_client import SchemaRegistryClient

USERS_SCHEMA = {"type": "record", "name": "users", "fields": [{"name": "id", "type": "int"}]}


class _StubRegistry(BaseHTTPRequestHandler):
    hits: list[str] = []
    current_id: int = 7
    current_schema: dict = USERS_SCHEMA

    def do_GET(self):
        _StubRegistry.hits.append(self.path)
        if self.path == "/subjects/pg.public.users-value/versions/latest":
            body = {
                "id": _StubRegistry.current_id,
                "version": 3,
                "schema": json.dumps(_StubRegistry.current_schema),
            }
        elif self.path.startswith("/schemas/ids/"):
            body = {"schema": json.dumps(USERS_SCHEMA)}
        else:
            self.send_response(404)
            self.end_headers()
            return
        raw = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/vnd.schemaregistry.v1+json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def log_message(self, *a):
        pass


@pytest.fixture()
def registry_url():
    server = HTTPServer(("127.0.0.1", 0), _StubRegistry)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_latest_schema(registry_url):
    client = SchemaRegistryClient(registry_url)
    sid, schema = client.latest_schema("pg.public.users-value")
    assert sid == 7
    assert json.loads(schema)["name"] == "users"


def test_schema_by_id_cached(registry_url):
    client = SchemaRegistryClient(registry_url)
    _StubRegistry.hits.clear()
    a = client.schema_by_id(7)
    b = client.schema_by_id(7)
    assert a == b
    assert len([h for h in _StubRegistry.hits if h.startswith("/schemas/ids/")]) == 1


def test_bounded_offsets_json():
    start, end = bounded_offsets("pg.public.users", 0, 0, 5)
    assert json.loads(start) == {"pg.public.users": {"0": 0}}
    assert json.loads(end) == {"pg.public.users": {"0": 5}}


def test_batch_options_bounded_replay():
    opts = batch_options("localhost:9092", "pg.public.users", 0, 0, 5)
    assert opts["kafka.isolation.level"] == "read_committed"  # main1.py:12
    assert json.loads(opts["startingOffsets"]) == {"pg.public.users": {"0": 0}}
    assert json.loads(opts["endingOffsets"]) == {"pg.public.users": {"0": 5}}


def test_stream_options_subscribe_and_pattern():
    sub = stream_options("localhost:9092", topics="pg.public.users")
    assert sub["subscribe"] == "pg.public.users"
    assert sub["startingOffsets"] == "earliest"  # main.py:15
    pat = stream_options("localhost:9092", subscribe_pattern=r"pg\.public\..*",
                         min_partitions=32)
    assert pat["subscribePattern"] == r"pg\.public\..*"
    assert pat["minPartitions"] == "32"
    with pytest.raises(ValueError):
        stream_options("localhost:9092")
    with pytest.raises(ValueError):
        stream_options("localhost:9092", topics="t", subscribe_pattern="p")


def test_registry_driven_decode_end_to_end(spark, registry_url):
    """D5 in one flow: fetch latest schema by subject -> compile decoder ->
    decode framed bytes -> registry publishes an evolved schema -> a stream
    restart re-fetches and the output gains the new nullable column, with
    old rows null-extended (reference resolves per message, main.py:22;
    Spark resolves per (re)start)."""
    from pyspark.sql import types as T

    from python_cdc_postgres_to_clickhouse_spark.sources.avro import (
        decode_from_registry,
        encode_record,
        frame_confluent,
    )

    client = SchemaRegistryClient(registry_url)

    def _df(payloads):
        schema = T.StructType([T.StructField("value", T.BinaryType())])
        return spark.createDataFrame([(bytearray(p),) for p in payloads], schema)

    v1 = json.dumps(USERS_SCHEMA)
    v1_batch = _df([frame_confluent(encode_record(v1, {"id": i}), 7) for i in (1, 2)])
    out1, sid1 = decode_from_registry(v1_batch, client, "pg.public.users-value")
    assert sid1 == 7
    assert sorted(r["id"] for r in out1.collect()) == [1, 2]

    v2_schema = {
        "type": "record",
        "name": "users",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "email", "type": ["null", "string"]},
        ],
    }
    try:
        _StubRegistry.current_id, _StubRegistry.current_schema = 8, v2_schema
        v2 = json.dumps(v2_schema)
        v2_batch = _df(
            [frame_confluent(encode_record(v2, {"id": 3, "email": "c@x"}), 8)]
        )
        out2, sid2 = decode_from_registry(v2_batch, client, "pg.public.users-value")
        assert sid2 == 8
        assert "email" in out2.columns
        assert out2.first()["email"] == "c@x"
        # Old-state null-extension: the v1 output unioned into the evolved
        # shape (what the upsert sink's recorded schema does to old files).
        merged = out1.withColumn("email", F.lit(None).cast("string")).unionByName(out2)
        rows = {r["id"]: r["email"] for r in merged.collect()}
        assert rows == {1: None, 2: None, 3: "c@x"}
    finally:
        _StubRegistry.current_id, _StubRegistry.current_schema = 7, USERS_SCHEMA
