"""Avro decode for CDC message values — both framings the reference uses.

The reference decodes Kafka values two ways:
- registry-framed (Confluent wire format: 0x00 magic + 4-byte big-endian
  schema id + Avro body) via ``AvroDeserializer`` (reference main.py:21-22,49);
- raw Avro body with a static file schema via ``DatumReader``
  (reference read_from_kafka.py:8-17) — that path silently mis-decodes
  registry-framed messages, so framing is an explicit parameter here.

Engine mapping (SURVEY.md §2.1 S4/S5): when the ``spark-avro`` JAR is on the
classpath, decode stays fully JVM-side —
``from_avro(expr("substring(value, 6, ...)"), schema_json)``. This container
has no spark-avro, so the default path is an Arrow-batched ``mapInPandas``
decoder over a minimal pure-Python Avro binary codec (zigzag varints,
strings, unions — the subset the users schema needs). Batched via Arrow, it
decodes ~10⁵ rows per batch without per-row Python overhead; on a real
cluster you would ship spark-avro and take the JVM path (the API here is
identical either way).

Debezium logical types (SURVEY.md §1.2): ``io.debezium.time.MicroTimestamp``
(µs-since-epoch long) maps to TimestampType via ``timestamp_micros``.
"""

from __future__ import annotations

import io
import struct
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONFLUENT_HEADER_LEN = 5
CONFLUENT_MAGIC = 0

# ---------------------------------------------------------------------------
# Pure-Python Avro binary codec (subset: int/long/string/union[long,null])
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(buf: io.BytesIO, n: int) -> None:
    n = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return _zigzag_decode(acc)


def _write_string(buf: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    _write_varint(buf, len(raw))
    buf.write(raw)


def _read_string(buf: io.BytesIO) -> str:
    n = _read_varint(buf)
    if n < 0:
        raise ValueError(f"negative string length: {n}")
    return buf.read(n).decode("utf-8")


def encode_user_record(
    id: int, username: str, email: str, created_at_us: int | None
) -> bytes:
    """Avro-binary encode one `users` row per the reference value schema
    (reference schema.avsc:1-31: int, string, string,
    union[long MicroTimestamp, null])."""
    buf = io.BytesIO()
    _write_varint(buf, id)
    _write_string(buf, username)
    _write_string(buf, email)
    if created_at_us is None:
        _write_varint(buf, 1)  # union branch 1: null
    else:
        _write_varint(buf, 0)  # union branch 0: long
        _write_varint(buf, created_at_us)
    return buf.getvalue()


def decode_user_record(payload: bytes) -> dict:
    buf = io.BytesIO(payload)
    rec = {
        "id": _read_varint(buf),
        "username": _read_string(buf),
        "email": _read_string(buf),
    }
    branch = _read_varint(buf)
    rec["created_at_us"] = _read_varint(buf) if branch == 0 else None
    return rec


# ---------------------------------------------------------------------------
# Confluent wire format
# ---------------------------------------------------------------------------


def frame_confluent(payload: bytes, schema_id: int) -> bytes:
    """Wrap an Avro body in the Confluent wire format."""
    return struct.pack(">bI", CONFLUENT_MAGIC, schema_id) + payload


def _as_col(value: Column | str) -> Column:
    return F.col(value) if isinstance(value, str) else value


def strip_confluent_header(value: Column | str = "value") -> Column:
    """Drop the 5-byte Confluent header, keeping the Avro body.

    Column-level (JVM substring) over the *passed* column (a name or any
    Column expression) — this is the piece the reference's static path
    forgets (read_from_kafka.py:12-17 would feed the header bytes to the
    Avro decoder and mis-decode).
    """
    v = _as_col(value)
    return F.substring(
        v, F.lit(CONFLUENT_HEADER_LEN + 1), F.length(v) - F.lit(CONFLUENT_HEADER_LEN)
    )


def confluent_schema_id(value: Column | str = "value") -> Column:
    """Extract the big-endian schema id from bytes 2-5 of the framed value."""
    v = _as_col(value)
    return (
        F.conv(F.hex(F.substring(v, F.lit(2), F.lit(4))), 16, 10)
        .cast("long")
        .cast("int")
        .alias("schema_id")
    )


def is_confluent_framed(value: Column | str = "value") -> Column:
    """Magic-byte check: first byte == 0x00."""
    return F.substring(_as_col(value), F.lit(1), F.lit(1)) == F.lit(
        bytes([CONFLUENT_MAGIC])
    )


def decode_hex_key(key: Column) -> Column:
    """Hex-string message key → utf-8 (S6): the reference installs
    ``binascii.unhexlify(v).decode('utf-8')`` as the consumer's key
    deserializer (reference main1.py:13). JVM-side equivalent:
    ``decode(unhex(key), 'UTF-8')``."""
    return F.decode(F.unhex(key), "UTF-8")


# ---------------------------------------------------------------------------
# Schema-driven decode (D5): the decoder is *built from* an Avro JSON schema,
# so a registry-fetched evolved schema changes the output columns without
# code changes (reference resolves writer schemas per message, main.py:22;
# Spark resolves once per (re)start, SURVEY.md §4).
# ---------------------------------------------------------------------------

import json as _json

_PRIMITIVE_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
}
_PRIMITIVE_PANDAS = {
    "int": "Int32",
    "long": "Int64",
    "string": "object",
    "boolean": "boolean",
    "float": "Float32",
    "double": "Float64",
    "bytes": "object",
}


def _resolve_type(avro_type):
    """Unwrap ``{'type': X, ...}`` annotation layers (Debezium's
    ``connect.name`` etc. ride on these). A ``logicalType`` annotation is
    rejected: honoring it (decimal/date/timestamp mapping) is what the JVM
    ``from_avro`` path does, and silently returning the raw primitive here
    would make engine='auto' output depend on JAR presence."""
    while isinstance(avro_type, dict):
        if "logicalType" in avro_type:
            raise ValueError(
                f"Avro logicalType {avro_type['logicalType']!r} requires the "
                "JVM from_avro path (ship the spark-avro JAR and use "
                "engine='jvm'); the Python codec decodes raw primitives only"
            )
        avro_type = avro_type["type"]
    return avro_type


def _union_branches(avro_type) -> list | None:
    """The union branch list for a field type (through any dict wrapping),
    or None if the type is not a union."""
    t = _resolve_type(avro_type)
    return t if isinstance(t, list) else None


def _field_type(avro_type) -> tuple[str, bool]:
    """(primitive_name, nullable) for a field type that is a primitive, a
    {'type': prim} annotation dict, or a union of one primitive with
    'null' — in any dict-wrapped spelling."""
    t = _resolve_type(avro_type)
    if isinstance(t, list):
        branches = [b for b in t if _resolve_type(b) != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported union {avro_type!r}")
        prim, _ = _field_type(branches[0])
        return prim, True
    if t not in _PRIMITIVE_SPARK:
        raise ValueError(f"unsupported Avro type {avro_type!r}")
    return t, False


def _read_primitive(buf: io.BytesIO, prim: str):
    # Range checks matter for the dead-letter contract: a corrupt body can
    # decode "successfully" into e.g. a 2^40 'int', which would then blow up
    # the *columnar* Int32 conversion outside the per-row try/except and
    # kill the whole task instead of null-routing one row.
    if prim == "int":
        v = _read_varint(buf)
        if not -(2**31) <= v < 2**31:
            raise ValueError(f"int out of range: {v}")
        return v
    if prim == "long":
        v = _read_varint(buf)
        if not -(2**63) <= v < 2**63:
            raise ValueError(f"long out of range: {v}")
        return v
    if prim == "string":
        return _read_string(buf)
    if prim == "boolean":
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated boolean")
        return byte[0] == 1
    if prim == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if prim == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if prim == "bytes":
        n = _read_varint(buf)
        if n < 0:
            raise ValueError(f"negative bytes length: {n}")
        return buf.read(n)
    raise ValueError(prim)


def _write_primitive(buf: io.BytesIO, prim: str, v) -> None:
    if prim in ("int", "long"):
        _write_varint(buf, v)
    elif prim == "string":
        _write_string(buf, v)
    elif prim == "boolean":
        buf.write(bytes([1 if v else 0]))
    elif prim == "float":
        buf.write(struct.pack("<f", v))
    elif prim == "double":
        buf.write(struct.pack("<d", v))
    elif prim == "bytes":
        _write_varint(buf, len(v))
        buf.write(v)
    else:
        raise ValueError(prim)


def encode_record(schema_json: str, rec: dict) -> bytes:
    """Avro-binary encode one record per ``schema_json`` (test/fixture side
    of :func:`build_decoder`; None picks the union's null branch)."""
    schema = _json.loads(schema_json)
    buf = io.BytesIO()
    for f in schema["fields"]:
        ftype, v = f["type"], rec[f["name"]]
        branches = _union_branches(ftype)
        if branches is not None:
            if v is None:
                _write_varint(
                    buf,
                    next(i for i, b in enumerate(branches) if _resolve_type(b) == "null"),
                )
            else:
                idx, branch = next(
                    (i, b) for i, b in enumerate(branches) if _resolve_type(b) != "null"
                )
                _write_varint(buf, idx)
                _write_primitive(buf, _field_type(branch)[0], v)
        elif v is None:
            raise ValueError(f"field {f['name']} is non-nullable")
        else:
            _write_primitive(buf, _field_type(ftype)[0], v)
    return buf.getvalue()


def build_decoder(schema_json: str):
    """Compile an Avro record schema to ``(decode_fn, spark_schema, prims)``.

    ``decode_fn(payload: bytes) -> dict`` reads the binary body in field
    order; ``prims`` is the per-field primitive name (same order as the
    schema fields — the single source for dtype mapping downstream). Union
    branch order follows the writer schema (a union's branch index is
    written as a zigzag varint before the value). Supports the primitive
    subset a Debezium flat value schema uses; nested records and
    logicalTypes take the JVM ``from_avro`` path on a real cluster.
    """
    schema = _json.loads(schema_json)
    if schema.get("type") != "record":
        raise ValueError("build_decoder expects a record schema")
    fields: list[tuple[str, object]] = [
        (f["name"], f["type"]) for f in schema["fields"]
    ]
    spark_fields = []
    prims: list[str] = []
    for name, ftype in fields:
        prim, _nullable = _field_type(ftype)
        prims.append(prim)
        spark_fields.append(T.StructField(name, _PRIMITIVE_SPARK[prim], True))

    def decode(payload: bytes) -> dict:
        buf = io.BytesIO(payload)
        rec: dict = {}
        for name, ftype in fields:
            branches = _union_branches(ftype)
            if branches is not None:  # union: branch index first
                idx = _read_varint(buf)
                if not 0 <= idx < len(branches):
                    raise ValueError(f"union branch index {idx} out of range")
                branch = branches[idx]
                if _resolve_type(branch) == "null":
                    rec[name] = None
                    continue
                prim, _ = _field_type(branch)
                rec[name] = _read_primitive(buf, prim)
            else:
                prim, _ = _field_type(ftype)
                rec[name] = _read_primitive(buf, prim)
        return rec

    return decode, T.StructType(spark_fields), prims


# The reference `users` value schema (reference schema.avsc): int id,
# string username, string email, union[long MicroTimestamp, null]
# created_at. Field named created_at_us here because the raw long is
# µs-since-epoch; the TimestampType view is derived below.
USERS_AVRO_SCHEMA_JSON = _json.dumps(
    {
        "type": "record",
        "name": "users",
        "namespace": "cdc.public",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "username", "type": "string"},
            {"name": "email", "type": "string"},
            {
                "name": "created_at_us",
                "type": [
                    {"type": "long", "connect.name": "io.debezium.time.MicroTimestamp"},
                    "null",
                ],
            },
        ],
    }
)


def jvm_avro_available(spark=None) -> bool:
    """True when the spark-avro module is loaded in the active session.

    Spark 4 registers ``from_avro`` unconditionally and raises
    AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE at *analysis* time when the
    external module is absent — so the probe analyzes (but never runs) a
    one-row plan. The answer is immutable for a running session (the JAR
    cannot appear or vanish mid-session), so it is cached in the session's
    state.
    """
    from pyspark.sql import SparkSession

    from ..session import state

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return False
    st = state(spark)
    if "jvm_avro" not in st:
        try:
            from pyspark.sql.avro.functions import from_avro

            probe = spark.range(1).select(
                from_avro(F.lit(b"").cast("binary"), '"bytes"').alias("_probe")
            )
            probe.schema  # forces analysis
            st["jvm_avro"] = True
        except Exception:
            st["jvm_avro"] = False
    return st["jvm_avro"]


def _framed_body(framing: str) -> Column:
    if framing == "confluent":
        return strip_confluent_header("value")
    if framing == "raw":
        return F.col("value")
    if framing == "auto":
        return F.when(
            is_confluent_framed("value"), strip_confluent_header("value")
        ).otherwise(F.col("value"))
    raise ValueError(f"framing must be 'confluent', 'raw' or 'auto', got {framing!r}")


def decode_avro(
    df: DataFrame,
    schema_json: str,
    framing: str = "confluent",
    engine: str = "auto",
) -> DataFrame:
    """Decode a binary ``value`` column of Avro rows per ``schema_json``.

    framing='confluent' strips the 5-byte header (EP1 semantics);
    framing='raw' decodes the bare body (EP3 semantics); framing='auto'
    strips only rows whose magic byte says they are framed — for topics
    with mixed producers. 'auto' is heuristic: a raw Avro body CAN begin
    with 0x00 (any record whose first field zigzag-encodes to 0), so pin
    the framing explicitly when the producer is known — mis-framed decode
    yields plausible garbage, not an error (the reference's EP3 bug).
    Corrupt records yield null columns (PERMISSIVE, SURVEY §2.2 F3) so
    callers can split good rows from a dead-letter branch with
    ``filter(col('id').isNull())``.

    engine='jvm' decodes fully JVM-side via spark-avro's ``from_avro``
    (PERMISSIVE mode) — the production path, zero Python in the stream;
    raises RuntimeError when the JAR is absent. engine='python' uses the
    Arrow-batched pure-Python codec (always available). engine='auto'
    prefers the JVM path and falls back.
    """
    if engine not in ("auto", "jvm", "python"):
        raise ValueError(f"engine must be 'auto', 'jvm' or 'python', got {engine!r}")
    src = df.withColumn("_avro_body", _framed_body(framing))
    in_fields = [c for c in src.schema.fieldNames() if c != "_avro_body"]

    # A decoded field that shadows an input column would silently clobber it
    # in the Python path (and leave an ambiguous duplicate name in the JVM
    # path) — the Arrow schema/column-count mismatch that results is
    # incomprehensible at the point it surfaces, so fail at the API edge.
    decoded_names = [f["name"] for f in _json.loads(schema_json).get("fields", [])]
    clash = sorted(set(in_fields) & set(decoded_names))
    if clash:
        raise ValueError(
            f"decoded Avro field(s) {clash} collide with existing column(s); "
            "drop or rename the input columns before decode_avro"
        )

    if engine in ("auto", "jvm"):
        if jvm_avro_available(df.sparkSession):
            from pyspark.sql.avro.functions import from_avro

            rec = from_avro(F.col("_avro_body"), schema_json, {"mode": "PERMISSIVE"})
            return src.withColumn("_rec", rec).select(*in_fields, "_rec.*")
        if engine == "jvm":
            raise RuntimeError(
                "engine='jvm' requires the spark-avro package on the classpath "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>); "
                "use engine='auto' to fall back to the Python codec"
            )

    decode, decoded_schema, prims = build_decoder(schema_json)
    out_names = [f.name for f in decoded_schema.fields]
    out_dtypes = {
        f.name: _PRIMITIVE_PANDAS[prim]
        for f, prim in zip(decoded_schema.fields, prims)
    }
    out_schema = T.StructType(
        [f for f in src.schema.fields if f.name != "_avro_body"]
        + list(decoded_schema.fields)
    )

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {c: pdf[c] for c in in_fields}
            cols: dict[str, list] = {n: [] for n in out_names}
            for raw in pdf["_avro_body"]:
                try:
                    rec = decode(bytes(raw))
                except Exception:
                    rec = {n: None for n in out_names}
                for n in out_names:
                    cols[n].append(rec[n])
            for n in out_names:
                dt = out_dtypes[n]
                out[n] = (
                    pd.Series(cols[n], dtype="object")
                    if dt == "object"
                    else pd.array(cols[n], dtype=dt)
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(decode_batches, schema=out_schema)


def decode_users(
    df: DataFrame, framing: str = "confluent", engine: str = "auto"
) -> DataFrame:
    """Decode Avro-encoded `users` CDC values (see :func:`decode_avro`).

    Returns original columns plus the decoded 4 + ``created_at`` mapped from
    Debezium MicroTimestamp µs to TimestampType.
    """
    decoded = decode_avro(df, USERS_AVRO_SCHEMA_JSON, framing=framing, engine=engine)
    return decoded.withColumn("created_at", F.timestamp_micros(F.col("created_at_us")))


def decode_from_registry(
    df: DataFrame,
    registry,
    subject: str = "pg.public.users-value",
    framing: str = "confluent",
    engine: str = "auto",
) -> tuple[DataFrame, int]:
    """D5 end-to-end: fetch the subject's latest schema from the registry,
    build the decoder from it, decode. Returns ``(decoded_df, schema_id)``.

    Evolution contract (SURVEY.md §4): when the registry publishes a new
    version (e.g. a new nullable column), restart the stream — this call
    then compiles the new decoder and the output gains the column; the
    upsert sink null-extends old state through the schema its state
    records (streaming/buckets.py). The reference instead resolves writer
    schemas per message (main.py:22) — per-plan resolution is the Spark
    idiom because the decode expression is fixed at plan time.
    """
    schema_id, schema_json = registry.latest_schema(subject)
    return decode_avro(df, schema_json, framing=framing, engine=engine), schema_id
