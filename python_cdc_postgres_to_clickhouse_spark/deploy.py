"""Port a whole ClickHouse DDL script as one bound deployment plan.

A reference-style ClickHouse ingestion setup is a SCRIPT, not one
statement: a Kafka-engine queue table, a MergeTree destination, a
MATERIALIZED VIEW draining the queue into it, dictionaries for enrichment
(reference docker-compose.yml:155-174 provisions exactly this shape; the
Python consumers in main.py play the MV's role by hand).
``plan_deployment()`` parses the script with the per-statement translators
(ddl.translate_ddl / translate_mv / translate_dictionary), declares the
dictionaries and SAMPLE BY keys in its own ``Deployment.ddl``, and BINDS
the pieces: every MV whose FROM table is a Kafka-engine table becomes a
``StreamBinding`` carrying the ready Spark reader options, the Avro
framing, the dialect-translated SELECT, and the destination's maintenance
strategy.

``apply_batch()`` is the MV trigger body as a pure function — register the
decoded micro-batch under the queue table's name, run the translated
SELECT — usable identically under ``foreachBatch`` against the real broker
or against a static frame in tests (the broker is env-bound; the plan and
the trigger body are not).

Scale: everything here is driver-side string work; the produced plan runs
the same partial-aggregated / broadcast-enriched shapes the per-statement
translators are plan-tested for.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .ddl import (
    DdlPlan,
    DictionaryPlan,
    MvPlan,
    translate_ddl,
    translate_dictionary,
    translate_mv,
)
from .dialect import Ddl, DialectError, _clause_end, _tokenize
from .streaming.parts import start_foreach_batch


def split_statements(script: str) -> list[str]:
    """Split a SQL script on semicolons outside string literals, quoted
    identifiers and comments; comments are dropped."""
    out: list[str] = []
    cur: list[str] = []
    i, n = 0, len(script)
    while i < n:
        ch = script[i]
        if ch in "'\"`":
            j = i + 1
            while j < n:
                if script[j] == ch and script[j - 1] != "\\":
                    break
                j += 1
            cur.append(script[i:j + 1])
            i = j + 1
            continue
        if script.startswith("--", i):
            j = script.find("\n", i)
            i = n if j < 0 else j
            continue
        if script.startswith("/*", i):
            j = script.find("*/", i + 2)
            cur.append(" ")
            i = n if j < 0 else j + 2
            continue
        if ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


@dataclass
class StreamBinding:
    """One MV draining a Kafka-engine queue into a destination table."""

    mv: MvPlan
    source: DdlPlan   # the Kafka-engine table (source.kafka is set)
    dest: DdlPlan | None = None  # the TO target's plan, when in the script

    @property
    def reader_options(self) -> dict[str, str]:
        return self.source.kafka.source_options()

    @property
    def framing(self) -> str | None:
        return self.source.kafka.framing

    @property
    def sink_strategy(self) -> str:
        """The MV's TO form names a target whose ENGINE lives on its own
        CREATE TABLE — when the script defines it, the destination's
        engine strategy (e.g. ReplacingMergeTree → ParquetUpsertSink)
        overrides the MV's engine-less default."""
        if self.dest is not None:
            return self.dest.strategy
        return self.mv.strategy


@dataclass
class Deployment:
    tables: dict[str, DdlPlan] = field(default_factory=dict)
    views: list[MvPlan] = field(default_factory=list)
    dictionaries: list[DictionaryPlan] = field(default_factory=list)
    bindings: list[StreamBinding] = field(default_factory=list)
    ddl: Ddl = Ddl()  # the script's dictionaries and SAMPLE BY keys


def _main_from_table(sql: str) -> tuple[str | None, str | None]:
    """(raw token, bare name) of the top-level FROM table of a translated
    SELECT — a regex grab of the FIRST 'FROM' would land inside a scalar
    subquery (dictGet expands to one before the main clause), so scan at
    paren depth 0. The raw token keeps any ``db.`` qualifier/quoting so
    the caller can rewrite the reference to the registered bare name."""
    toks = _tokenize(sql)
    i = _clause_end(toks, 0, {"FROM"})
    if i + 1 >= len(toks) or toks[i].upper() != "FROM" or toks[i + 1] == "(":
        return None, None  # no FROM, or a derived-table FROM: no binding
    # The tokenizer splits `db.table` into ident '.' ident — reassemble
    # the dotted reference.
    parts = [toks[i + 1]]
    j = i + 2
    while j + 1 < len(toks) and toks[j] == ".":
        parts.append(toks[j + 1])
        j += 2
    return ".".join(parts), parts[-1].strip("`\"")


def _rebase_table_ref(sql: str, raw: str, bare: str) -> str:
    """Rewrite every standalone occurrence of the qualified table token
    ``raw`` (e.g. ``db.queue``) in ``sql`` to the bare name the trigger
    registers as a temp view. Whole-token match only: ``db.queue`` must
    not rewrite inside ``otherdb.queue_archive`` or a string literal —
    translated SELECTs carry table refs as bare tokens, never in strings."""
    pat = re.compile(
        r"(?<![\w.`\"])" + re.escape(raw) + r"(?![\w.`\"])"
    )
    return pat.sub(bare, sql)


_CREATE_TABLE_NAME = re.compile(
    r"\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`\"]+)", re.I
)


def plan_deployment(script: str) -> Deployment:
    """Parse a ClickHouse DDL script and bind its pieces. Its CREATE
    DICTIONARY / SAMPLE BY declarations go into ``Deployment.ddl`` in
    statement order, each MV body translating under those before it;
    nothing outside the returned plan changes.

    Table names are registered BARE (``db.queue`` → ``queue``) because the
    trigger body materializes micro-batches as session temp views, which
    Spark cannot database-qualify; every reference inside a bound MV's
    SELECT is rewritten to the same bare name (``_rebase_table_ref``).
    Two same-named tables from different databases in ONE script would
    collide under that convention, so that is a loud error here."""
    dep = Deployment()
    qualified_seen: dict[str, str] = {}
    for stmt in split_statements(script):
        head = stmt.lstrip().upper()
        if head.startswith("CREATE DICTIONARY") or re.match(
            r"CREATE\s+(OR\s+REPLACE\s+)?DICTIONARY", head
        ):
            plan = translate_dictionary(stmt)
            dep.dictionaries.append(plan)
            if plan.source_table:
                dep.ddl = dep.ddl.with_dictionary(plan.spec())
        elif re.match(r"CREATE\s+MATERIALIZED\s+VIEW", head):
            dep.views.append(translate_mv(stmt, dep.ddl))
        elif head.startswith("CREATE TABLE"):
            plan = translate_ddl(stmt)
            m = _CREATE_TABLE_NAME.match(stmt)
            raw_name = m.group("name").strip("`\"") if m else plan.table
            prior = qualified_seen.setdefault(plan.table, raw_name)
            if prior != raw_name:
                raise DialectError(
                    f"tables {prior!r} and {raw_name!r} collide on bare "
                    f"name {plan.table!r}; one deployment script cannot "
                    "hold same-named tables from different databases"
                )
            dep.tables[plan.table] = plan
            if plan.sample_by:
                # SAMPLE BY key → deterministic SAMPLE … OFFSET subranges
                dep.ddl = dep.ddl.with_sample_key(plan.table, plan.sample_by)
        else:
            raise DialectError(
                f"unsupported statement in deployment script: {stmt[:60]!r}"
            )
    for mv in dep.views:
        raw, src_name = _main_from_table(mv.select_spark_sql)
        if src_name is None:
            continue
        src = dep.tables.get(src_name)
        if src is not None and src.kafka is not None:
            if raw != src_name:
                # The trigger registers the micro-batch as the BARE name;
                # a db-qualified reference left in the SELECT would miss
                # the temp view and resolve a real catalog table instead.
                mv.select_spark_sql = _rebase_table_ref(
                    mv.select_spark_sql, raw, src_name
                )
            dep.bindings.append(
                StreamBinding(
                    mv=mv,
                    source=src,
                    dest=dep.tables.get(mv.target) if mv.target else None,
                )
            )
    return dep


def apply_batch(
    spark: SparkSession, binding: StreamBinding, queue_df: DataFrame
) -> DataFrame:
    """The MV trigger body: run the translated SELECT over one decoded
    micro-batch standing in for the queue table. Identical under a real
    foreachBatch or a test's static frame.

    The SQL runs on the BATCH FRAME's own session, not the passed one —
    under foreachBatch Spark hands each batch a cloned micro-batch
    session, and temp views are session-scoped, so resolving through the
    outer session would not see the just-registered view.

    Dictionary freshness: a ``dictGet`` inside the MV body expands to a
    broadcast scalar-subquery over the dictionary's SOURCE TABLE, and the
    plan is re-resolved and re-executed here on EVERY micro-batch — so
    each trigger reads the source's CURRENT contents. That is strictly
    fresher than ClickHouse, which serves a cached dictionary until its
    ``LIFETIME`` expires (CH docs: dictionary updates); a CH user gets
    at-most-LIFETIME-stale lookups, this trigger gets exactly-current
    ones. Pinned by test_dictionary_updates_are_visible_next_batch."""
    sess = queue_df.sparkSession
    queue_df.createOrReplaceTempView(binding.source.table)
    return sess.sql(binding.mv.select_spark_sql)


def decode_frames(
    binding: StreamBinding,
    frames: DataFrame,
    schema_json: str | None = None,
):
    """Decode raw Kafka frames (a ``value`` column) per the binding's
    declared queue format into ``(rows, dead)``. JSONEachRow decodes
    self-contained against the queue table's own translated columns.
    ``ENGINE = Kafka(..., 'Avro' / 'AvroConfluent')`` — the reference's
    actual wire format (debezium.json registers AvroConverter; schema.avsc
    is the writer schema) — decodes broker-less through
    ``sources/avro.decode_avro`` when the caller supplies the writer
    schema as ``schema_json``; only the schema-REGISTRY fetch is env-bound
    (``sources/avro.decode_from_registry``). Works identically on batch
    and streaming frames — both decodes are per-row narrow work."""
    if binding.framing == "jsoneachrow":
        from .sources.jsonrows import decode_json_each_row

        return decode_json_each_row(frames, binding.source.columns)
    if binding.framing in ("confluent", "raw"):
        if schema_json is None:
            raise DialectError(
                f"format {binding.source.kafka.format!r} needs the writer "
                "schema: pass schema_json=<the .avsc contents> to decode "
                "broker-less (sources/avro.decode_avro), or use "
                "sources/avro.decode_from_registry when a schema registry "
                "is reachable"
            )
        return _decode_avro_frames(binding, frames, schema_json)
    raise DialectError(
        f"format {binding.source.kafka.format!r} has no deployment decode "
        "— decode externally and pass the decoded stream to start_binding "
        "directly"
    )


def _decode_avro_frames(
    binding: StreamBinding, frames: DataFrame, schema_json: str
):
    """Avro queue decode → the queue table's OWN declared columns.

    ``decode_avro`` runs PERMISSIVE (a corrupt body decodes to all-NULL
    fields), so the dead-letter split keys on every declared column being
    NULL — the one shape a successful decode of the queue's schema cannot
    produce for a real record unless the writer sent an all-null row (a
    degenerate record that carries no information either way). Declared
    TIMESTAMP columns fed by Avro longs map via ``timestamp_micros`` —
    the Debezium MicroTimestamp convention the reference's schema.avsc
    uses (io.debezium.time.MicroTimestamp); everything else casts to the
    declared Spark type."""
    from pyspark.sql import functions as F

    from .sources.avro import decode_avro

    decoded = decode_avro(
        frames.select("value"), schema_json, framing=binding.framing
    )
    dtypes = dict(decoded.dtypes)
    declared = binding.source.columns
    missing = [n for n, _ in declared if n not in dtypes]
    if missing:
        raise DialectError(
            f"queue table {binding.source.table!r} declares column(s) "
            f"{missing} absent from the Avro writer schema"
        )
    out_cols = []
    for name, spark_type in declared:
        c = F.col(name)
        if spark_type.upper().startswith("TIMESTAMP") and dtypes[name] == "bigint":
            c = F.timestamp_micros(c)
        else:
            c = c.cast(spark_type)
        out_cols.append(c.alias(name))
    corrupt = None
    for name, _ in declared:
        isnull = F.col(name).isNull()
        corrupt = isnull if corrupt is None else (corrupt & isnull)
    rows = decoded.filter(~corrupt).select(*out_cols)
    dead = decoded.filter(corrupt).select(F.col("value").alias("raw_frame"))
    return rows, dead


def start_binding(
    spark: SparkSession,
    binding: StreamBinding,
    decoded_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Attach the MV trigger to a decoded stream: each micro-batch runs the
    translated SELECT (``apply_batch``) and appends to ``out_dir``.

    ``decoded_stream`` is the caller's — against a live broker it is
    ``spark.readStream.format("kafka").options(**binding.reader_options)``
    plus the ``binding.framing`` Avro decode (sources/avro.py); in tests
    any stand-in stream with the queue table's columns works identically
    (the broker is the only env-bound piece). The append sink matches the
    plain-projection strategy; Replacing/Summing targets route the same
    batches into the upsert/rollup sinks instead (see
    ``binding.sink_strategy``). A destination whose SETTINGS enable
    insert dedup (``insert_deduplicate`` / Replicated default) routes
    each transformed batch through its configured InsertDedupSink, so a
    producer-side resend of an identical block lands exactly once —
    the MV trigger inherits the table's own dedup contract."""

    if binding.dest is not None and binding.dest.insert_dedup:
        sink = binding.dest.dedup_sink(spark, out_dir)

        def _proc(batch_df: DataFrame, batch_id: int) -> None:
            sink.process_batch(
                apply_batch(spark, binding, batch_df), batch_id
            )
    else:
        def _proc(batch_df: DataFrame, batch_id: int) -> None:
            apply_batch(spark, binding, batch_df).write.mode(
                "append"
            ).parquet(out_dir)

    trigger = {} if available_now else {"processingTime": "0 seconds"}
    return start_foreach_batch(decoded_stream, _proc, checkpoint_dir, **trigger)
