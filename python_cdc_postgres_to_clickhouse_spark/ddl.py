"""ClickHouse DDL translation: bring the warehouse's table definitions too.

``translate_ddl()`` parses a ClickHouse ``CREATE TABLE`` statement — column
list with CH types, ``ENGINE = <MergeTree family>``, ``PARTITION BY``,
``ORDER BY``, ``TTL``, ``SETTINGS`` — and emits:

- a runnable Spark SQL ``CREATE TABLE ... USING parquet`` statement
  (CH types mapped to Spark types; ``Nullable``/``LowCardinality`` wrappers
  unwrapped — every Spark column is nullable, dictionary encoding is
  parquet's job),
- the engine-equivalent maintenance strategy (ReplacingMergeTree ->
  ParquetUpsertSink, SummingMergeTree -> the retractable rollup sink,
  CollapsingMergeTree -> signed-collapse reads, ... — the same mapping
  MIGRATION.md documents, machine-readable),
- the layout spec: ``ORDER BY`` keys become cluster/Z-order keys for
  ``operators/layout.py`` (the MergeTree primary-index analog — footer
  min/max stats give the same data-skipping), ``PARTITION BY`` becomes a
  derived partition column (Spark partition columns are real columns, so a
  CH partition *expression* like ``toYYYYMM(ts)`` maps to a generated
  column the writer derives via the translated expression),
- the ``TTL`` horizon, mapping to ``ParquetUpsertSink.compact(...,
  ttl_older_than=...)``.

Scale: this is driver-side string work; what matters at 100 TB is that the
MAPPING preserves the reference layout's pruning behavior — partition
pruning (PARTITIONED BY), footer-stats skipping on the ORDER BY keys
(cluster/Z-order, asserted in tests/test_layout.py), and TTL as bounded
compaction rewrites rather than full-table scans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .dialect import (
    Ddl,
    DialectError,
    DictionarySpec,
    _group_end,
    _token_matches,
    _top_level,
    translate,
)

__all__ = ["DdlPlan", "MvPlan", "MaintenancePlan", "ProjectionSpec", "KafkaEngineSpec",
           "DictionaryPlan", "translate_dictionary",
           "map_type", "translate_ddl", "translate_mv",
           "translate_maintenance"]


def _expr(ch: str, where: bool = False, ddl: Ddl | None = None) -> str:
    """One ClickHouse expression (a WHERE predicate if ``where``) in Spark
    SQL, translated under ``ddl``."""
    if where:
        out = translate(f"SELECT 1 FROM t WHERE {ch}", ddl)
        return out[out.upper().index("WHERE") + 6:]
    return translate(f"SELECT {ch} FROM t", ddl)[7:-7]


# ---------------------------------------------------------------------------
# Type mapping
# ---------------------------------------------------------------------------

_SIMPLE_TYPES = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT", "Int64": "BIGINT",
    "UInt8": "SMALLINT", "UInt16": "INT", "UInt32": "BIGINT",
    "UInt64": "BIGINT",  # documented narrowing: Spark has no unsigned 64-bit
    "Float32": "FLOAT", "Float64": "DOUBLE",
    "String": "STRING", "UUID": "STRING", "IPv4": "STRING", "IPv6": "STRING",
    "Date": "DATE", "Date32": "DATE",
    "DateTime": "TIMESTAMP", "DateTime64": "TIMESTAMP",
    "Bool": "BOOLEAN",
    "JSON": "STRING",
}


def map_type(ch_type: str) -> str:
    """Map one ClickHouse column type to a Spark SQL type."""
    t = ch_type.strip()
    m = re.match(r"^(\w+)\s*(?:\((.*)\))?$", t, re.S)
    if not m:
        raise DialectError(f"cannot parse type {ch_type!r}")
    name, inner = m.group(1), m.group(2)
    if name in ("Nullable", "LowCardinality"):
        return map_type(inner)
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    if name == "FixedString":
        return "STRING"
    if name == "DateTime64" or (name == "DateTime" and inner):
        return "TIMESTAMP"
    if name == "Decimal":
        p, s = (x.strip() for x in inner.split(","))
        return f"DECIMAL({p}, {s})"
    if name in ("Decimal32", "Decimal64", "Decimal128"):
        scale = inner.strip()
        prec = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[name]
        return f"DECIMAL({prec}, {scale})"
    if name == "Array":
        return f"ARRAY<{map_type(inner)}>"
    if name == "Map":
        parts = _split_top_list(inner)
        if len(parts) != 2:
            raise DialectError(f"expected two type params in {inner!r}")
        return f"MAP<{map_type(parts[0])}, {map_type(parts[1])}>"
    if name == "Tuple":
        parts = _split_top_list(inner)
        fields = []
        for i, p in enumerate(parts, start=1):
            nm = re.match(r"^\s*([A-Za-z_]\w*)\s+(.+)$", p, re.S)
            if nm and not re.match(r"^\s*\w+\s*\(", p):
                fields.append(f"{nm.group(1)}: {map_type(nm.group(2))}")
            else:
                fields.append(f"_{i}: {map_type(p)}")
        return "STRUCT<" + ", ".join(fields) + ">"
    if name in ("Enum8", "Enum16"):
        return "STRING"  # values arrive as their names through any decoder
    if name in ("AggregateFunction", "SimpleAggregateFunction"):
        raise DialectError(
            f"{name}: -State storage columns have no Spark column type — "
            "partial aggregation IS the mergeable state here "
            "(queries/sketches.py, streaming/sketch_sink.py)"
        )
    raise DialectError(f"unmapped ClickHouse type {ch_type!r}")


def _split_top_list(s: str) -> list[str]:
    """``s`` split at its depth-0 commas (string literals and comments are
    single tokens), each part stripped; a trailing empty part is dropped."""
    ms = _token_matches(s)
    parts, at = [], 0
    for j, t in _top_level([m.group() for m in ms]):
        if t == ",":
            parts.append(s[at:ms[j].start()])
            at = ms[j].end()
    if s[at:]:
        parts.append(s[at:])
    return [p.strip() for p in parts]


def _group_text(sql: str, open_at: int) -> tuple[str, str]:
    """(text inside the parenthesized group opening at ``sql[open_at]``,
    text after it)."""
    ms = _token_matches(sql[open_at:])
    close = ms[_group_end([m.group() for m in ms], 0) - 1]
    return sql[open_at + 1:open_at + close.start()], sql[open_at + close.end():]


# ---------------------------------------------------------------------------
# Engine mapping
# ---------------------------------------------------------------------------

_ENGINE_STRATEGY = {
    "MergeTree": "append-only parquet table (tables.py); cluster/Z-order the "
                 "ORDER BY keys via operators/layout.py for primary-index-"
                 "equivalent data skipping",
    "ReplacingMergeTree": "streaming/upsert_sink.py ParquetUpsertSink — "
                          "current_state() is the FINAL read; the version "
                          "argument maps to the sink's ordering column",
    "SummingMergeTree": "streaming/retract_rollup.py RetractRollupSink "
                        "(incremental GROUP BY maintenance) or "
                        "streaming/parts_rollup.py PartedRollupSink for "
                        "append-only streams",
    "AggregatingMergeTree": "streaming/parts_rollup.py PartedRollupSink / "
                            "streaming/sketch_sink.py — partial aggregation "
                            "is the -State/-Merge equivalent",
    "CollapsingMergeTree": "cdc_collapsing_state query shape: SUM(sign)-"
                           "weighted aggregates, net <= 0 groups dropped",
    "VersionedCollapsingMergeTree": "cdc_versioned_collapse query shape: "
                                    "collapse per (key, version), newest "
                                    "surviving version served",
    "GraphiteMergeTree": "x_downsample_tiers: age-tiered rollup against the "
                         "stream watermark",
    "Kafka": "sources/kafka.py stream_options + decode (S1-S5)",
    "Distributed": "no-op: every Spark table is distributed; drop the shard "
                   "wrapper and query the underlying table directly",
    "Log": "append-only parquet table (tables.py)",
    "TinyLog": "append-only parquet table (tables.py)",
    "Memory": "df.cache() / createOrReplaceTempView",
}


_PROJ_AGG_RE = re.compile(
    r"^(count|sum|min|max|uniq|uniqExact|avg)\s*\((.*)\)$", re.I | re.S
)


def _state_name(prefix: str, raw: str) -> str:
    inner = re.sub(r"\W+", "_", raw).strip("_").lower()
    return f"{prefix}_{inner}" if inner else prefix


@dataclass
class ProjectionSpec:
    """A parsed MergeTree PROJECTION, machine-readable for
    ``operators/projection.py``.

    ``kind='aggregate'``: keys are (name, spark expr string) pairs, measures
    map state name -> (measure kind, spark expr string or None for count());
    ``avg(x)`` decomposes into its (sum, count-of-x) state pair plus a
    ``derived`` entry, exactly how the operator re-derives it at read time.
    ``kind='reorder'``: an alternate sort order — maps to a clustered copy
    (operators/layout.py), carried in ``order_by``.
    """

    name: str
    kind: str                                   # "aggregate" | "reorder"
    keys: list[tuple[str, str]] = field(default_factory=list)
    measures: dict[str, tuple[str, str | None]] = field(default_factory=dict)
    derived: dict[str, tuple[str, str, str]] = field(default_factory=dict)
    order_by: list[str] = field(default_factory=list)

    def to_operator_args(self):
        """(keys, measures) ready for projection.build_projection."""
        from pyspark.sql import functions as F

        keys = {n: F.expr(e) for n, e in self.keys}
        measures = {
            s: (k, F.expr(e) if e is not None else F.lit(1))
            for s, (k, e) in self.measures.items()
        }
        return keys, measures


def _parse_projection(raw: str) -> ProjectionSpec:
    m = re.match(r"^PROJECTION\s+([\w`\"]+)\s*\((.*)\)\s*$", raw, re.I | re.S)
    if not m:
        raise DialectError(f"cannot parse projection {raw!r}")
    name = m.group(1).strip("`\"")
    body = m.group(2).strip()
    sm = re.match(
        r"^SELECT\s+(.*?)(?:\s+GROUP\s+BY\s+(.*)|\s+ORDER\s+BY\s+(.*))?$",
        body, re.I | re.S,
    )
    if not sm:
        raise DialectError(f"projection {name}: body is not a SELECT")
    select_raw, group_raw, order_raw = sm.group(1), sm.group(2), sm.group(3)

    if group_raw is None:
        # reorder projection: alternate physical order, no aggregation
        order = [_expr(k) for k in _split_top_list(order_raw or "")]
        return ProjectionSpec(name=name, kind="reorder", order_by=order)

    keys: list[tuple[str, str]] = []
    key_raws: list[str] = []
    for k in _split_top_list(group_raw):
        kname = k if k.isidentifier() else _state_name("k", k)
        keys.append((kname, _expr(k)))
        key_raws.append(re.sub(r"\s+", "", k).lower())

    measures: dict[str, tuple[str, str | None]] = {}
    derived: dict[str, tuple[str, str, str]] = {}
    for item in _split_top_list(select_raw):
        if re.sub(r"\s+", "", item).lower() in key_raws:
            continue  # the key re-stated in the select list
        am = _PROJ_AGG_RE.match(item)
        if not am:
            raise DialectError(
                f"projection {name}: {item!r} is neither a GROUP BY key nor "
                "a re-mergeable aggregate (count/sum/min/max/uniq/avg) — "
                "quantile-family states need queries/sketches.py"
            )
        fn, arg = am.group(1), am.group(2).strip()
        arg_sql = _expr(arg) if arg else None
        if fn.lower() == "count":
            measures[_state_name("n", arg)] = ("count", arg_sql)
        elif fn.lower() in ("uniq", "uniqexact"):
            measures[_state_name("uniq", arg)] = ("uniq", arg_sql)
        elif fn.lower() == "avg":
            # ClickHouse's avg state IS a (sum, count) pair — store both,
            # re-derive at read time (null-skipping: count(x), not count()).
            s, c = _state_name("sum", arg), _state_name("n", arg)
            measures[s] = ("sum", arg_sql)
            measures[c] = ("count", arg_sql)
            derived[_state_name("avg", arg)] = ("avg", s, c)
        else:
            measures[_state_name(fn.lower(), arg)] = (fn.lower(), arg_sql)
    return ProjectionSpec(
        name=name, kind="aggregate", keys=keys,
        measures=measures, derived=derived,
    )


@dataclass
class KafkaEngineSpec:
    """A parsed ``ENGINE = Kafka`` definition — CH's standard streaming
    ingestion table (paired with a MATERIALIZED VIEW that drains it; the
    reference's Python consumers play exactly this role, main.py:12-58).

    ``source_options()`` returns the ready-to-use Spark Kafka reader
    options; the consumer group maps to ``kafka.group.id`` (informational —
    Spark tracks offsets in the checkpoint, not the group), and the format
    maps to the decode path: AvroConfluent → sources/avro.py
    framing='confluent', Avro → framing='raw', JSONEachRow → from_json.
    """

    brokers: str
    topics: list[str]
    group: str | None = None
    format: str | None = None
    # kafka_num_consumers → minPartitions (CH scales decode threads; Spark
    # scales decode TASKS past the topic's partition count — same lever).
    num_consumers: int | None = None
    # kafka_max_block_size → maxOffsetsPerTrigger (CH bounds rows per
    # poll block; Spark bounds offsets per micro-batch — same backpressure
    # role, per-trigger instead of per-poll).
    max_block_size: int | None = None

    @property
    def framing(self) -> str | None:
        if self.format is None:
            return None
        f = self.format.lower()
        if f == "avroconfluent":
            return "confluent"
        if f == "avro":
            return "raw"
        if f == "jsoneachrow":
            # newline-delimited JSON rows — decode via
            # sources/jsonrows.decode_json_each_row against the queue
            # table's own translated columns (DdlPlan.columns)
            return "jsoneachrow"
        return None  # other CH formats — caller supplies the decode

    def source_options(self) -> dict[str, str]:
        from .sources.kafka import stream_options

        opts = stream_options(
            self.brokers, topics=self.topics,
            min_partitions=self.num_consumers,
        )
        if self.group:
            opts["kafka.group.id"] = self.group
        if self.max_block_size is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_block_size)
        return opts


@dataclass
class DdlPlan:
    table: str
    columns: list[tuple[str, str]]          # (name, spark_type)
    engine: str
    strategy: str                           # engine-equivalent maintenance
    order_by: list[str] = field(default_factory=list)   # layout cluster keys
    partition_expr: str | None = None       # translated Spark expression
    partition_col: str | None = None        # derived column name
    partition_type: str = "INT"             # derived column's Spark type
    ttl: str | None = None                  # translated TTL expression
    dropped: list[str] = field(default_factory=list)    # MATERIALIZED/ALIAS
    projections: list[ProjectionSpec] = field(default_factory=list)
    # SAMPLE BY expression (translated): CH samples deterministically on
    # this key — the Spark equivalent is the salted-hash bucket projection
    # (operators/sampling.py, x_det_sample), NOT seeded-random TABLESAMPLE.
    sample_by: str | None = None
    # CH `INDEX … TYPE bloom_filter` on plain columns → parquet row-group
    # bloom filters (pass to layout.cluster_write(bloom_cols=…)).
    bloom_index_cols: list[str] = field(default_factory=list)
    # ENGINE = Kafka: the parsed ingestion spec (None for storage engines).
    kafka: KafkaEngineSpec | None = None
    # CH insert-block dedup: ON for Replicated* engines unless SETTINGS
    # insert_deduplicate = 0; ON for plain engines only when SETTINGS
    # non_replicated_deduplication_window > 0. The window maps straight to
    # streaming/insert_dedup.InsertDedupSink(dedup_window=...).
    insert_dedup: bool = False
    dedup_window: int = 100  # CH *_deduplication_window default

    def dedup_sink(self, spark, out_dir: str):
        """The configured InsertDedupSink this table's settings imply."""
        if not self.insert_dedup:
            raise DialectError(
                f"table {self.table} has insert dedup off "
                "(no Replicated engine / deduplication-window setting)"
            )
        from .streaming.insert_dedup import InsertDedupSink

        return InsertDedupSink(spark, out_dir, dedup_window=self.dedup_window)

    @property
    def spark_ddl(self) -> str:
        cols = [f"  {n} {t}" for n, t in self.columns]
        if self.partition_col:
            cols.append(f"  {self.partition_col} {self.partition_type}")
        body = ",\n".join(cols)
        ddl = f"CREATE TABLE {self.table} (\n{body}\n) USING parquet"
        if self.partition_col:
            ddl += f"\nPARTITIONED BY ({self.partition_col})"
        return ddl


_CLAUSE_RE = re.compile(
    r"\bENGINE\s*=\s*(?P<engine>\w+)(?:\s*\((?P<eargs>[^)]*)\))?"
    r"|\bPARTITION\s+BY\s+"
    r"|\bORDER\s+BY\s+"
    r"|\bPRIMARY\s+KEY\s+"
    r"|\bSAMPLE\s+BY\s+"
    r"|\bTTL\s+"
    r"|\bSETTINGS\s+"
    r"|\bCOMMENT\s+",
    re.I,
)


def _extract_clause(sql: str, name: str) -> str | None:
    """Extract the expression following the top-level clause keyword
    ``name`` up to the next top-level clause keyword or table ``COMMENT``.
    Keywords inside string literals or brackets neither start nor end a
    clause."""
    ms = _token_matches(sql)
    top = [ms[j] for j, _ in _top_level([m.group() for m in ms])]
    start = re.compile(rf"{name}\s+", re.I)
    head = next((h for t in top if (h := start.match(sql, t.start()))), None)
    if head is None:
        return None
    end = next(
        (t.start() for t in top
         if t.start() >= head.end() and _CLAUSE_RE.match(sql, t.start())),
        len(sql),
    )
    return sql[head.end():end].strip() or None


def _strip_tuple(expr: str) -> list[str]:
    e = expr.strip()
    if e.startswith("(") and e.endswith(")"):
        e = e[1:-1]
    if e.lower().startswith("tuple(") and e.endswith(")"):
        e = e[6:-1]
    return [p for p in _split_top_list(e) if p]


def translate_ddl(sql: str) -> DdlPlan:
    """Parse a ClickHouse ``CREATE TABLE`` and return the engine mapping."""
    head = re.match(
        r"\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>[\w.`\"]+)\s*(?:ON\s+CLUSTER\s+\S+\s*)?\(",
        sql,
        re.I,
    )
    if not head:
        raise DialectError("not a CREATE TABLE statement")
    table = head.group("name").strip("`\"").split(".")[-1]
    col_block, tail = _group_text(sql, head.end() - 1)

    columns: list[tuple[str, str]] = []
    dropped: list[str] = []
    projections: list[ProjectionSpec] = []
    bloom_index_cols: list[str] = []
    for raw in _split_top_list(col_block):
        if raw and re.match(r"^PROJECTION\b", raw, re.I):
            projections.append(_parse_projection(raw))
            continue
        im = re.match(
            r"^INDEX\s+[\w`\"]+\s+([\w`\"]+)\s+TYPE\s+bloom_filter\b",
            raw, re.I,
        ) if raw else None
        if im:
            # CH bloom_filter skip index on a plain column → parquet
            # row-group bloom filters (cluster_write's bloom_cols).
            # Expression/tokenbf/ngrambf indexes have no parquet analog
            # and stay dropped-with-a-record below.
            bloom_index_cols.append(im.group(1).strip("`\""))
            continue
        if not raw or re.match(r"^(INDEX|CONSTRAINT)\b", raw, re.I):
            dropped.append(raw.split()[1] if len(raw.split()) > 1 else raw)
            continue
        cm = re.match(r"^([\w`\"]+)\s+(.*)$", raw, re.S)
        if not cm:
            raise DialectError(f"cannot parse column {raw!r}")
        cname = cm.group(1).strip("`\"")
        rest = cm.group(2).strip()
        if re.search(r"\b(MATERIALIZED|ALIAS)\b", rest, re.I):
            dropped.append(cname)  # derived server-side; writers re-derive
            continue
        # type runs until DEFAULT/CODEC/COMMENT/TTL or end (balanced parens)
        tm = re.match(
            r"^(.*?)(?:\s+(?:DEFAULT|CODEC|COMMENT|TTL)\b.*)?$", rest, re.S
        )
        columns.append((cname, map_type(tm.group(1))))

    em = re.search(r"\bENGINE\s*=\s*(\w+)", tail, re.I)
    engine = em.group(1) if em else "MergeTree"
    base_engine = re.sub(r"^(Replicated|Shared)", "", engine)
    strategy = _ENGINE_STRATEGY.get(base_engine)
    if strategy is None:
        raise DialectError(
            f"engine {engine} has no mapping — see MIGRATION.md for the "
            "supported MergeTree family"
        )
    kafka_spec = _parse_kafka_engine(tail) if base_engine == "Kafka" else None

    order_raw = _extract_clause(tail, "ORDER\\s+BY") or ""
    order_by = [_expr(k) for k in _strip_tuple(order_raw) if k.lower() != "tuple()"]

    part_raw = _extract_clause(tail, "PARTITION\\s+BY")
    partition_expr = partition_col = None
    partition_type = "INT"
    col_types = dict(columns)
    if part_raw and part_raw.lower() != "tuple()":
        if part_raw.isidentifier() and part_raw in col_types:
            # a real column: partition on it directly, no derived column
            partition_col = part_raw
            partition_type = col_types[part_raw]
            columns = [(n, t) for n, t in columns if n != part_raw]
        else:
            partition_expr = _expr(part_raw)
            partition_col = (
                "p_" + re.sub(r"\W+", "_", part_raw).strip("_").lower()
            )
            if "to_date" in partition_expr or "date_trunc" in partition_expr:
                partition_type = "DATE"
            elif "as int" not in partition_expr:
                partition_type = "STRING"

    ttl_raw = _extract_clause(tail, "TTL")
    ttl = _expr(ttl_raw) if ttl_raw else None

    sample_raw = _extract_clause(tail, "SAMPLE\\s+BY")
    sample_by = _expr(sample_raw) if sample_raw else None

    # SETTINGS → insert-block dedup contract. CH semantics: Replicated*
    # engines deduplicate inserts by default (window =
    # replicated_deduplication_window, default 100, 0 disables); plain
    # engines only when non_replicated_deduplication_window > 0.
    settings_raw = _extract_clause(tail, "SETTINGS") or ""
    settings = {
        m.group(1).lower(): m.group(2)
        for m in re.finditer(r"(\w+)\s*=\s*'?([\w.]+)'?", settings_raw)
    }
    is_replicated = engine.startswith("Replicated")
    window = int(
        settings.get(
            "replicated_deduplication_window"
            if is_replicated
            else "non_replicated_deduplication_window",
            "100" if is_replicated else "0",
        )
    )
    insert_dedup = (
        settings.get("insert_deduplicate", "1") != "0" and window > 0
    )
    if insert_dedup:
        strategy += (
            f"; insert dedup window {window} -> "
            "streaming/insert_dedup.py InsertDedupSink"
        )

    return DdlPlan(
        table=table,
        columns=columns,
        engine=engine,
        strategy=strategy,
        order_by=order_by,
        partition_expr=partition_expr,
        partition_col=partition_col,
        partition_type=partition_type,
        ttl=ttl,
        dropped=dropped,
        projections=projections,
        sample_by=sample_by,
        bloom_index_cols=bloom_index_cols,
        kafka=kafka_spec,
        insert_dedup=insert_dedup,
        dedup_window=window if insert_dedup else 100,
    )


def _parse_kafka_engine(tail: str) -> KafkaEngineSpec:
    """Both CH Kafka-engine spellings: positional
    ``Kafka('brokers', 'topics', 'group', 'format')`` and the SETTINGS form
    (``kafka_broker_list = '…'`` …). Positional args are string literals, so
    the quote-aware extraction tolerates commas inside the topic list."""
    m = re.search(r"\bENGINE\s*=\s*\w+\s*\(([^)]*)\)", tail, re.I)
    args = re.findall(r"'([^']*)'", m.group(1)) if m else []

    def setting(name: str) -> str | None:
        sm = re.search(rf"\b{name}\s*=\s*'([^']*)'", tail, re.I)
        return sm.group(1) if sm else None

    def num_setting(name: str) -> int | None:
        sm = re.search(rf"\b{name}\s*=\s*'?(\d+)'?", tail, re.I)
        return int(sm.group(1)) if sm else None

    brokers = (args[0] if len(args) > 0 else None) or setting("kafka_broker_list")
    topics = (args[1] if len(args) > 1 else None) or setting("kafka_topic_list")
    group = (args[2] if len(args) > 2 else None) or setting("kafka_group_name")
    fmt = (args[3] if len(args) > 3 else None) or setting("kafka_format")
    if not brokers or not topics:
        raise DialectError(
            "ENGINE = Kafka needs broker and topic lists — positional "
            "args or kafka_broker_list / kafka_topic_list SETTINGS"
        )
    return KafkaEngineSpec(
        brokers=brokers,
        topics=[t.strip() for t in topics.split(",") if t.strip()],
        group=group,
        format=fmt,
        num_consumers=num_setting("kafka_num_consumers"),
        max_block_size=num_setting("kafka_max_block_size"),
    )


# ---------------------------------------------------------------------------
# Materialized views: ClickHouse's MV is an INSERT trigger that runs the
# SELECT over each arriving block and appends to the target table — i.e.
# exactly a Structured Streaming query over the source with a sink on the
# target. The translation returns the Spark-SQL SELECT (via the dialect
# shim) plus the sink strategy implied by the target engine.
# ---------------------------------------------------------------------------


@dataclass
class MvPlan:
    view: str
    target: str | None           # TO table (None: inner table)
    select_spark_sql: str        # dialect-translated SELECT
    strategy: str                # sink recommendation
    engine: str | None = None


def translate_mv(sql: str, ddl: Ddl | None = None) -> MvPlan:
    """Parse ``CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [TO target]
    [ENGINE = ...] [POPULATE] AS SELECT ...`` and return the streaming
    equivalent: the SELECT translated under ``ddl`` plus the sink strategy.

    ``POPULATE`` (backfill at creation) maps to running the same SELECT
    once in batch mode before attaching the stream — noted in the
    strategy. An aggregating MV (GROUP BY in the SELECT) maps to the
    rollup sinks; a plain projection MV maps to the upsert/append sink.
    """
    m = re.match(
        r"\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>[\w.`\"]+)\s*(?:ON\s+CLUSTER\s+\S+\s*)?"
        r"(?:TO\s+(?P<target>[\w.`\"]+)\s*)?"
        r"(?:ENGINE\s*=\s*(?P<engine>\w+)\s*(?:\([^)]*\))?\s*)?"
        r"(?:ORDER\s+BY\s+.*?)?"
        r"(?P<populate>POPULATE\s+)?"
        r"AS\s+(?P<select>SELECT\b.*)$",
        sql,
        re.I | re.S,
    )
    if not m:
        raise DialectError("not a CREATE MATERIALIZED VIEW ... AS SELECT")
    view = m.group("name").strip("`\"").split(".")[-1]
    target = m.group("target")
    target = target.strip("`\"").split(".")[-1] if target else None
    engine = m.group("engine")
    select_sql = translate(m.group("select"), ddl)

    base_engine = re.sub(r"^(Replicated|Shared)", "", engine) if engine else None
    grouped = re.search(r"\bGROUP\s+BY\b", select_sql, re.I) is not None
    if base_engine in ("SummingMergeTree", "AggregatingMergeTree") or grouped:
        strategy = (
            "streaming GROUP BY maintenance: foreachBatch into "
            "streaming/retract_rollup.py RetractRollupSink (changelog "
            "sources) or streaming/parts_rollup.py PartedRollupSink "
            "(append-only); sketch columns -> streaming/sketch_sink.py"
        )
    elif base_engine == "ReplacingMergeTree":
        strategy = (
            "keyed projection view: streaming/upsert_sink.py "
            "ParquetUpsertSink keyed on the target's ORDER BY"
        )
    else:
        strategy = (
            "append projection view: readStream -> the translated SELECT "
            "-> writeStream parquet append on the target path"
        )
    if m.group("populate"):
        strategy += "; POPULATE -> run the same SELECT once in batch " \
                    "mode before attaching the stream"
    return MvPlan(
        view=view,
        target=target,
        select_spark_sql=select_sql,
        strategy=strategy,
        engine=engine,
    )


# ---------------------------------------------------------------------------
# Maintenance commands: the operational verbs a ClickHouse deployment runs
# against its tables. Each maps to an engine routine, so a reference user's
# runbooks port alongside their DDL and query text.
# ---------------------------------------------------------------------------

@dataclass
class MaintenancePlan:
    op: str   # optimize | truncate | delete | update | drop_partition | modify_ttl
    table: str
    strategy: str               # the engine routine replacing the command
    predicate: str | None = None    # translated WHERE (delete/update)
    assignments: list[tuple[str, str]] = field(default_factory=list)
    partition: str | None = None
    ttl: str | None = None          # translated TTL expression (modify_ttl)


def translate_maintenance(sql: str, ddl: Ddl | None = None) -> MaintenancePlan:
    """Map ClickHouse maintenance statements to engine routines; their
    expressions translate under ``ddl`` (e.g. a deployment's dictionaries).

    - ``OPTIMIZE TABLE t [FINAL]`` → the sink's compaction/materialization
      (`ParquetUpsertSink.compact()`; FINAL read = `current_state()`).
      ClickHouse's background merge is on-demand here, same contract.
    - ``TRUNCATE TABLE t`` → overwrite with an empty frame of the schema.
    - ``ALTER TABLE t DELETE WHERE p`` → one filtered rewrite of the
      affected partitions (`WHERE NOT (p)` kept) — exactly the rewrite
      cost model of a CH mutation.
    - ``ALTER TABLE t UPDATE c = e, … WHERE p`` → read-modify-write:
      ``withColumn(c, when(p, e).otherwise(c))`` per assignment, partition-
      scoped like DELETE. Expressions/predicates go through the dialect.
    - ``ALTER TABLE t DROP PARTITION 'v'`` → delete that partition
      directory (metadata-only, as in CH).
    """
    s = sql.strip().rstrip(";")

    m = re.match(
        r"(?i)^OPTIMIZE\s+TABLE\s+([\w.`\"]+)(?:\s+ON\s+CLUSTER\s+\S+)?"
        r"(\s+FINAL)?$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        strat = ("ParquetUpsertSink.compact(horizon=now) — merge parts, drop "
                 "tombstones past the horizon")
        if m.group(2):
            strat += "; FINAL semantics are the sink's current_state() read"
        return MaintenancePlan(op="optimize", table=table, strategy=strat)

    m = re.match(r"(?i)^TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.`\"]+)$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        return MaintenancePlan(
            op="truncate", table=table,
            strategy="overwrite the table path with an empty frame of the "
                     "same schema (spark.createDataFrame([], schema))",
        )

    m = re.match(
        r"(?i)^ALTER\s+TABLE\s+([\w.`\"]+)(?:\s+ON\s+CLUSTER\s+\S+)?\s+"
        r"DROP\s+PARTITION\s+(.+)$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        part = m.group(2).strip().strip("'\"")
        return MaintenancePlan(
            op="drop_partition", table=table, partition=part,
            strategy=f"delete the {part!r} partition directory — metadata-"
                     "only, the same O(1) cost CH promises",
        )

    m = re.match(
        r"(?i)^ALTER\s+TABLE\s+([\w.`\"]+)(?:\s+ON\s+CLUSTER\s+\S+)?\s+"
        r"MODIFY\s+TTL\s+(.+)$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        ttl = _expr(m.group(2), ddl=ddl)
        return MaintenancePlan(
            op="modify_ttl", table=table, ttl=ttl,
            strategy="replace the table's compaction horizon: pass the new "
                     f"expression ({ttl}) as upsert_sink.compact("
                     "ttl_older_than=…) from the next compaction on — "
                     "existing rows age out at merge time, exactly CH's "
                     "TTL-recalculation-on-merge contract",
        )

    m = re.match(
        r"(?i)^ALTER\s+TABLE\s+([\w.`\"]+)(?:\s+ON\s+CLUSTER\s+\S+)?\s+"
        r"DELETE\s+WHERE\s+(.+)$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        pred = _expr(m.group(2), where=True, ddl=ddl)
        return MaintenancePlan(
            op="delete", table=table, predicate=pred,
            strategy="filtered rewrite of the affected partitions: keep "
                     f"WHERE NOT ({pred}) — the CH mutation cost model",
        )

    m = re.match(
        r"(?i)^ALTER\s+TABLE\s+([\w.`\"]+)(?:\s+ON\s+CLUSTER\s+\S+)?\s+"
        r"UPDATE\s+(.+?)\s+WHERE\s+(.+)$", s)
    if m:
        table = m.group(1).strip("`\"").split(".")[-1]
        pred = _expr(m.group(3), where=True, ddl=ddl)
        assignments: list[tuple[str, str]] = []
        for item in _split_top_list(m.group(2)):
            am = re.match(r"^([\w`\"]+)\s*=\s*(.+)$", item, re.S)
            if not am:
                raise DialectError(f"cannot parse UPDATE assignment {item!r}")
            expr = _expr(am.group(2), ddl=ddl)
            assignments.append((am.group(1).strip("`\""), expr))
        return MaintenancePlan(
            op="update", table=table, predicate=pred,
            assignments=assignments,
            strategy="read-modify-write of the affected partitions: "
                     "withColumn(c, when(pred, expr).otherwise(c)) per "
                     "assignment",
        )

    raise DialectError(
        "not a supported maintenance statement — OPTIMIZE TABLE, TRUNCATE "
        "TABLE, ALTER TABLE … DELETE/UPDATE WHERE, MODIFY TTL, DROP "
        "PARTITION translate; schema ALTERs map to Spark DDL directly"
    )


# ---------------------------------------------------------------------------
# CREATE DICTIONARY (dialect.py dictGet family's provisioning side)
# ---------------------------------------------------------------------------

@dataclass
class DictionaryPlan:
    """A parsed ``CREATE DICTIONARY`` statement.

    CH dictionaries are host-side lookup maps refreshed from a source table;
    the engine analog is the source table/view itself. Declared in a
    ``dialect.Ddl`` (``spec()``; ``Deployment.ddl``), every ``dictGet('<name>',
    …)`` call translates to a correlated scalar subquery (Catalyst plans it as a
    broadcast left join — the same build-side-hash-map execution CH's
    dictionary engine performs). LIFETIME refresh is meaningless here: the
    view always reads the current table state, which is *fresher* than CH's
    staleness-bounded cache.
    """

    name: str
    key: str
    columns: list[tuple[str, str]] = field(default_factory=list)
    source_table: str | None = None
    source_kind: str | None = None
    layout: str | None = None
    lifetime_max_s: int | None = None

    def spec(self, view: str | None = None) -> DictionarySpec:
        """The dictionary's declaration; ``view`` overrides the SOURCE
        table (needed when the source is not a CLICKHOUSE table)."""
        target = view or self.source_table
        if target is None:
            raise DialectError(
                f"dictionary {self.name!r}: SOURCE({self.source_kind or '?'}"
                ") names no table — pass the Spark view explicitly"
            )
        return DictionarySpec(name=self.name, view=target, key=self.key)


def translate_dictionary(sql: str) -> DictionaryPlan:
    """Parse a ClickHouse ``CREATE DICTIONARY`` statement."""
    head = re.match(
        r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?DICTIONARY\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>[\w.`\"]+)\s*(?:ON\s+CLUSTER\s+\S+\s*)?\(",
        sql, re.I,
    )
    if not head:
        raise DialectError("not a CREATE DICTIONARY statement")
    name = head.group("name").strip("`\"").split(".")[-1]
    col_block, tail = _group_text(sql, head.end() - 1)

    columns: list[tuple[str, str]] = []
    for raw in _split_top_list(col_block):
        cm = re.match(r"^([\w`\"]+)\s+(.*)$", raw.strip(), re.S)
        if not cm:
            raise DialectError(f"cannot parse dictionary attribute {raw!r}")
        rest = re.match(
            r"^(.*?)(?:\s+(?:DEFAULT|EXPRESSION|HIERARCHICAL|INJECTIVE|"
            r"IS_OBJECT_ID)\b.*)?$",
            cm.group(2).strip(), re.S,
        )
        columns.append((cm.group(1).strip("`\""), map_type(rest.group(1))))

    pk = re.search(r"\bPRIMARY\s+KEY\s+([^()]+?)(?=\b(?:SOURCE|LAYOUT|"
                   r"LIFETIME|SETTINGS|COMMENT)\b|$)", tail, re.I)
    if not pk:
        raise DialectError("CREATE DICTIONARY needs PRIMARY KEY")
    keys = [k.strip().strip("`\"") for k in pk.group(1).split(",") if k.strip()]
    if len(keys) != 1:
        raise DialectError(
            "composite dictionary keys have no scalar-subquery equality "
            "form — pre-concat the key columns into one on both sides"
        )

    sm = re.search(r"\bSOURCE\s*\(\s*(\w+)\s*\((.*?)\)\s*\)", tail, re.I | re.S)
    source_kind = source_table = None
    if sm:
        source_kind = sm.group(1).upper()
        tm = re.search(r"\bTABLE\s+'([^']+)'", sm.group(2), re.I)
        if tm:
            source_table = tm.group(1)

    lm = re.search(r"\bLAYOUT\s*\(\s*(\w+)", tail, re.I)
    layout = lm.group(1).upper() if lm else None
    if layout and layout.startswith("COMPLEX_KEY"):
        raise DialectError(
            "COMPLEX_KEY layouts imply composite keys — pre-concat the key "
            "columns into one on both sides"
        )

    lt = re.search(r"\bLIFETIME\s*\(\s*(?:MIN\s+\d+\s+MAX\s+(\d+)|(\d+))\s*\)",
                   tail, re.I)
    lifetime = int(lt.group(1) or lt.group(2)) if lt else None

    return DictionaryPlan(
        name=name, key=keys[0], columns=columns,
        source_table=source_table, source_kind=source_kind,
        layout=layout, lifetime_max_s=lifetime,
    )
