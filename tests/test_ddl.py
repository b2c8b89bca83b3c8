"""ClickHouse DDL translation: type mapping, engine strategies, layout
extraction, and that the emitted Spark DDL actually executes."""

from __future__ import annotations

import pytest

from python_cdc_postgres_to_clickhouse_spark.ddl import map_type, translate_ddl
from python_cdc_postgres_to_clickhouse_spark.dialect import DialectError


@pytest.mark.parametrize(
    ("ch", "spark_t"),
    [
        ("UInt64", "BIGINT"),
        ("Int32", "INT"),
        ("UInt8", "SMALLINT"),
        ("Float64", "DOUBLE"),
        ("String", "STRING"),
        ("FixedString(16)", "STRING"),
        ("Date", "DATE"),
        ("DateTime", "TIMESTAMP"),
        ("DateTime64(3)", "TIMESTAMP"),
        ("Decimal(18, 2)", "DECIMAL(18, 2)"),
        ("Decimal64(4)", "DECIMAL(18, 4)"),
        ("Nullable(Int64)", "BIGINT"),
        ("LowCardinality(String)", "STRING"),
        ("LowCardinality(Nullable(String))", "STRING"),
        ("Array(Float32)", "ARRAY<FLOAT>"),
        ("Array(Nullable(String))", "ARRAY<STRING>"),
        ("Map(String, UInt64)", "MAP<STRING, BIGINT>"),
        ("Tuple(String, Int64)", "STRUCT<_1: STRING, _2: BIGINT>"),
        ("Tuple(name String, qty Int64)", "STRUCT<name: STRING, qty: BIGINT>"),
        ("Enum8('a' = 1, 'b' = 2)", "STRING"),
        ("UUID", "STRING"),
        ("Bool", "BOOLEAN"),
    ],
)
def test_map_type(ch, spark_t):
    assert map_type(ch) == spark_t


def test_aggregate_function_column_raises_with_pointer():
    with pytest.raises(DialectError, match="sketch"):
        map_type("AggregateFunction(uniq, UInt64)")
    with pytest.raises(DialectError, match="unmapped"):
        map_type("Point")


REPLACING_DDL = """
CREATE TABLE IF NOT EXISTS analytics.users_current ON CLUSTER main
(
    user_id UInt64,
    email Nullable(String),
    balance Decimal(18, 2) DEFAULT 0,
    tags Array(LowCardinality(String)),
    updated_at DateTime64(3),
    day_key Date MATERIALIZED toDate(updated_at),
    INDEX email_idx email TYPE bloom_filter GRANULARITY 4
)
ENGINE = ReplacingMergeTree(updated_at)
PARTITION BY toYYYYMM(updated_at)
ORDER BY (user_id, updated_at)
TTL updated_at + INTERVAL 90 DAY
SETTINGS index_granularity = 8192
"""


def test_replacing_merge_tree_full_plan():
    plan = translate_ddl(REPLACING_DDL)
    assert plan.table == "users_current"
    assert ("user_id", "BIGINT") in plan.columns
    assert ("balance", "DECIMAL(18, 2)") in plan.columns
    assert ("tags", "ARRAY<STRING>") in plan.columns
    assert ("updated_at", "TIMESTAMP") in plan.columns
    # MATERIALIZED column dropped with a record; the bloom_filter INDEX is
    # captured as a parquet-bloom column, not dropped
    assert "day_key" in plan.dropped and "email_idx" not in plan.dropped
    assert plan.bloom_index_cols == ["email"]
    assert plan.engine == "ReplacingMergeTree"
    assert "ParquetUpsertSink" in plan.strategy
    assert plan.order_by == ["user_id", "updated_at"]
    assert plan.partition_expr == "cast(date_format(updated_at, 'yyyyMM') as int)"
    assert plan.partition_col == "p_toyyyymm_updated_at"
    assert plan.partition_type == "INT"
    assert plan.ttl == "updated_at + INTERVAL 90 DAY"


def test_emitted_spark_ddl_executes(spark):
    plan = translate_ddl(REPLACING_DDL)
    spark.sql("DROP TABLE IF EXISTS users_current")
    try:
        spark.sql(plan.spark_ddl)
        cols = {f.name: f.dataType.simpleString() for f in spark.table("users_current").schema}
        assert cols["user_id"] == "bigint"
        assert cols["balance"] == "decimal(18,2)"
        assert cols["p_toyyyymm_updated_at"] == "int"
    finally:
        spark.sql("DROP TABLE IF EXISTS users_current")


def test_plain_column_partition_is_not_rederived():
    plan = translate_ddl(
        "CREATE TABLE t (region String, v UInt64, d Date) "
        "ENGINE = MergeTree PARTITION BY region ORDER BY v"
    )
    assert plan.partition_col == "region"
    assert plan.partition_type == "STRING"
    assert plan.partition_expr is None
    assert ("region", "STRING") not in plan.columns  # moved to partition slot
    assert "PARTITIONED BY (region)" in plan.spark_ddl


def test_engine_family_strategies():
    mk = "CREATE TABLE t (k UInt64, v Int64, sign Int8) ENGINE = {} ORDER BY k"
    assert "cdc_collapsing_state" in translate_ddl(
        mk.format("CollapsingMergeTree(sign)")
    ).strategy
    assert "RetractRollupSink" in translate_ddl(mk.format("SummingMergeTree")).strategy
    assert "sketch_sink" in translate_ddl(mk.format("AggregatingMergeTree")).strategy
    # Replicated prefix strips to the base engine
    assert "ParquetUpsertSink" in translate_ddl(
        mk.format("ReplicatedReplacingMergeTree")
    ).strategy
    with pytest.raises(DialectError, match="MIGRATION.md"):
        translate_ddl(mk.format("EmbeddedRocksDB"))


def test_order_by_translates_functions_and_skips_empty_tuple():
    plan = translate_ddl(
        "CREATE TABLE t (ts DateTime, v UInt64) ENGINE = MergeTree "
        "PARTITION BY tuple() ORDER BY (toStartOfDay(ts), v)"
    )
    assert plan.partition_col is None
    assert plan.order_by == ["date_trunc('day', ts)", "v"]


# ---------------------------------------------------------------------------
# Materialized views
# ---------------------------------------------------------------------------

from python_cdc_postgres_to_clickhouse_spark.ddl import translate_mv  # noqa: E402


def test_mv_to_target_with_group_by_maps_to_rollup_sinks():
    plan = translate_mv(
        "CREATE MATERIALIZED VIEW analytics.mv_daily TO analytics.daily "
        "AS SELECT toStartOfDay(ts) AS day, countIf(event_type = 'purchase') "
        "AS p, uniqExact(user_id) AS u FROM events GROUP BY day"
    )
    assert plan.view == "mv_daily" and plan.target == "daily"
    assert "RetractRollupSink" in plan.strategy
    assert plan.select_spark_sql == (
        "SELECT date_trunc('day', ts) AS day, count(*) FILTER "
        "(WHERE event_type = 'purchase') AS p, count(DISTINCT user_id) AS u "
        "FROM events GROUP BY day"
    )


def test_mv_projection_and_populate_and_engines():
    plan = translate_mv(
        "CREATE MATERIALIZED VIEW mv_flat TO flat AS "
        "SELECT user_id, toStartOfDay(ts) AS day FROM events"
    )
    assert "append projection" in plan.strategy
    plan = translate_mv(
        "CREATE MATERIALIZED VIEW mv2 ENGINE = SummingMergeTree "
        "ORDER BY (Amount, k) POPULATE AS "
        "SELECT k, Amount, sum(v) AS s FROM t GROUP BY k, Amount"
    )
    assert plan.engine == "SummingMergeTree"
    assert "POPULATE" in plan.strategy
    assert plan.select_spark_sql.endswith("GROUP BY k, Amount")
    with pytest.raises(DialectError, match="MATERIALIZED VIEW"):
        translate_mv("CREATE VIEW v AS SELECT 1")


def test_mv_translated_select_executes(spark):
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables
    from .conftest import SF_SMOKE

    load_tables(spark, SF_SMOKE)
    plan = translate_mv(
        "CREATE MATERIALIZED VIEW mv TO t AS SELECT toStartOfDay(ts) AS day, "
        "count() AS n FROM events GROUP BY day"
    )
    assert spark.sql(plan.select_spark_sql).count() > 0


# ---------------------------------------------------------------------------
# PROJECTION entries: parsed to machine-readable specs (round 6)
# ---------------------------------------------------------------------------

PROJ_DDL = """
CREATE TABLE metrics (
    user_id UInt64,
    event_type String,
    ts DateTime,
    value Float64,
    PROJECTION p_daily (
        SELECT event_type, toStartOfDay(ts), count(), sum(value),
               uniq(user_id), avg(value)
        GROUP BY event_type, toStartOfDay(ts)
    ),
    PROJECTION p_by_user (SELECT * ORDER BY user_id, ts)
) ENGINE = MergeTree ORDER BY (event_type, ts)
"""


def test_projection_specs_parse():
    plan = translate_ddl(PROJ_DDL)
    assert [c[0] for c in plan.columns] == ["user_id", "event_type", "ts", "value"]
    agg, reorder = plan.projections
    assert agg.name == "p_daily" and agg.kind == "aggregate"
    assert agg.keys == [
        ("event_type", "event_type"),
        ("k_tostartofday_ts", "date_trunc('day', ts)"),
    ]
    assert agg.measures == {
        "n": ("count", None),
        "sum_value": ("sum", "value"),
        "uniq_user_id": ("uniq", "user_id"),
        "n_value": ("count", "value"),
    }
    # avg decomposes into its (sum, count) state pair + a derived entry
    assert agg.derived == {"avg_value": ("avg", "sum_value", "n_value")}
    assert reorder.name == "p_by_user" and reorder.kind == "reorder"
    assert reorder.order_by == ["user_id", "ts"]


def test_projection_unsupported_aggregate_is_loud():
    bad = PROJ_DDL.replace("sum(value)", "quantile(0.9)(value)")
    with pytest.raises(DialectError, match="sketches"):
        translate_ddl(bad)


def test_projection_spec_builds_and_answers(spark):
    """The parsed spec drives operators/projection.py end to end: build
    from the DDL's own key/measure exprs, answer at the coarser key, match
    a direct aggregate over the base bit-for-bit (plus HLL ≈ exact)."""
    from pyspark.sql import functions as F

    from python_cdc_postgres_to_clickhouse_spark.operators.projection import (
        build_projection,
    )
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

    from .conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE)["events"]
    spec = translate_ddl(PROJ_DDL).projections[0]
    keys, measures = spec.to_operator_args()
    proj = build_projection(events, keys, measures)
    asked = {
        "n": ("count", "n"),
        "sum_value": ("sum", "sum_value"),
        "uniq_user_id": ("uniq", "uniq_user_id"),
    }
    asked.update(spec.derived)
    got = {r["event_type"]: r
           for r in proj.answer(["event_type"], asked).collect()}
    want = {
        r["event_type"]: r
        for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.count_distinct("user_id").alias("exact_u"),
            F.avg("value").alias("avg_value"),
        ).collect()
    }
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g["n"] == w["n"]
        assert g["sum_value"] == pytest.approx(w["sum_value"])
        assert g["avg_value"] == pytest.approx(w["avg_value"])
        assert abs(g["uniq_user_id"] - w["exact_u"]) <= max(4, 0.07 * w["exact_u"])


def test_sample_by_recorded():
    plan = translate_ddl(
        "CREATE TABLE t (user_id UInt64, ts DateTime) ENGINE = MergeTree "
        "ORDER BY (user_id) SAMPLE BY cityHash64(user_id)"
    )
    assert plan.sample_by == "xxhash64(user_id)"
    assert translate_ddl(
        "CREATE TABLE t (x UInt64) ENGINE = MergeTree ORDER BY x"
    ).sample_by is None


def test_table_comment_ends_the_clause_before_it():
    """A table ``COMMENT '…'`` ends the clause before it, and clause
    keywords inside the comment's string literal start no clause."""
    head = "CREATE TABLE t (a Int32, x Int32) ENGINE = MergeTree ORDER BY a"
    plan = translate_ddl(f"{head} COMMENT 'TTL x'")
    assert plan.order_by == ["a"] and plan.ttl is None
    plan = translate_ddl(f"{head} COMMENT 'see PARTITION BY x'")
    assert plan.partition_col is None and [c for c, _ in plan.columns] == ["a", "x"]
    plan = translate_ddl(
        "CREATE TABLE t (a Int32, d Date) ENGINE = MergeTree PARTITION BY d "
        "ORDER BY a COMMENT 'daily' SETTINGS index_granularity = 8192"
    )
    assert plan.partition_col == "d" and plan.order_by == ["a"]


# ---------------------------------------------------------------------------
# Maintenance commands (round 6)
# ---------------------------------------------------------------------------

from python_cdc_postgres_to_clickhouse_spark.ddl import (  # noqa: E402
    translate_maintenance,
)


def test_maintenance_commands_translate():
    p = translate_maintenance("OPTIMIZE TABLE analytics.users FINAL")
    assert p.op == "optimize" and p.table == "users"
    assert "current_state" in p.strategy

    p = translate_maintenance("TRUNCATE TABLE t")
    assert p.op == "truncate" and "empty frame" in p.strategy

    p = translate_maintenance("ALTER TABLE t DROP PARTITION '202601'")
    assert p.op == "drop_partition" and p.partition == "202601"

    p = translate_maintenance(
        "ALTER TABLE events DELETE WHERE toYYYYMM(ts) = 202601"
    )
    assert p.op == "delete"
    assert p.predicate == "cast(date_format(ts, 'yyyyMM') as int) = 202601"

    p = translate_maintenance(
        "ALTER TABLE events UPDATE value = value * 2, "
        "kind = upperUTF8(kind) WHERE user_id = 7"
    )
    assert p.op == "update" and p.predicate == "user_id = 7"
    assert p.assignments == [
        ("value", "value * 2"), ("kind", "upper(kind)"),
    ]

    with pytest.raises(DialectError, match="maintenance"):
        translate_maintenance("ALTER TABLE t ADD COLUMN x Int64")


def test_maintenance_expressions_read_the_given_dictionaries():
    from python_cdc_postgres_to_clickhouse_spark.dialect import (
        Ddl,
        DictionarySpec,
    )

    sql = (
        "ALTER TABLE users UPDATE nation = dictGet('cust_nation', 'n_name', "
        "id) WHERE id > 3"
    )
    with pytest.raises(DialectError, match="'cust_nation' is not registered"):
        translate_maintenance(sql)
    ddl = Ddl().with_dictionary(
        DictionarySpec("cust_nation", "dim_cust_nation", "c_custkey")
    )
    p = translate_maintenance(sql, ddl)
    assert p.predicate == "id > 3"
    assert p.assignments == [(
        "nation",
        "(SELECT max(__dict_val) FROM (SELECT c_custkey AS __dict_key, "
        "n_name AS __dict_val FROM dim_cust_nation) WHERE __dict_key = (id))",
    )]
    p = translate_maintenance(
        "ALTER TABLE users DELETE WHERE dictHas('cust_nation', id)", ddl
    )
    assert "FROM dim_cust_nation" in p.predicate


def test_skip_indexes_bloom_vs_dropped():
    plan = translate_ddl(
        "CREATE TABLE t (a UInt64, b String, c String, "
        "INDEX bi b TYPE bloom_filter GRANULARITY 2, "
        "INDEX ti c TYPE tokenbf_v1(256, 2, 0) GRANULARITY 4, "
        "INDEX mi a TYPE minmax) "
        "ENGINE = MergeTree ORDER BY a"
    )
    assert plan.bloom_index_cols == ["b"]
    # tokenbf/minmax have no parquet analog (minmax is free via footer
    # stats on the clustered layout) — recorded as dropped
    assert "ti" in plan.dropped and "mi" in plan.dropped


# ---------------------------------------------------------------------------
# Round-7: ENGINE = Kafka ingestion tables
# ---------------------------------------------------------------------------

def test_kafka_engine_positional_form_parses_to_source_options():
    from python_cdc_postgres_to_clickhouse_spark.ddl import translate_ddl

    plan = translate_ddl(
        "CREATE TABLE queue (user_id UInt64, payload String) "
        "ENGINE = Kafka('broker1:9092,broker2:9092', "
        "'pg.public.users,pg.public.orders', 'cdc_group', 'AvroConfluent')"
    )
    k = plan.kafka
    assert k is not None
    assert k.brokers == "broker1:9092,broker2:9092"
    assert k.topics == ["pg.public.users", "pg.public.orders"]
    assert k.group == "cdc_group" and k.format == "AvroConfluent"
    assert k.framing == "confluent"
    opts = k.source_options()
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "pg.public.users,pg.public.orders"
    assert opts["kafka.group.id"] == "cdc_group"


def test_kafka_engine_settings_form_parses():
    from python_cdc_postgres_to_clickhouse_spark.ddl import translate_ddl
    from python_cdc_postgres_to_clickhouse_spark.dialect import DialectError
    import pytest

    plan = translate_ddl(
        "CREATE TABLE queue (k String) ENGINE = Kafka "
        "SETTINGS kafka_broker_list = 'b:9092', "
        "kafka_topic_list = 'topic1', kafka_group_name = 'g1', "
        "kafka_format = 'JSONEachRow'"
    )
    assert plan.kafka.brokers == "b:9092"
    assert plan.kafka.topics == ["topic1"]
    assert plan.kafka.framing == "jsoneachrow"  # sources/jsonrows decode
    with pytest.raises(DialectError, match="broker and topic"):
        translate_ddl("CREATE TABLE q (k String) ENGINE = Kafka")
    # storage engines carry no kafka spec
    mt = translate_ddl(
        "CREATE TABLE t (k String) ENGINE = MergeTree ORDER BY k"
    )
    assert mt.kafka is None


# ---------------------------------------------------------------------------
# round 8: SETTINGS insert_deduplicate -> InsertDedupSink contract
# ---------------------------------------------------------------------------

def test_replicated_engine_dedups_inserts_by_default():
    plan = translate_ddl(
        "CREATE TABLE t (k UInt64, v String) "
        "ENGINE = ReplicatedMergeTree ORDER BY k"
    )
    assert plan.insert_dedup and plan.dedup_window == 100
    assert "InsertDedupSink" in plan.strategy


def test_replicated_window_setting_maps_to_sink_window():
    plan = translate_ddl(
        "CREATE TABLE t (k UInt64) ENGINE = ReplicatedMergeTree ORDER BY k "
        "SETTINGS replicated_deduplication_window = 25"
    )
    assert plan.insert_dedup and plan.dedup_window == 25


def test_insert_deduplicate_zero_disables():
    plan = translate_ddl(
        "CREATE TABLE t (k UInt64) ENGINE = ReplicatedMergeTree ORDER BY k "
        "SETTINGS insert_deduplicate = 0"
    )
    assert not plan.insert_dedup
    assert "InsertDedupSink" not in plan.strategy


def test_plain_engine_needs_non_replicated_window():
    off = translate_ddl(
        "CREATE TABLE t (k UInt64) ENGINE = MergeTree ORDER BY k"
    )
    assert not off.insert_dedup
    on = translate_ddl(
        "CREATE TABLE t (k UInt64) ENGINE = MergeTree ORDER BY k "
        "SETTINGS non_replicated_deduplication_window = 7"
    )
    assert on.insert_dedup and on.dedup_window == 7


def test_dedup_sink_is_wired_with_the_ddl_window(spark, tmp_path):
    """The full contract: DDL with the setting yields a working
    InsertDedupSink carrying the mapped window."""
    from python_cdc_postgres_to_clickhouse_spark.streaming.insert_dedup import (
        InsertDedupSink,
    )

    plan = translate_ddl(
        "CREATE TABLE t (k UInt64, v String) "
        "ENGINE = ReplicatedMergeTree ORDER BY k "
        "SETTINGS replicated_deduplication_window = 3"
    )
    sink = plan.dedup_sink(spark, str(tmp_path / "t"))
    assert isinstance(sink, InsertDedupSink) and sink.dedup_window == 3
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    sink.process_batch(df, 0)
    sink.process_batch(df, 1)  # producer resend under a new batch id
    assert sink.current().count() == 1
    plain = translate_ddl(
        "CREATE TABLE p (k UInt64) ENGINE = MergeTree ORDER BY k"
    )
    with pytest.raises(DialectError, match="insert dedup off"):
        plain.dedup_sink(spark, str(tmp_path / "p"))


def test_kafka_tuning_settings_map_to_reader_options():
    """kafka_num_consumers -> minPartitions (decode parallelism),
    kafka_max_block_size -> maxOffsetsPerTrigger (per-trigger bound)."""
    plan = translate_ddl(
        "CREATE TABLE q (k String) ENGINE = Kafka "
        "SETTINGS kafka_broker_list = 'b:9092', kafka_topic_list = 't1', "
        "kafka_format = 'JSONEachRow', kafka_num_consumers = 4, "
        "kafka_max_block_size = 65536"
    )
    opts = plan.kafka.source_options()
    assert opts["minPartitions"] == "4"
    assert opts["maxOffsetsPerTrigger"] == "65536"
    # absent settings stay absent
    plain = translate_ddl(
        "CREATE TABLE q2 (k String) ENGINE = "
        "Kafka('b:9092', 't1', 'g', 'Avro')"
    )
    o2 = plain.kafka.source_options()
    assert "minPartitions" not in o2 and "maxOffsetsPerTrigger" not in o2


def test_modify_ttl_translates_to_compaction_horizon():
    from python_cdc_postgres_to_clickhouse_spark.ddl import (
        translate_maintenance,
    )

    plan = translate_maintenance(
        "ALTER TABLE metrics MODIFY TTL ts + INTERVAL 30 DAY"
    )
    assert plan.op == "modify_ttl" and plan.table == "metrics"
    assert "INTERVAL" in plan.ttl.upper() and "compact" in plan.strategy


# ---------------------------------------------------------------------------
# Quoted text: parentheses and commas inside string literals are text
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "sql",
    [
        "CREATE TABLE t (a String COMMENT 'see (note', b Int32) "
        "ENGINE = MergeTree ORDER BY a",
        "CREATE TABLE t (a String DEFAULT ')', b Int32) "
        "ENGINE = MergeTree ORDER BY a",
        "CREATE TABLE t (a String DEFAULT 'x,y', b Int32) "
        "ENGINE = MergeTree ORDER BY a",
    ],
)
def test_quoted_parens_and_commas_stay_inside_their_column(sql):
    plan = translate_ddl(sql)
    assert plan.columns == [("a", "STRING"), ("b", "INT")]
    assert plan.order_by == ["a"]


def test_dictionary_attribute_default_with_a_quoted_paren():
    from python_cdc_postgres_to_clickhouse_spark.ddl import translate_dictionary

    plan = translate_dictionary(
        "CREATE DICTIONARY d (k UInt64, v String DEFAULT ')', w Int32) "
        "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(HASHED()) "
        "LIFETIME(300)"
    )
    assert plan.columns == [("k", "BIGINT"), ("v", "STRING"), ("w", "INT")]
    assert (plan.key, plan.source_table) == ("k", "src")


def test_update_assignment_with_a_quoted_comma():
    p = translate_maintenance("ALTER TABLE t UPDATE note = 'a,b' WHERE id = 1")
    assert p.assignments == [("note", "'a,b'")]
