"""ClickHouse SQL dialect shim: translation strings, semantics vs DuckDB,
clause handling, loud-unsupported errors, and the translated plans' shape."""

from __future__ import annotations

import pytest

from python_cdc_postgres_to_clickhouse_spark import plans as P
from python_cdc_postgres_to_clickhouse_spark.dialect import (
    DialectError,
    clickhouse_sql,
    translate,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_SMOKE
from .oracle_harness import canon_rows, run_oracle


# ---------------------------------------------------------------------------
# translate(): string-level rules
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    ("ch", "expect"),
    [
        ("toStartOfDay(ts)", "date_trunc('day', ts)"),
        ("toYYYYMM(ts)", "cast(date_format(ts, 'yyyyMM') as int)"),
        ("toDayOfWeek(ts)", "(((dayofweek(ts) + 5) % 7) + 1)"),
        ("toInt64(x)", "cast(x as bigint)"),
        ("toInt64OrNull(x)", "try_cast(x as bigint)"),
        ("uniq(x)", "approx_count_distinct(x)"),
        ("uniqExact(a, b)", "count(DISTINCT a, b)"),
        ("argMax(a, b)", "max_by(a, b)"),
        ("quantile(0.9)(x)", "percentile_approx(x, 0.9)"),
        ("quantilesExact(0.5, 0.9)(x)", "percentile(x, array(0.5, 0.9))"),
        ("uniqUpTo(3)(x)", "least(count(DISTINCT x), 3 + 1)"),
        ("groupArray(x)", "collect_list(x)"),
        ("groupArray(5)(x)", "slice(collect_list(x), 1, 5)"),
        ("countIf(c)", "count(*) FILTER (WHERE c)"),
        ("sumIf(x, c)", "sum(x) FILTER (WHERE c)"),
        ("uniqExactIf(x, c)", "count(DISTINCT if(c, x, NULL))"),
        ("position(h, n)", "locate(n, h)"),
        ("match(s, 'ab')", "(s RLIKE 'ab')"),
        ("extract(s, '(a)b')", "regexp_extract(s, '(a)b', 1)"),
        ("extract(s, 'ab')", "regexp_extract(s, 'ab', 0)"),
        ("arrayFilter(x -> x > 1, a)", "filter(a, x -> x > 1)"),
        ("arrayMap(x -> x + 1, a)", "transform(a, x -> x + 1)"),
        ("arrayMap((x, y) -> x + y, a, b)", "zip_with(a, b, (x, y) -> x + y)"),
        ("has(a, 1)", "array_contains(a, 1)"),
        ("arrayStringConcat(a, '_')", "array_join(a, '_')"),
        ("JSONExtractString(j, 'k')", "get_json_object(j, '$.k')"),
        ("count()", "count(*)"),
        ("dateDiff('day', a, b)", "timestampdiff(DAY, a, b)"),
        ("formatDateTime(ts, '%Y-%m-%d')", "date_format(ts, 'yyyy-MM-dd')"),
        ("cityHash64(x)", "xxhash64(x)"),
        ("intDiv(a, b)", "(a div b)"),
        ("MD5(x)", "unhex(md5(x))"),
        ("multiIf(c1, v1, c2, v2, v3)",
         "CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ELSE v3 END"),
        ("range(5)", "sequence(0, 5 - 1)"),
        ("uniqState(x)", "hll_sketch_agg(x)"),
        ("uniqHLL12State(x)", "hll_sketch_agg(x)"),
        ("uniqMerge(s)", "hll_sketch_estimate(hll_union_agg(s))"),
        ("uniqMergeState(s)", "hll_union_agg(s)"),
        ("countState()", "count(*)"),
        ("countMerge(n)", "sum(n)"),
        ("sumState(x)", "sum(x)"),
        ("sumMerge(s)", "sum(s)"),
        ("minMerge(s)", "min(s)"),
        ("maxMerge(s)", "max(s)"),
    ],
)
def test_translate_expressions(ch, expect):
    assert translate(f"SELECT {ch} FROM t") == f"SELECT {expect} FROM t"


def test_aggregate_names_resolve_case_insensitively():
    assert translate("SELECT COUNT(), UNIQEXACT(x), ArgMax(a, b) FROM t") == (
        "SELECT count(*), count(DISTINCT x), max_by(a, b) FROM t"
    )
    assert translate("SELECT QUANTILE(0.9)(v) FROM t") == (
        "SELECT percentile_approx(v, 0.9) FROM t"
    )
    # non-aggregate camelCase stays case-sensitive (a different identifier)
    assert translate("SELECT todate(x) FROM t") == "SELECT todate(x) FROM t"


def test_nested_calls_rewrite_recursively():
    out = translate("SELECT sumIf(toInt64(round(v * 100)), notEmpty(s)) FROM t")
    assert out == (
        "SELECT sum(cast(bround(v * 100) as bigint)) "
        "FILTER (WHERE (length(s) > 0)) FROM t"
    )


def test_prewhere_merges_with_where_parenthesized():
    out = translate("SELECT x FROM t PREWHERE a = 1 OR b = 2 WHERE c = 3 GROUP BY x")
    assert out == "SELECT x FROM t WHERE (a = 1 OR b = 2) AND (c = 3) GROUP BY x"


def test_prewhere_alone_becomes_where():
    assert translate("SELECT x FROM t PREWHERE a = 1") == (
        "SELECT x FROM t WHERE (a = 1)"
    )


def test_final_dropped_after_table_but_kept_as_column():
    assert translate("SELECT x FROM t FINAL WHERE a = 1") == (
        "SELECT x FROM t WHERE a = 1"
    )
    # `final` directly after SELECT is a column reference, not the modifier
    assert translate("SELECT final FROM t") == "SELECT final FROM t"


def test_format_and_settings_stripped():
    assert translate("SELECT x FROM t FORMAT JSONEachRow") == "SELECT x FROM t"
    assert translate("SELECT x FROM t SETTINGS max_threads = 4") == (
        "SELECT x FROM t"
    )
    # inside a subquery, the enclosing paren survives
    assert translate("SELECT * FROM (SELECT x FROM t SETTINGS join_use_nulls = 1)") == (
        "SELECT * FROM (SELECT x FROM t)"
    )


def test_join_modifiers_stripped_but_union_all_kept():
    # ANY JOIN is NOT a no-op modifier: CH picks one right row per key, so
    # stripping it would fan out on duplicate keys. Both the USING form
    # and (since round 8) the equi ON form rewrite to an explicit
    # one-row-per-key pick.
    assert translate("SELECT * FROM a ANY LEFT JOIN b USING (k)") == (
        "SELECT * FROM a LEFT JOIN (SELECT * EXCEPT (__rn) FROM "
        "(SELECT *, row_number() OVER (PARTITION BY k ORDER BY k) AS __rn "
        "FROM b) WHERE __rn = 1) AS b USING (k)"
    )
    assert "__rn = 1" in translate("SELECT * FROM a ANY LEFT JOIN b ON a.k = b.k")
    with pytest.raises(DialectError, match="LEFT side"):
        translate("SELECT * FROM a ANY RIGHT JOIN b USING (k)")
    assert translate("SELECT * FROM a GLOBAL INNER JOIN b ON a.k = b.k") == (
        "SELECT * FROM a INNER JOIN b ON a.k = b.k"
    )
    assert translate("SELECT x FROM a UNION ALL SELECT x FROM b") == (
        "SELECT x FROM a UNION ALL SELECT x FROM b"
    )


def test_array_join_becomes_lateral_view():
    out = translate("SELECT tok FROM t ARRAY JOIN splitByChar(' ', s) AS tok")
    assert "LATERAL VIEW explode(split(s, '\\ '))" in out and "AS tok" in out
    out = translate("SELECT tok FROM t LEFT ARRAY JOIN arr AS tok WHERE tok != ''")
    assert "LATERAL VIEW OUTER explode(arr)" in out


def test_array_join_translation_is_deterministic():
    q = "SELECT a, b FROM t ARRAY JOIN xs AS a ARRAY JOIN ys AS b"
    out = translate(q)
    assert translate(q) == out
    assert "explode(xs) _aj1 AS a" in out and "explode(ys) _aj2 AS b" in out


def test_limit_by_rewrites_to_window_wrapper():
    out = translate(
        "SELECT event_type, value FROM events "
        "ORDER BY value DESC LIMIT 2 BY event_type"
    )
    assert out == (
        "SELECT * EXCEPT(__rn) FROM (SELECT __q.*, row_number() "
        "OVER (PARTITION BY event_type ORDER BY value DESC) AS __rn "
        "FROM (SELECT event_type, value FROM events) AS __q) "
        "WHERE __rn <= 2 ORDER BY value DESC"
    )
    # without ORDER BY, the window orders by the keys; trailing LIMIT kept
    out = translate("SELECT k, v FROM t LIMIT 1 BY k LIMIT 10")
    assert out.endswith("WHERE __rn <= 1 LIMIT 10")
    assert "PARTITION BY k ORDER BY k" in out


def test_with_totals_becomes_grouping_sets():
    out = translate("SELECT k, count() AS n FROM t GROUP BY k WITH TOTALS")
    assert out == (
        "SELECT k, count(*) AS n FROM t GROUP BY GROUPING SETS((k), ())"
    )
    # multi-key, computed key
    out = translate(
        "SELECT toStartOfDay(ts) AS d, k, count() AS n FROM t "
        "GROUP BY toStartOfDay(ts), k WITH TOTALS HAVING n > 1"
    )
    assert "GROUPING SETS((date_trunc('day', ts), k), ())" in out
    # WITH ROLLUP / CTE WITH are untouched
    assert "WITH ROLLUP" in translate("SELECT k FROM t GROUP BY k WITH ROLLUP")
    assert translate("WITH c AS (SELECT 1 AS a) SELECT * FROM c").startswith("WITH c AS")


def test_with_fill_rewrites_to_spine_join():
    # Bounded fill: explicit [FROM, TO) spine, existing rows kept via FULL OUTER.
    out = translate("SELECT h, n FROM t ORDER BY h WITH FILL FROM 0 TO 24")
    assert "sequence(0, 24, 1)" in out
    assert "FULL OUTER JOIN" in out and "USING (h)" in out
    assert out.rstrip().endswith("ORDER BY h")
    # STEP and a trailing LIMIT survive.
    out = translate(
        "SELECT h FROM t ORDER BY h WITH FILL FROM 0 TO 10 STEP 2 LIMIT 3"
    )
    assert "sequence(0, 10, 2)" in out and out.rstrip().endswith("LIMIT 3")
    # Unbounded fill spans the data's own min..max.
    out = translate("SELECT h, n FROM t GROUP BY h ORDER BY h WITH FILL")
    assert "min(h)" in out and "max(h)" in out


def test_with_fill_unsupported_forms_raise():
    # DESC and bare INTERPOLATE translate since round 8, the AS-expr
    # recurrence since round 9, and multi/grouped/expression fill keys
    # since round 12 — the remaining loud forms are half-specified
    # bounds, trailing non-fill keys, and nested fills.
    out = translate(
        "SELECT d, v FROM t ORDER BY d WITH FILL FROM 0 TO 5 "
        "INTERPOLATE (v AS v * 2)"
    )
    assert "aggregate(" in out  # per-gap recurrence fold
    # expression fill keys translate since round 12 (hidden spine column)
    out = translate("SELECT d FROM t ORDER BY d + 1 WITH FILL")
    assert "__fill_k0" in out and "FULL OUTER JOIN" in out
    with pytest.raises(DialectError, match="FROM and TO"):
        translate("SELECT d FROM t ORDER BY d WITH FILL FROM 0")
    with pytest.raises(DialectError, match="TRAILING"):
        translate("SELECT d, g FROM t ORDER BY d WITH FILL, g")
    with pytest.raises(DialectError, match="x_gap_fill_locf"):
        translate("SELECT x FROM (SELECT d AS x FROM t ORDER BY d "
                  "WITH FILL) ORDER BY x")


def test_array_combinators_and_float_classification():
    assert translate("SELECT sumArray(a) FROM t") == (
        "SELECT sum(aggregate(a, 0D, (acc, x) -> acc + x)) FROM t"
    )
    assert translate("SELECT isNaN(x), ifNotFinite(x, 0.0) FROM t") == (
        "SELECT isnan(x), (CASE WHEN isnan(x) OR abs(x) = double('inf') "
        "THEN 0.0 ELSE x END) FROM t"
    )


def test_scalar_with_substitutes_named_constants():
    out = translate(
        "WITH 100 AS cap, lower('X') AS tag "
        "SELECT toInt64(cap) AS c FROM t WHERE v < cap AND s != tag"
    )
    assert out == (
        "SELECT cast((100) as bigint) AS c FROM t "
        "WHERE v <(100) AND s !=(lower('X'))"
    )
    # standard CTE form untouched
    assert translate("WITH c AS (SELECT 1 AS a) SELECT a FROM c") == (
        "WITH c AS (SELECT 1 AS a) SELECT a FROM c"
    )
    # qualified and call-position tokens are not substituted
    out = translate("WITH 5 AS k SELECT t.k, k FROM t")
    assert out == "SELECT t.k,(5) FROM t"


def test_global_in_hint_stripped():
    assert translate("SELECT x FROM t WHERE k GLOBAL IN (SELECT k FROM d)") == (
        "SELECT x FROM t WHERE k IN (SELECT k FROM d)"
    )
    assert translate("SELECT x FROM t WHERE k GLOBAL NOT IN (1, 2)") == (
        "SELECT x FROM t WHERE k NOT IN (1, 2)"
    )


def test_numbers_table_function(spark):
    out = translate("SELECT sum(number) AS s FROM numbers(100)")
    assert out == (
        "SELECT sum(number) AS s FROM (SELECT id AS number FROM range(100))"
    )
    assert spark.sql(out).collect()[0]["s"] == 4950
    out2 = translate("SELECT count() AS n, min(number) AS lo FROM numbers(5, 10)")
    r = spark.sql(out2).collect()[0]
    assert (r["n"], r["lo"]) == (10, 5)


def test_ansi_extract_passes_through():
    assert translate("SELECT EXTRACT(YEAR FROM ts) FROM t") == (
        "SELECT EXTRACT(YEAR FROM ts) FROM t"
    )


def test_qualified_and_quoted_names_untouched():
    assert translate("SELECT t.toDate FROM db.t") == "SELECT t.toDate FROM db.t"
    assert translate('SELECT "toDate"(x) FROM t') == 'SELECT "toDate"(x) FROM t'


@pytest.mark.parametrize(
    ("sql", "hint"),
    [
        ("SELECT * FROM (SELECT x FROM t LIMIT 3 BY k)", "w_topk_per_group"),
        ("SELECT x FROM a UNION ALL SELECT x FROM b LIMIT 3 BY x", "subquery"),
        ("SELECT topKWeighted(5)(x, w) FROM t", "x_heavy_hitters"),
        ("SELECT topKWeighted(5)(x, w) FROM t1", "x_heavy_hitters"),
        # combined modes TRANSLATE since round 12 (composed scan fold);
        # unknown mode names stay loud:
        ("SELECT windowFunnel(60, 'strict_order', 'strict_onze')"
         "(ts, a, b) FROM t", "not one of"),
        # comma-joined mode strings are invalid in real ClickHouse too —
        # the shim rejects them and names the canonical spelling
        # (ADVICE r12: the tolerance was a silent shim-only extension):
        ("SELECT windowFunnel(60, 'strict_order,strict_increase')"
         "(ts, a, b) FROM t", "own parameter"),
        # no inequality conjunct: the interval-izing rewrite can't anchor
        ("SELECT a FROM t1 ASOF JOIN t2 ON t1.k = t2.k", "inequality"),
        ("SELECT quantileMerge(s) FROM t", "components separately"),
        ("SELECT exponentialMovingAverage(1)(v, ts) FROM t", "x_ewma_trailing"),
    ],
)
def test_unsupported_constructs_raise_with_hint(sql, hint):
    with pytest.raises(DialectError, match=hint):
        translate(sql)


# ---------------------------------------------------------------------------
# Semantics: translated Spark result == hand-written DuckDB ANSI
# ---------------------------------------------------------------------------

_SEMANTIC_CASES = [
    (
        "day_of_week_monday_1",
        "SELECT toDayOfWeek(ts) AS dw, count() AS n FROM events "
        "GROUP BY dw ORDER BY dw",
        "SELECT isodow(ts) AS dw, COUNT(*) AS n FROM events "
        "GROUP BY 1 ORDER BY 1",
    ),
    (
        "yyyymm_and_datediff",
        "SELECT toYYYYMM(ts) AS ym, "
        "dateDiff('day', toDate(ts), toDate('2026-01-01')) AS dd, "
        "count() AS n FROM events GROUP BY ym, dd ORDER BY ym, dd",
        "SELECT CAST(strftime(ts, '%Y%m') AS INT) AS ym, "
        "datediff('day', CAST(ts AS DATE), DATE '2026-01-01') AS dd, "
        "COUNT(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    (
        "if_combinators_and_casts",
        "SELECT event_type, countIf(value > 1) AS big, "
        "sumIf(toInt64(round(value * 100)), user_id % 2 = 0) AS even_cents, "
        "uniqExactIf(user_id, value > 1) AS big_users "
        "FROM events GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, "
        "CAST(COUNT(CASE WHEN value > 1 THEN 1 END) AS BIGINT) AS big, "
        "CAST(SUM(CASE WHEN user_id % 2 = 0 "
        "THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS even_cents, "
        "CAST(COUNT(DISTINCT CASE WHEN value > 1 THEN user_id END) AS BIGINT) "
        "AS big_users FROM events GROUP BY 1 ORDER BY 1",
    ),
    (
        "string_functions",
        "SELECT doc_id, position(text, 'and') AS p, "
        "if(startsWith(text, 'The'), 1, 0) AS t0, "
        "length(replaceAll(substring(text, 1, 50), ' ', '')) AS packed "
        "FROM documents ORDER BY doc_id",
        "SELECT doc_id, CAST(strpos(text, 'and') AS BIGINT) AS p, "
        "CASE WHEN starts_with(text, 'The') THEN 1 ELSE 0 END AS t0, "
        "CAST(length(replace(substring(text, 1, 50), ' ', '')) AS BIGINT) "
        "AS packed FROM documents ORDER BY doc_id",
    ),
    (
        "array_lambdas",
        "SELECT doc_id, "
        "arrayCount(w -> length(w) > 4, splitByChar(' ', text)) AS long_words, "
        "arrayUniq(splitByChar(' ', text)) AS uniq_words "
        "FROM documents ORDER BY doc_id",
        "SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), "
        "w -> length(w) > 4)) AS BIGINT) AS long_words, "
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) "
        "AS uniq_words FROM documents ORDER BY doc_id",
    ),
    (
        "json_and_multiif",
        "SELECT multiIf(JSONExtractInt(props, 'k') < 30, 'lo', "
        "JSONExtractInt(props, 'k') < 70, 'mid', 'hi') AS band, "
        "count() AS n FROM events GROUP BY band ORDER BY band",
        "SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 30 "
        "THEN 'lo' WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 70 "
        "THEN 'mid' ELSE 'hi' END AS band, COUNT(*) AS n "
        "FROM events GROUP BY 1 ORDER BY 1",
    ),
    (
        "array_join_clause",
        "SELECT tok, count() AS n FROM documents "
        "ARRAY JOIN splitByChar(' ', lower(text)) AS tok "
        "WHERE tok != '' AND length(tok) > 6 GROUP BY tok ORDER BY n DESC, tok "
        "LIMIT 10",
        "SELECT tok, COUNT(*) AS n FROM (SELECT unnest(string_split(lower(text), "
        "' ')) AS tok FROM documents) t WHERE tok <> '' AND length(tok) > 6 "
        "GROUP BY tok ORDER BY n DESC, tok LIMIT 10",
    ),
    (
        "limit_by_top2_per_type",
        "SELECT event_type, event_id, value FROM events "
        "ORDER BY value DESC, event_id LIMIT 2 BY event_type",
        "SELECT event_type, event_id, value FROM "
        "(SELECT event_type, event_id, value, ROW_NUMBER() OVER "
        "(PARTITION BY event_type ORDER BY value DESC, event_id) AS rn "
        "FROM events) t WHERE rn <= 2",
    ),
    (
        "with_totals_row",
        "SELECT event_type AS k, count() AS n, "
        "sumIf(toInt64(round(value * 100)), value > 0) AS cents "
        "FROM events GROUP BY event_type WITH TOTALS ORDER BY k",
        "SELECT event_type AS k, COUNT(*) AS n, "
        "CAST(SUM(CASE WHEN value > 0 THEN CAST(round(value * 100) AS BIGINT) "
        "END) AS BIGINT) AS cents FROM events "
        "GROUP BY GROUPING SETS ((event_type), ()) ORDER BY k",
    ),
    (
        "retention_and_subscripts",
        "SELECT sum(r[1]) AS r1, sum(r[2]) AS r2 FROM "
        "(SELECT user_id, retention(value > 1, value > 2) AS r "
        "FROM events GROUP BY user_id) AS per_user",
        "SELECT CAST(SUM(f1) AS BIGINT) AS r1, "
        "CAST(SUM(f1 * f2) AS BIGINT) AS r2 FROM "
        "(SELECT user_id, "
        "MAX(CASE WHEN value > 1 THEN 1 ELSE 0 END) AS f1, "
        "MAX(CASE WHEN value > 2 THEN 1 ELSE 0 END) AS f2 "
        "FROM events GROUP BY user_id) per_user",
    ),
    (
        "lookup_transform_buckets",
        "SELECT transform(lang, ['en', 'de'], ['english', 'german'], 'other') "
        "AS l, count() AS n FROM documents GROUP BY l ORDER BY l",
        "SELECT CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german' "
        "ELSE 'other' END AS l, COUNT(*) AS n "
        "FROM documents GROUP BY 1 ORDER BY 1",
    ),
    (
        "array_calculus_telescoping",
        "SELECT doc_id, "
        "arraySum(arrayDifference(arrayMap(w -> length(w), "
        "splitByChar(' ', text)))) AS sd "
        "FROM documents ORDER BY doc_id",
        # sum of consecutive differences telescopes to last - first
        "SELECT doc_id, CAST(length(string_split(text, ' ')[-1]) "
        "- length(string_split(text, ' ')[1]) AS DOUBLE) AS sd "
        "FROM documents ORDER BY doc_id",
    ),
    (
        "any_join_one_row_per_key",
        # right side holds ~hundreds of duplicate rows per key, identical in
        # the selected columns — ANY must keep |documents| rows, not fan out
        "SELECT doc_id, tag FROM documents "
        "ANY LEFT JOIN (SELECT user_id % 50 AS doc_id, 'x' AS tag "
        "FROM events) AS e USING (doc_id) ORDER BY doc_id",
        "SELECT d.doc_id, e.tag FROM documents d LEFT JOIN "
        "(SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS doc_id, 'x' AS tag "
        "FROM events) e USING (doc_id) ORDER BY d.doc_id",
    ),
    (
        "uniq_up_to_and_group_limits",
        "SELECT source, uniqUpTo(2)(lang) AS lang_cap, uniqExact(doc_id) AS docs "
        "FROM documents GROUP BY source ORDER BY source",
        "SELECT source, CAST(LEAST(COUNT(DISTINCT lang), 3) AS BIGINT) AS lang_cap, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs "
        "FROM documents GROUP BY 1 ORDER BY 1",
    ),
]


@pytest.mark.parametrize(
    ("name", "ch", "duck"), _SEMANTIC_CASES, ids=[c[0] for c in _SEMANTIC_CASES]
)
def test_translated_semantics_match_duckdb(spark, name, ch, duck):
    load_tables(spark, SF_SMOKE)
    sdf = clickhouse_sql(spark, ch).toPandas()
    odf = run_oracle(duck, SF_SMOKE)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)}"
    assert canon_rows(sdf) == canon_rows(odf), name


def test_translated_runs_that_cannot_be_value_compared(spark):
    """Engine-specific values (quantile interpolation, hash functions,
    approx distinct) still translate and execute."""
    load_tables(spark, SF_SMOKE)
    df = clickhouse_sql(
        spark,
        "SELECT quantile(0.9)(value) AS q90, quantileExact(0.5)(value) AS med, "
        "uniq(user_id) AS au, cityHash64(event_type) AS h, "
        "anyLast(event_type) AS al FROM events GROUP BY h",
    )
    assert df.count() > 0


def test_state_merge_rollup_semantics(spark):
    """The AggregatingMergeTree pattern: every value-state column of the
    two-level State->Merge rollup is EXACT (equal to aggregating once), and
    the HLL estimate is (a) bit-identical to a single-level sketch — the
    register-max merge is associative — and (b) within 5% of exact."""
    load_tables(spark, SF_SMOKE)
    from python_cdc_postgres_to_clickhouse_spark.queries.chsql import (
        CH_STATE_MERGE_ROLLUP,
    )

    two = {r["event_type"]: r for r in clickhouse_sql(
        spark, CH_STATE_MERGE_ROLLUP).collect()}
    one = {r["event_type"]: r for r in spark.sql(
        "SELECT event_type, "
        "hll_sketch_estimate(hll_sketch_agg(user_id)) AS uniq_users, "
        "count(*) AS n_events, "
        "min(cast(round(value * 100) as bigint)) AS min_cents, "
        "max(cast(round(value * 100) as bigint)) AS max_cents, "
        "sum(cast(round(value * 100) as bigint)) AS sum_cents "
        "FROM events GROUP BY event_type",
    ).collect()}
    exact = {r["event_type"]: r["d"] for r in clickhouse_sql(
        spark,
        "SELECT event_type, uniqExact(user_id) AS d FROM events "
        "GROUP BY event_type",
    ).collect()}
    assert set(two) == set(one) and len(two) > 0
    for k, t in two.items():
        o = one[k]
        for c in ("n_events", "min_cents", "max_cents", "sum_cents"):
            assert t[c] == o[c], (k, c, t[c], o[c])
        assert t["uniq_users"] == o["uniq_users"], (
            "HLL two-level merge not associative-identical", k)
        assert abs(t["uniq_users"] - exact[k]) <= max(2, 0.05 * exact[k]), (
            k, t["uniq_users"], exact[k])


# ---------------------------------------------------------------------------
# Plans: going through the dialect costs nothing
# ---------------------------------------------------------------------------

def test_dialect_rollup_plan_partial_aggregates_and_prunes(spark):
    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

    df = all_queries()["sql_ch_events_rollup"].fn(spark, SF_SMOKE)
    assert P.has_partial_aggregate(df)
    cols = set(P.read_schema_columns(df))
    assert cols <= {"ts", "event_type", "user_id", "value", "props"}, cols


def test_limit_by_plans_as_window_group_limit(spark):
    """The LIMIT BY rewrite keeps ClickHouse's execution shape: the
    row_number()<=n filter pushes a per-group heap into the shuffle."""
    load_tables(spark, SF_SMOKE)
    df = clickhouse_sql(
        spark,
        "SELECT event_type, event_id, value FROM events "
        "ORDER BY value DESC, event_id LIMIT 2 BY event_type",
    )
    assert P.has_window_group_limit(df), P.physical_plan(df)


def test_dialect_scalar_plan_is_exchange_free(spark):
    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

    df = all_queries()["sql_ch_docs_scalars"].fn(spark, SF_SMOKE)
    plan = P.physical_plan(df)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# Property test: random well-typed CH expressions translate to Spark SQL
# that ANALYZES (catches arg-order/arity/rendering bugs the example-based
# tests miss). Strategies build type-correct trees over events columns.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _num(depth):
    leaf = st.sampled_from(["value", "user_id", "3", "2.5"])
    if depth <= 0:
        return leaf
    sub = _num(depth - 1)
    return st.one_of(
        leaf,
        sub.map(lambda a: f"abs({a})"),
        sub.map(lambda a: f"toInt64(round({a}))"),
        sub.map(lambda a: f"roundBankers({a}, 2)"),
        st.tuples(sub, sub).map(lambda t: f"plus({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"multiply({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"modulo(toInt64({t[0]}), 7)"),
        _str(depth - 1).map(lambda s: f"lengthUTF8({s})"),
    )


def _str(depth):
    leaf = st.sampled_from(["event_type", "props", "'ab'"])
    if depth <= 0:
        return leaf
    sub = _str(depth - 1)
    return st.one_of(
        leaf,
        sub.map(lambda s: f"lowerUTF8({s})"),
        sub.map(lambda s: f"upperUTF8({s})"),
        sub.map(lambda s: f"trimBoth({s})"),
        sub.map(lambda s: f"substring({s}, 1, 4)"),
        sub.map(lambda s: f"replaceAll({s}, 'a', 'b')"),
        st.tuples(sub, sub).map(lambda t: f"concat({t[0]}, {t[1]})"),
        _num(depth - 1).map(lambda a: f"toString({a})"),
        sub.map(lambda s: f"JSONExtractString({s}, 'k')"),
    )


def _bool(depth):
    n, s = _num(depth - 1), _str(depth - 1)
    return st.one_of(
        st.tuples(n, n).map(lambda t: f"{t[0]} > {t[1]}"),
        s.map(lambda x: f"match({x}, 'a+')"),
        s.map(lambda x: f"notEmpty({x})"),
        s.map(lambda x: f"startsWith({x}, 'a')"),
        s.map(lambda x: f"isNotNull({x})"),
    )


def _ts(depth):
    leaf = st.just("ts")
    if depth <= 0:
        return leaf
    sub = _ts(depth - 1)
    return st.one_of(
        leaf,
        sub.map(lambda t: f"toStartOfDay({t})"),
        sub.map(lambda t: f"toStartOfFifteenMinutes({t})"),
        st.tuples(sub, _num(0)).map(lambda t: f"addHours({t[0]}, toInt64({t[1]}))"),
    )


def _arrnum(depth):
    leaf = st.sampled_from(["[1, 2, 3]", "[10, 20]", "range(4)"])
    if depth <= 0:
        return leaf
    sub = _arrnum(depth - 1)
    return st.one_of(
        leaf,
        sub.map(lambda a: f"arrayCumSum({a})"),
        sub.map(lambda a: f"arrayDifference({a})"),
        sub.map(lambda a: f"arrayCompact({a})"),
        st.tuples(sub, _num(0)).map(
            lambda t: f"arrayPushBack({t[0]}, toInt64({t[1]}))"
        ),
        sub.map(lambda a: f"arraySort({a})"),
    )


def _expr(depth=3):
    return st.one_of(
        _num(depth),
        _str(depth),
        _ts(depth),
        # round-6 surface: brackets/subscripts, array calculus, tuples,
        # lookup transform, interval floors
        st.tuples(_arrnum(depth - 1), st.integers(-3, 4)).map(
            # CH subscripts are 1-based; skip 0 (invalid on both engines)
            lambda t: f"{t[0]}[{t[1] if t[1] >= 1 else t[1] - 1}]"
        ),
        _arrnum(depth - 1).map(lambda a: f"arraySum({a})"),
        st.tuples(_arrnum(depth - 1), _num(0)).map(
            lambda t: f"countEqual({t[0]}, toInt64({t[1]}))"
        ),
        st.tuples(_num(depth - 1), _str(depth - 1)).map(
            lambda t: f"tupleElement(tuple({t[0]}, {t[1]}), 2)"
        ),
        _str(depth - 1).map(
            lambda s: f"transform({s}, ['a', 'b'], ['x', 'y'], 'z')"
        ),
        _ts(depth - 1).map(
            lambda t: f"toStartOfInterval({t}, INTERVAL 10 MINUTE)"
        ),
        st.tuples(_bool(depth), _num(depth - 1), _num(depth - 1)).map(
            lambda t: f"if({t[0]}, {t[1]}, {t[2]})"
        ),
        st.tuples(
            _bool(depth), _str(depth - 1), _bool(depth - 1),
            _str(depth - 1), _str(depth - 1),
        ).map(lambda t: f"multiIf({t[0]}, {t[1]}, {t[2]}, {t[3]}, {t[4]})"),
        _ts(depth).map(lambda t: f"toYYYYMM({t})"),
        _ts(depth).map(lambda t: f"toDayOfWeek({t})"),
        _ts(depth).map(lambda t: f"formatDateTime({t}, '%Y-%m-%d')"),
        # round-7 surface: enumerations, tokenizers, readable sizes,
        # ISO-year anchors, MJD arithmetic, map constructors, OrZero casts
        _arrnum(depth - 1).map(lambda a: f"arrayEnumerateUniq({a})"),
        _arrnum(depth - 1).map(lambda a: f"arrayEnumerateDense({a})"),
        _arrnum(depth - 1).map(
            lambda a: f"arrayResize({a}, 4, toInt64(0))"
        ),
        _arrnum(depth - 1).map(
            lambda a: f"arrayFirstIndex(x -> x > 1, {a})"
        ),
        _str(depth - 1).map(lambda s: f"tokens({s})"),
        _str(depth - 1).map(lambda s: f"ngrams({s}, 2)"),
        _str(depth - 1).map(lambda s: f"countMatches({s}, '[a-z]+')"),
        _str(depth - 1).map(lambda s: f"extractAll({s}, '([a-z]+)')"),
        _str(depth - 1).map(lambda s: f"replaceOne({s}, 'a', '_')"),
        _num(depth - 1).map(lambda n: f"formatReadableSize({n})"),
        _ts(depth - 1).map(lambda t: f"dateName('month', {t})"),
        _ts(depth - 1).map(lambda t: f"toISOYear({t})"),
        _ts(depth - 1).map(lambda t: f"toStartOfISOYear({t})"),
        _ts(depth - 1).map(
            lambda t: f"fromModifiedJulianDay(toModifiedJulianDay(toDate({t})))"
        ),
        _str(depth - 1).map(lambda s: f"toInt64OrZero({s})"),
        st.just("mapKeys(mapFromArrays(['a', 'b'], [1, 2]))"),
        st.tuples(_num(depth - 1), _num(depth - 1)).map(
            lambda t: f"quantileExactWeighted(0.5)(toInt64({t[0]}), 1 + abs(toInt64({t[1]})) % 5)"
        ),
        # round-9 wave-3/4 surface: multiSearch, bitmap algebra, vector
        # math, fill/split folds, URL/string leftovers, readable quantity
        st.tuples(_str(depth - 1)).map(
            lambda t: f"multiSearchFirstPosition({t[0]}, ['a', 'zz'])"
        ),
        st.tuples(_arrnum(depth - 1), _arrnum(depth - 1)).map(
            lambda t: f"bitmapOrCardinality(bitmapBuild({t[0]}), bitmapBuild({t[1]}))"
        ),
        st.tuples(_arrnum(depth - 1), _arrnum(depth - 1)).map(
            lambda t: f"arrayDotProduct({t[0]}, {t[1]})"
        ),
        st.tuples(_arrnum(depth - 1), _arrnum(depth - 1)).map(
            lambda t: f"arrayJaccardIndex({t[0]}, {t[1]})"
        ),
        _arrnum(depth - 1).map(lambda a: f"arrayFill(x -> x > 1, {a})"),
        _arrnum(depth - 1).map(lambda a: f"arrayCumSumNonNegative({a})"),
        st.tuples(_num(depth - 1), _num(depth - 1)).map(
            lambda t: f"bitHammingDistance(toInt64({t[0]}), toInt64({t[1]}))"
        ),
        st.tuples(_num(depth - 1), _num(depth - 1)).map(
            lambda t: f"intDivOrZero(toInt64({t[0]}), toInt64({t[1]}))"
        ),
        st.tuples(_str(depth - 1), st.integers(-3, 3)).map(
            lambda t: f"left({t[0]}, {t[1]})"
        ),
        _str(depth - 1).map(lambda s: f"firstLine({s})"),
        _str(depth - 1).map(lambda s: f"encodeURLComponent({s})"),
        _num(depth - 1).map(lambda n: f"formatReadableQuantity({n})"),
        _ts(depth - 1).map(lambda t: f"dayName({t})"),
        _ts(depth - 1).map(
            lambda t: f"snowflakeToDateTime(dateTimeToSnowflake({t}))"
        ),
    )


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=_expr())
def test_random_typed_expressions_translate_and_analyze(spark, expr):
    load_tables(spark, SF_SMOKE)
    ch = f"SELECT {expr} AS x FROM events"
    out = translate(ch)
    # .schema forces full analysis of the translated text
    assert spark.sql(out).schema is not None


def test_new_function_rules_translate():
    assert translate("SELECT arrayIntersect(a, b) FROM t") == (
        "SELECT array_intersect(a, b) FROM t"
    )
    assert translate("SELECT arrayPopBack(a) FROM t") == (
        "SELECT slice(a, 1, size(a) - 1) FROM t"
    )
    assert translate("SELECT sign(x), exp2(x) FROM t") == (
        "SELECT signum(x), power(2, x) FROM t"
    )
    assert translate("SELECT toUnixTimestamp64Milli(ts) FROM t") == (
        "SELECT unix_millis(ts) FROM t"
    )


# ---------------------------------------------------------------------------
# Round-6 batch: retention, array calculus, brackets, tuples, lookup
# transform, -OrNull, SAMPLE, IPv4/geo/regression
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    ("ch", "expect"),
    [
        ("retention(a, b)",
         "array(max(if(a, 1, 0)), (max(if(a, 1, 0)) * max(if(b, 1, 0))))"),
        ("arrayCumSum(a)",
         "transform(a, (v, i) -> aggregate(slice(a, 1, i), v, (acc, x) -> acc + x))"),
        ("arrayDifference(a)",
         "transform(a, (v, i) -> if(i = 0, v - v, v - element_at(a, greatest(i, 1))))"),
        ("arrayCompact(a)",
         "filter(a, (v, i) -> i = 0 OR NOT (v <=> element_at(a, greatest(i, 1))))"),
        ("countEqual(a, 2)", "size(filter(a, v -> v <=> 2))"),
        ("tuple(x, y)", "named_struct('_1', x, '_2', y)"),
        ("tupleElement(p, 2)", "p._2"),
        ("tupleElement(p, 'k')", "p.k"),
        ("transform(c, ['a'], [1], 0)",
         "coalesce(try_element_at(map_from_arrays(array('a'), array(1)), c), 0)"),
        ("transform(c, ['a'], [1])",
         "coalesce(try_element_at(map_from_arrays(array('a'), array(1)), c), c)"),
        ("sumOrNull(x)", "sum(x)"),
        ("avgOrNullIf(x, c)", "avg(x) FILTER (WHERE c)"),
        ("maxIfOrNull(x, c)", "max(x) FILTER (WHERE c)"),
        ("corrIf(x, y, c)", "corr(x, y) FILTER (WHERE c)"),
        ("arrayElement(a, 9)", "try_element_at(a, 9)"),
        ("bitCount(x)", "bit_count(x)"),
        ("bitTest(x, 3)", "(shiftright(x, 3) & 1)"),
        ("simpleLinearRegression(x, y)",
         "named_struct('k', regr_slope(y, x), 'b', regr_intercept(y, x))"),
        ("cutQueryString(u)", "regexp_replace(u, '\\\\?.*$', '')"),
    ],
)
def test_round6_rules_translate(ch, expect):
    assert translate(f"SELECT {ch} FROM t") == f"SELECT {expect} FROM t"


def test_bracket_literals_and_subscripts_translate():
    assert translate("SELECT [1, 2][1] FROM t") == (
        "SELECT try_element_at(array(1, 2), 1) FROM t"
    )
    assert translate("SELECT t.arr[2], splitByChar(' ', s)[1] FROM t") == (
        "SELECT try_element_at(t.arr, 2), "
        "try_element_at(split(s, '\\ '), 1) FROM t"
    )
    # IN <array literal> becomes a plain IN list, not an array expression.
    assert translate("SELECT x IN [1, 2] FROM t") == "SELECT x IN (1, 2) FROM t"
    # Commas inside bracket literals never split enclosing call arguments.
    assert translate("SELECT has([1, 2], x) FROM t") == (
        "SELECT array_contains(array(1, 2), x) FROM t"
    )


def test_sample_clause_translates_and_runs(spark):
    assert translate("SELECT * FROM events SAMPLE 0.5") == (
        "SELECT * FROM events TABLESAMPLE(50 PERCENT)"
    )
    assert translate("SELECT * FROM events SAMPLE 100") == (
        "SELECT * FROM events TABLESAMPLE(100 ROWS)"
    )
    load_tables(spark, SF_SMOKE)
    total = spark.table("events").count()
    n_rows = clickhouse_sql(spark, "SELECT * FROM events SAMPLE 100").count()
    assert n_rows == min(100, total)
    n_pct = clickhouse_sql(spark, "SELECT * FROM events SAMPLE 0.5").count()
    assert 0 < n_pct < total  # Bernoulli sample: strictly between empty & all


def test_ipv4_roundtrip_and_geo(spark):
    row = spark.sql(translate(
        "SELECT IPv4StringToNum('1.2.3.4') AS n, "
        "IPv4NumToString(16909060) AS s, "
        "greatCircleDistance(0.0, 0.0, 1.0, 1.0) AS d"
    )).collect()[0]
    assert row["n"] == 16909060
    assert row["s"] == "1.2.3.4"
    # haversine (R = 6372797.560856) for (0,0)->(1,1) is ~157.4 km
    assert abs(row["d"] - 157_425) < 200


def test_round6_unsupported_raise():
    # entropy translates as of round 10 (single-expression run-length
    # fold) — see test_jaro_family_and_entropy.
    with pytest.raises(DialectError, match="not registered"):
        translate("SELECT dictGet('d', 'attr', k) FROM t")
    with pytest.raises(DialectError, match="x_det_sample"):
        translate("SELECT * FROM events SAMPLE 0.5 OFFSET 0.5")
    with pytest.raises(DialectError, match="dynamic tuple"):
        translate("SELECT tupleElement(p, i) FROM t")


def test_round6_datetime_batch_translates():
    assert translate("SELECT toStartOfInterval(ts, INTERVAL 5 MINUTE) FROM t") == (
        "SELECT timestamp_seconds(floor(unix_timestamp(ts) / 300) * 300) FROM t"
    )
    assert translate("SELECT toStartOfInterval(ts, INTERVAL 1 MONTH) FROM t") == (
        "SELECT date_trunc('month', ts) FROM t"
    )
    # multi-month grids translate as of round 10 (epoch-anchored); only
    # multi-week grids stay loud (no stable cross-engine anchor)
    assert "make_timestamp" in translate(
        "SELECT toStartOfInterval(ts, INTERVAL 3 MONTH) FROM t"
    )
    with pytest.raises(DialectError, match="closed form"):
        translate("SELECT toStartOfInterval(ts, INTERVAL 2 WEEK) FROM t")
    assert translate("SELECT toISOWeek(ts), toLastDayOfMonth(d) FROM t") == (
        "SELECT weekofyear(ts), last_day(d) FROM t"
    )
    assert translate("SELECT monthName(ts) FROM t") == (
        "SELECT date_format(ts, 'MMMM') FROM t"
    )
    assert translate("SELECT timeSlot(ts) FROM t") == (
        "SELECT timestamp_seconds(floor(unix_timestamp(ts) / 1800) * 1800) FROM t"
    )
    assert translate("SELECT base64Decode(base64Encode(s)) FROM t") == (
        "SELECT cast(unbase64(base64(s)) as string) FROM t"
    )


def test_limit_offset_form_translates():
    assert translate("SELECT x FROM t ORDER BY x LIMIT 5, 10") == (
        "SELECT x FROM t ORDER BY x LIMIT 10 OFFSET 5"
    )
    # plain LIMIT untouched
    assert translate("SELECT x FROM t LIMIT 7") == "SELECT x FROM t LIMIT 7"


def test_any_join_plans_dedup_below_join(spark):
    """The ANY JOIN rewrite must plan the one-row-per-key pick UNDER the
    join (WindowGroupLimit pushes the rn=1 heap into the right side), so
    the join's build side is |distinct keys|-sized."""
    load_tables(spark, SF_SMOKE)
    df = clickhouse_sql(
        spark,
        "SELECT doc_id, tag FROM documents ANY LEFT JOIN "
        "(SELECT user_id % 40 AS doc_id, 'x' AS tag FROM events) AS e "
        "USING (doc_id)",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_rollup_cube_pass_through_and_run(spark):
    """CH `GROUP BY k WITH ROLLUP/CUBE` is ANSI-shaped in Spark too — the
    shim must pass it through unmangled (the WITH TOTALS pass must not eat
    it) and it must run."""
    out = translate("SELECT k, count() AS n FROM t GROUP BY k WITH ROLLUP")
    assert out == "SELECT k, count(*) AS n FROM t GROUP BY k WITH ROLLUP"
    load_tables(spark, SF_SMOKE)
    rows = clickhouse_sql(
        spark,
        "SELECT event_type, count() AS n FROM events "
        "GROUP BY event_type WITH ROLLUP",
    ).collect()
    types = {r["event_type"] for r in rows}
    assert None in types and len(types) > 1  # grand-total row present


def test_to_start_of_week_sunday_default(spark):
    """CH toStartOfWeek defaults to SUNDAY-start weeks (mode 0) — mapping it
    to date_trunc('week') (Monday) silently shifted six days of every week;
    mode 1/3 keep the Monday form. Verified against DuckDB ground truth."""
    assert translate("SELECT toStartOfWeek(ts) FROM t") == (
        "SELECT date_sub(cast(ts as date), dayofweek(ts) - 1) FROM t"
    )
    assert translate("SELECT toStartOfWeek(ts, 1) FROM t") == (
        "SELECT to_date(date_trunc('week', ts)) FROM t"
    )
    load_tables(spark, SF_SMOKE)
    got = {
        (r["w"], r["n"]) for r in clickhouse_sql(
            spark,
            "SELECT toStartOfWeek(ts) AS w, count() AS n "
            "FROM events GROUP BY w",
        ).collect()
    }
    oracle = run_oracle(
        "SELECT CAST(ts AS DATE) - CAST(dayofweek(ts) AS INT) AS w, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1",
        SF_SMOKE,
    )
    want = {
        (r.w.date() if hasattr(r.w, "date") else r.w, r.n)
        for r in oracle.itertuples(index=False, name="R")
    }
    assert got == want
    # every returned week start is a Sunday
    assert all(w.isoweekday() == 7 for w, _ in got)


def test_to_week_iso_only():
    assert translate("SELECT toWeek(ts, 3) FROM t") == (
        "SELECT weekofyear(ts) FROM t"
    )
    with pytest.raises(DialectError, match="mode 3"):
        translate("SELECT toWeek(ts) FROM t")


def test_quantile_exact_low_high_pick_elements(spark):
    """quantileExactLow/High must pick actual order statistics (python
    median_low/median_high), not interpolate — pinned on an even-count set
    where interpolation would return 2.5."""
    assert translate("SELECT quantileExactLow(0.5)(x) FROM t") == (
        "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY x) FROM t"
    )
    row = spark.sql(translate(
        "SELECT quantileExactLow(0.5)(x) AS lo, "
        "quantileExactHigh(0.5)(x) AS hi "
        "FROM VALUES (1.0),(2.0),(3.0),(10.0) AS t(x)"
    )).collect()[0]
    assert (row["lo"], row["hi"]) == (2.0, 3.0)


def test_sample_hops_before_alias():
    assert translate("SELECT e.x FROM events AS e SAMPLE 100") == (
        "SELECT e.x FROM events TABLESAMPLE(100 ROWS) AS e"
    )
    assert translate("SELECT e.x FROM events e SAMPLE 0.5") == (
        "SELECT e.x FROM events TABLESAMPLE(50 PERCENT) e"
    )


def test_format_datetime_quotes_literal_letters(spark):
    """Literal letters in the pattern (ISO 'T', suffixes) must be quoted —
    Java reserves every pattern letter, so the old substitution threw at
    runtime on '%Y-%m-%dT%H'."""
    out = translate("SELECT formatDateTime(ts, '%Y-%m-%dT%H:%M:%S') FROM t")
    assert "date_format" in out and "T" in out
    row = spark.sql(translate(
        "SELECT formatDateTime(toDateTime('2026-03-05 07:08:09'), "
        "'%Y-%m-%dT%H:%M:%S') AS s, "
        "formatDateTime(toDateTime('2026-03-05 07:08:09'), '%a %b') AS wd"
    )).collect()[0]
    assert row["s"] == "2026-03-05T07:08:09"
    assert row["wd"] == "Thu Mar"


def test_insert_and_create_view_statements_run(spark, tmp_path):
    """The shim is statement-agnostic: CH INSERT INTO … SELECT and CREATE
    VIEW … AS SELECT (with camelCase bodies) translate and execute — the
    write-side command surface a warehouse user ports along with queries."""
    load_tables(spark, SF_SMOKE)
    spark.sql("DROP TABLE IF EXISTS daily_rollup")
    spark.sql(
        "CREATE TABLE daily_rollup (day TIMESTAMP, n BIGINT) USING parquet "
        f"LOCATION '{tmp_path / 'daily_rollup'}'"
    )
    try:
        clickhouse_sql(
            spark,
            "INSERT INTO daily_rollup SELECT toStartOfDay(ts) AS day, "
            "count() AS n FROM events GROUP BY day",
        )
        n = spark.table("daily_rollup").count()
        assert n > 0
        clickhouse_sql(
            spark,
            "CREATE OR REPLACE TEMPORARY VIEW v_busy AS "
            "SELECT day, n FROM daily_rollup WHERE n >= 1",
        )
        assert spark.table("v_busy").count() == n
    finally:
        spark.sql("DROP TABLE IF EXISTS daily_rollup")
        spark.sql("DROP VIEW IF EXISTS v_busy")


def test_array_fold_reduce_and_friends(spark):
    assert translate(
        "SELECT arrayFold((acc, x) -> acc + x, a, toInt64(0)) FROM t"
    ) == "SELECT aggregate(a, cast(0 as bigint), (acc, x) -> acc + x) FROM t"
    assert translate("SELECT arrayReduce('max', a) FROM t") == (
        "SELECT array_max(a) FROM t"
    )
    with pytest.raises(DialectError, match="explode"):
        translate("SELECT arrayReduce('median', a) FROM t")
    row = spark.sql(translate(
        "SELECT arrayReduce('sum', [1, 2, 3]) AS s, "
        "hasAll([1, 2, 3], [1, 3]) AS h, "
        "countSubstrings('abcabcab', 'ab') AS c, "
        "splitByWhitespace('  a  b c ') AS w, "
        "arrayStringConcat(['x', 'y']) AS j"
    )).collect()[0]
    assert row["s"] == 6.0 and row["h"] is True and row["c"] == 3
    assert row["w"] == ["a", "b", "c"] and row["j"] == "xy"


# ---------------------------------------------------------------------------
# Round-7 advisor fixes: ISO year boundary, SAMPLE fraction forms,
# ANY-JOIN subquery full translation, non-literal week mode loudness.
# ---------------------------------------------------------------------------

def test_to_iso_year_week_straddling_year_boundary(spark):
    # 2025-12-29 (Mon) and 2026-01-01 (Thu) both lie in ISO week 1 of 2026;
    # 2026-12-28 (Mon) opens ISO week 53 of 2026 even though 2027-01-01
    # falls inside it. The ISO year is the calendar year of the week's
    # THURSDAY — year(date_trunc('week', x)) alone reports the Monday's year.
    row = spark.sql(translate(
        "SELECT toISOYear(toDate('2025-12-29')) AS a, "
        "toISOYear(toDate('2026-01-01')) AS b, "
        "toISOYear(toDate('2027-01-01')) AS c, "
        "toISOYear(toDate('2026-06-15')) AS d"
    )).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (2026, 2026, 2026, 2026)
    # Plain mid-year sanity for the neighboring years.
    row = spark.sql(translate(
        "SELECT toISOYear(toDate('2025-06-15')) AS a, "
        "toISOYear(toDate('2027-06-15')) AS b"
    )).collect()[0]
    assert (row["a"], row["b"]) == (2025, 2027)


def test_sample_fraction_literals_and_ratio_form(spark):
    # CH reads dot-free 0 and 1 as FRACTIONS (empty / whole table), never
    # as row counts; a/b is the explicit fraction form.
    assert translate("SELECT * FROM events SAMPLE 1") == (
        "SELECT * FROM events TABLESAMPLE(100 PERCENT)"
    )
    assert translate("SELECT * FROM events SAMPLE 0") == (
        "SELECT * FROM events TABLESAMPLE(0 PERCENT)"
    )
    assert translate("SELECT * FROM events SAMPLE 1/10") == (
        "SELECT * FROM events TABLESAMPLE(10 PERCENT)"
    )
    assert translate("SELECT * FROM events SAMPLE 3/4") == (
        "SELECT * FROM events TABLESAMPLE(75 PERCENT)"
    )
    # Integers > 1 are genuine row-count samples.
    assert translate("SELECT * FROM events SAMPLE 2") == (
        "SELECT * FROM events TABLESAMPLE(2 ROWS)"
    )
    with pytest.raises(DialectError, match="zero denominator"):
        translate("SELECT * FROM events SAMPLE 1/0")
    with pytest.raises(DialectError, match="out of"):
        translate("SELECT * FROM events SAMPLE 5/4")
    load_tables(spark, SF_SMOKE)
    total = spark.table("events").count()
    assert clickhouse_sql(spark, "SELECT * FROM events SAMPLE 1").count() == total
    assert clickhouse_sql(spark, "SELECT * FROM events SAMPLE 0").count() == 0


def test_any_join_subquery_right_side_gets_full_pipeline(spark):
    # CH-only constructs INSIDE an ANY-joined subquery (PREWHERE, bracket
    # subscripts) must go through the full translation pipeline, not just
    # the call rewriter.
    out = translate(
        "SELECT * FROM t ANY LEFT JOIN "
        "(SELECT k, v[1] AS x FROM u PREWHERE p > 1) USING (k)"
    )
    assert "PREWHERE" not in out
    assert "try_element_at(v, 1)" in out
    assert "[" not in out
    # And it must actually parse + run.
    load_tables(spark, SF_SMOKE)
    n = clickhouse_sql(
        spark,
        "SELECT d.doc_id FROM documents AS d ANY LEFT JOIN "
        "(SELECT doc_id, splitByChar(' ', text)[1] AS w FROM documents "
        "PREWHERE length(text) > 0) USING (doc_id)",
    ).count()
    assert n == spark.table("documents").count()


def test_to_start_of_week_non_literal_mode_raises():
    with pytest.raises(DialectError, match="literal 0/1/2/3"):
        translate("SELECT toStartOfWeek(ts, m) FROM t")
    with pytest.raises(DialectError, match="literal 0/1/2/3"):
        translate("SELECT toStartOfWeek(ts, 1 + 1) FROM t")


# ---------------------------------------------------------------------------
# Round-7: external dictionaries (dictGet family + CREATE DICTIONARY)
# ---------------------------------------------------------------------------

@pytest.fixture
def user_dict(spark):
    from python_cdc_postgres_to_clickhouse_spark.dialect import (
        Ddl,
        register_dictionary,
    )

    spark.createDataFrame(
        [(1, "alpha", 10), (2, "beta", 20), (3, "gamma", 30)],
        "user_id bigint, label string, score bigint",
    ).createOrReplaceTempView("dim_user_labels")
    yield Ddl().with_dictionary(
        register_dictionary(spark, "users", "dim_user_labels", "user_id")
    )
    spark.catalog.dropTempView("dim_user_labels")


def test_dict_get_translates_to_scalar_subquery(user_dict):
    out = translate("SELECT dictGet('users', 'label', uid) FROM t", user_dict)
    assert "SELECT max(__dict_val) FROM" in out and "dim_user_labels" in out
    out = translate(
        "SELECT dictGetOrDefault('users', 'label', uid, 'none') FROM t",
        user_dict,
    )
    assert out.startswith("SELECT coalesce((SELECT")
    out = translate(
        "SELECT dictGetInt64('users', 'score', uid) FROM t", user_dict
    )
    assert "cast(max(__dict_val) as bigint)" in out
    with pytest.raises(DialectError, match="string literal"):
        translate("SELECT dictGet(d, 'label', uid) FROM t", user_dict)
    with pytest.raises(DialectError, match="column name"):
        translate("SELECT dictGet('users', 'a || b', uid) FROM t", user_dict)


def test_dict_get_runs_and_shields_key_name_collision(spark, user_dict):
    # The FACT side's key column is ALSO named user_id — without the inner
    # __dict_key rename the correlation would collapse to a tautology and
    # every row would get the same (max-over-all) label.
    spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "user_id bigint"
    ).createOrReplaceTempView("fact_rows")
    rows = clickhouse_sql(
        spark,
        "SELECT user_id, "
        "dictGetOrDefault('users', 'label', user_id, 'miss') AS label, "
        "dictHas('users', user_id) AS known "
        "FROM fact_rows ORDER BY user_id",
    ).collect()
    assert [(r["user_id"], r["label"], r["known"]) for r in rows] == [
        (1, "alpha", True), (2, "beta", True),
        (3, "gamma", True), (4, "miss", False),
    ]
    spark.catalog.dropTempView("fact_rows")


def test_create_dictionary_ddl_parses_and_registers():
    from python_cdc_postgres_to_clickhouse_spark.ddl import translate_dictionary

    plan = translate_dictionary(
        "CREATE DICTIONARY IF NOT EXISTS db.user_dict ("
        "  user_id UInt64, nation String DEFAULT 'UNKNOWN', bal Float64"
        ") PRIMARY KEY user_id "
        "SOURCE(CLICKHOUSE(TABLE 'dim_users' DB 'default')) "
        "LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)"
    )
    assert plan.name == "user_dict" and plan.key == "user_id"
    assert plan.columns == [
        ("user_id", "BIGINT"), ("nation", "STRING"), ("bal", "DOUBLE")
    ]
    assert plan.source_table == "dim_users" and plan.lifetime_max_s == 300
    spec = plan.spec()
    assert spec.view == "dim_users"

    with pytest.raises(DialectError, match="pre-concat"):
        translate_dictionary(
            "CREATE DICTIONARY d (a UInt64, b UInt64, v String) "
            "PRIMARY KEY a, b SOURCE(CLICKHOUSE(TABLE 't')) "
            "LAYOUT(COMPLEX_KEY_HASHED())"
        )


def test_dict_lookup_declared_query_matches_oracle(spark):
    from python_cdc_postgres_to_clickhouse_spark.queries.chsql import (
        DICT_LOOKUP_ORACLE,
        sql_ch_dict_lookup,
    )

    got = sql_ch_dict_lookup(spark, SF_SMOKE).toPandas()
    want = run_oracle(DICT_LOOKUP_ORACLE, SF_SMOKE)
    assert sorted(got.columns) == sorted(want.columns)
    assert canon_rows(got) == canon_rows(want)


def test_round7_function_batch(spark):
    # string-level spot checks
    assert translate("SELECT mapKeys(m) FROM t") == "SELECT map_keys(m) FROM t"
    assert translate("SELECT generateUUIDv4() FROM t") == "SELECT uuid() FROM t"
    with pytest.raises(DialectError, match="pad value"):
        translate("SELECT arrayResize(a, 5) FROM t")
    with pytest.raises(DialectError, match="lag"):
        translate("SELECT runningDifference(x) FROM t")
    with pytest.raises(DialectError, match="literal"):
        translate("SELECT dateName(p, ts) FROM t")
    # executed semantics
    row = spark.sql(translate(
        "SELECT arrayEnumerateUniq([10, 20, 10, 10]) AS u, "
        "arrayEnumerateDense([30, 10, 30, 20]) AS d, "
        "arrayFirstIndex(x -> x > 15, [10, 20, 30]) AS fi, "
        "arrayFirstIndex(x -> x > 99, [10, 20, 30]) AS fi0, "
        "arrayLast(x -> x < 25, [10, 20, 30]) AS la, "
        "arrayResize([1, 2, 3], 2, 0) AS shrink, "
        "arrayResize([1, 2], 4, 0) AS grow, "
        "tokens('a-b  c,,d') AS tk, "
        "ngrams('abcd', 2) AS ng, "
        "ngrams('ab', 3) AS ng_short, "
        "countMatches('a1b22c333', '[0-9]+') AS cm, "
        "extractAll('k=1,k=22', 'k=([0-9]+)') AS ea_grp, "
        "extractAll('ab12cd34', '[0-9]+') AS ea_whole, "
        "replaceOne('aXbXc', 'X', '_') AS r1, "
        "replaceOne('abc', 'X', '_') AS r1_miss, "
        "formatReadableSize(1536) AS sz_k, "
        "formatReadableSize(10) AS sz_b, "
        "toInt64OrZero('12x') AS z, "
        "dateName('month', DATE '2026-03-07') AS mn, "
        "dateName('weekday', DATE '2026-03-07') AS wd, "
        "toStartOfISOYear(toDate('2026-01-01')) AS iso_start, "
        "toModifiedJulianDay(DATE '1858-11-18') AS mjd, "
        "fromModifiedJulianDay(1) AS from_mjd"
    )).collect()[0]
    assert row["u"] == [1, 1, 2, 3]
    assert row["d"] == [1, 2, 1, 3]
    assert row["fi"] == 2 and row["fi0"] == 0
    assert row["la"] == 20
    assert row["shrink"] == [1, 2] and row["grow"] == [1, 2, 0, 0]
    assert row["tk"] == ["a", "b", "c", "d"]
    assert row["ng"] == ["ab", "bc", "cd"] and row["ng_short"] == []
    assert row["cm"] == 3
    assert row["ea_grp"] == ["1", "22"] and row["ea_whole"] == ["12", "34"]
    assert row["r1"] == "a_bXc" and row["r1_miss"] == "abc"
    assert row["sz_k"] == "1.50 KiB" and row["sz_b"] == "10.00 B"
    assert row["z"] == 0
    assert row["mn"] == "March" and row["wd"] == "Saturday"
    assert str(row["iso_start"]) == "2025-12-29"
    assert row["mjd"] == 1 and str(row["from_mjd"]) == "1858-11-18"


# ---------------------------------------------------------------------------
# Round-7: ASOF JOIN interval-izing rewrite
# ---------------------------------------------------------------------------

def test_asof_join_rewrites_to_intervalized_equi_join():
    out = translate(
        "SELECT o.id, p.price FROM quotes o ASOF LEFT JOIN prices p "
        "ON o.sym = p.sym AND o.ts >= p.ts"
    )
    assert "LEFT JOIN (SELECT * EXCEPT (__prev), lead(ts) OVER " in out
    assert "PARTITION BY sym ORDER BY ts" in out
    assert out.endswith(
        "ON o.sym = p.sym AND o.ts >= p.ts "
        "AND (p.__asof_end IS NULL OR o.ts < p.__asof_end)"
    )
    # reversed operand order normalizes; <= flips to a DESC lead
    out = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND b.t <= a.ts"
    )
    assert "a.ts >= b.t" in out and "ORDER BY t)" in out
    out = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts <= b.t"
    )
    assert "ORDER BY t DESC" in out and "OR a.ts > b.__asof_end" in out
    # loud forms
    with pytest.raises(DialectError, match="USING"):
        translate("SELECT * FROM a ASOF JOIN b USING (k, t)")
    with pytest.raises(DialectError, match="equality"):
        translate("SELECT * FROM a ASOF JOIN b ON a.t >= b.t")
    with pytest.raises(DialectError, match="qualify"):
        translate("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND ts >= t")
    with pytest.raises(DialectError, match="LEFT/INNER"):
        translate("SELECT * FROM a ASOF RIGHT JOIN b ON a.k = b.k AND a.t >= b.t")


def test_asof_join_semantics_on_constructed_frames(spark):
    spark.createDataFrame(
        [("s1", 10, "e1"), ("s1", 20, "e2"), ("s1", 25, "e3"),
         ("s2", 5, "e4"), ("s2", 100, "e5")],
        "sym string, ts bigint, eid string",
    ).createOrReplaceTempView("asof_probe")
    # duplicate (sym, ts) on the right: the rewrite collapses them to one
    spark.createDataFrame(
        [("s1", 10, 1.0), ("s1", 20, 2.0), ("s1", 20, 2.0), ("s1", 30, 3.0),
         ("s2", 50, 5.0)],
        "sym string, ts bigint, price double",
    ).createOrReplaceTempView("asof_quotes")
    rows = clickhouse_sql(
        spark,
        "SELECT p.eid AS eid, q.price AS price FROM asof_probe AS p "
        "ASOF LEFT JOIN asof_quotes AS q "
        "ON p.sym = q.sym AND p.ts >= q.ts ORDER BY eid",
    ).collect()
    got = {r["eid"]: r["price"] for r in rows}
    # e1: ts=10 matches quote@10; e2: ts=20 matches quote@20 (once, despite
    # the duplicate); e3: ts=25 still quote@20; e4: ts=5 precedes all ->
    # NULL; e5: ts=100 matches quote@50.
    assert got == {"e1": 1.0, "e2": 2.0, "e3": 2.0, "e4": None, "e5": 5.0}
    assert len(rows) == 5  # exactly one row per probe, never a fan-out
    # INNER form drops the unmatched probe
    n = clickhouse_sql(
        spark,
        "SELECT p.eid FROM asof_probe AS p ASOF JOIN asof_quotes AS q "
        "ON p.sym = q.sym AND p.ts >= q.ts",
    ).count()
    assert n == 4
    # backward direction: earliest quote at-or-after the probe
    rows = clickhouse_sql(
        spark,
        "SELECT p.eid AS eid, q.price AS price FROM asof_probe AS p "
        "ASOF LEFT JOIN asof_quotes AS q "
        "ON p.sym = q.sym AND p.ts <= q.ts ORDER BY eid",
    ).collect()
    got = {r["eid"]: r["price"] for r in rows}
    assert got == {"e1": 1.0, "e2": 2.0, "e3": 3.0, "e4": 5.0, "e5": None}
    spark.catalog.dropTempView("asof_probe")
    spark.catalog.dropTempView("asof_quotes")


def test_asof_declared_query_matches_duckdb_native_asof(spark):
    from python_cdc_postgres_to_clickhouse_spark.queries.chsql import (
        ASOF_ENRICH_ORACLE,
        sql_ch_asof_enrich,
    )

    got = sql_ch_asof_enrich(spark, SF_SMOKE).toPandas()
    want = run_oracle(ASOF_ENRICH_ORACLE, SF_SMOKE)
    assert sorted(got.columns) == sorted(want.columns)
    assert canon_rows(got) == canon_rows(want)


def test_asof_join_plan_is_single_equi_join(spark):
    load_tables(spark, SF_SMOKE)
    df = clickhouse_sql(
        spark,
        "SELECT e.user_id FROM events AS e ASOF LEFT JOIN "
        "(SELECT user_id, ts AS pts FROM events WHERE event_type = "
        "'purchase' GROUP BY user_id, ts) AS p "
        "ON e.user_id = p.user_id AND e.ts >= p.pts",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # exactly one join, keyed on user_id
    n_joins = plan.count("Join ")
    assert n_joins == 1, plan


def test_topk_maps_to_approx_top_k(spark):
    assert translate("SELECT topK(3)(x) FROM t") == (
        "SELECT transform(approx_top_k(x, 3), s -> s.item) FROM t"
    )
    assert translate("SELECT topK(x) FROM t") == (
        "SELECT transform(approx_top_k(x, 10), s -> s.item) FROM t"
    )
    # distinct frequencies -> the sketch is exact and the order determined
    row = spark.sql(translate(
        "SELECT topK(2)(x) AS t FROM VALUES "
        "('a'),('a'),('a'),('b'),('b'),('c') v(x)"
    )).collect()[0]
    assert row["t"] == ["a", "b"]
    with pytest.raises(DialectError, match="weight"):
        translate("SELECT topKWeighted(5)(x, w) FROM t")


def test_weighted_quantiles_translate_and_run(spark):
    assert translate("SELECT quantileExactWeighted(0.9)(x, w) FROM t") == (
        "SELECT percentile(x, 0.9, w) FROM t"
    )
    assert translate("SELECT medianExactWeighted(x, w) FROM t") == (
        "SELECT percentile(x, 0.5, w) FROM t"
    )
    row = spark.sql(translate(
        "SELECT quantileExactWeighted(0.5)(x, w) AS p50, "
        "quantilesExactWeighted(0.5, 0.9)(x, w) AS ps "
        "FROM VALUES (1, 1), (2, 3), (10, 1) t(x, w)"
    )).collect()[0]
    assert row["p50"] == 2.0 and row["ps"][0] == 2.0


def test_extract_groups_and_split_by_regexp(spark):
    assert translate("SELECT splitByRegexp('[,;]', s) FROM t") == (
        "SELECT split(s, '[,;]') FROM t"
    )
    row = spark.sql(translate(
        "SELECT extractGroups('k=12, v=abc', '([a-z]+)=([0-9]+)') AS g, "
        "splitByRegexp('[,;] ?', 'a,b; c') AS sp"
    )).collect()[0]
    assert row["g"] == ["k", "12"]
    assert row["sp"] == ["a", "b", "c"]
    with pytest.raises(DialectError, match="capture group"):
        translate("SELECT extractGroups(s, 'nogroups') FROM t")
    with pytest.raises(DialectError, match="literal"):
        translate("SELECT extractGroups(s, p) FROM t")


def test_kurtpop_is_non_excess_and_avg_weighted(spark):
    # CH kurtPop = m4/sigma^4; Spark's kurtosis is EXCESS (minus 3).
    row = spark.sql(translate(
        "SELECT kurtPop(x) AS k, skewPop(x) AS s, "
        "avgWeighted(x, w) AS aw, "
        "quantileTimingWeighted(0.5)(x, w) AS qt "
        "FROM VALUES (1.0, 1), (2.0, 3), (9.0, 1) t(x, w)"
    )).collect()[0]
    import math
    xs = [1.0, 2.0, 2.0, 2.0, 9.0]  # weight-expanded only for aw/qt checks
    m = sum([1.0, 2.0, 9.0]) / 3
    m2 = sum((v - m) ** 2 for v in [1.0, 2.0, 9.0]) / 3
    m4 = sum((v - m) ** 4 for v in [1.0, 2.0, 9.0]) / 3
    assert abs(row["k"] - m4 / m2**2) < 1e-9
    assert abs(float(row["aw"]) - sum(xs) / 5) < 1e-12
    assert row["qt"] == 2.0


def test_asof_join_nests_in_subqueries_and_repeats():
    out = translate(
        "SELECT n FROM (SELECT count() AS n FROM a ASOF JOIN b "
        "ON a.k = b.k AND a.t >= b.t) q"
    )
    assert "__asof_end" in out
    out = translate(
        "SELECT 1 FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t >= b.t "
        "WHERE a.x IN (SELECT x FROM c ASOF JOIN d "
        "ON c.k = d.k AND c.t >= d.t)"
    )
    assert out.count("__asof_end") >= 4  # both joins rewritten
    out = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t "
        "WHERE a.x > 1 GROUP BY a.k"
    )
    assert out.endswith("WHERE a.x > 1 GROUP BY a.k")
    # CH functions inside the eq conjuncts translate in place
    out = translate(
        "SELECT * FROM a ASOF LEFT JOIN b "
        "ON toStartOfDay(a.ts) = b.day AND a.ts >= b.t"
    )
    assert "date_trunc('day', a.ts) = b.day" in out


def test_samp_moments_match_definitions(spark):
    xs = [1.0, 2.0, 2.0, 9.0]
    row = spark.sql(translate(
        "SELECT skewSamp(x) AS ss, kurtSamp(x) AS ks, "
        "skewPop(x) AS sp, kurtPop(x) AS kp "
        "FROM VALUES (1.0), (2.0), (2.0), (9.0) t(x)"
    )).collect()[0]
    n = len(xs)
    m = sum(xs) / n
    m2 = sum((v - m) ** 2 for v in xs) / n          # population variance
    m3 = sum((v - m) ** 3 for v in xs) / n
    m4 = sum((v - m) ** 4 for v in xs) / n
    s2 = sum((v - m) ** 2 for v in xs) / (n - 1)    # sample variance
    assert abs(row["sp"] - m3 / m2**1.5) < 1e-9
    assert abs(row["kp"] - m4 / m2**2) < 1e-9
    assert abs(row["ss"] - m3 / s2**1.5) < 1e-9     # CH skewSamp = m3/s^3
    assert abs(row["ks"] - m4 / s2**2) < 1e-9       # CH kurtSamp = m4/s^4


def test_typed_dictget_ordefault_wrong_arity_is_loud():
    """dictGetInt64OrDefault with 3 args must raise DialectError with the
    expected signature, not IndexError (round-8 advice fix)."""
    with pytest.raises(DialectError, match="dictGetInt64OrDefault takes"):
        translate("SELECT dictGetInt64OrDefault('users', 'score', uid) FROM t")


def test_asof_on_capture_stops_at_prewhere():
    """ASOF JOIN followed by PREWHERE: the ON capture must stop at the
    clause boundary so both constructs translate together (round-8 advice
    fix: PREWHERE was missing from _ASOF_CLAUSE_END)."""
    out = translate(
        "SELECT a.id FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t "
        "PREWHERE a.v > 1"
    )
    assert "WHERE" in out and "a.v > 1" in out
    assert "__asof_end" in out


# ---------------------------------------------------------------------------
# Round-8: avgState/avgMerge via CH's own (sum, count) decomposition
# ---------------------------------------------------------------------------

def test_avg_state_merge_translates_to_struct_algebra():
    out = translate("SELECT avgState(x) AS st FROM t GROUP BY k")
    assert "named_struct('sum', sum(x), 'count', count(x))" in out
    out = translate("SELECT avgMerge(st) FROM p")
    assert "sum(st.sum) / sum(st.count)" in out
    out = translate("SELECT avgMergeState(st) FROM p")
    assert "named_struct('sum', sum(st.sum), 'count', sum(st.count))" in out
    with pytest.raises(DialectError, match="avgState takes exactly one"):
        translate("SELECT avgState(x, y) FROM t")
    with pytest.raises(DialectError, match="state column"):
        translate("SELECT avgMerge(a, b) FROM t")


def test_avg_state_two_level_rollup_equals_one_level(spark):
    """State->Merge over integer values must be EXACTLY the one-level avg
    (the AggregatingMergeTree contract the translation claims)."""
    spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("a", 2, 40), ("b", 1, 7)],
        "g string, sub int, v int",
    ).createOrReplaceTempView("avg_probe")
    two = spark.sql(translate(
        "SELECT g, avgMerge(st) AS a FROM "
        "(SELECT g, sub, avgState(v) AS st FROM avg_probe GROUP BY g, sub) "
        "GROUP BY g"
    )).collect()
    one = spark.sql(
        "SELECT g, avg(v) AS a FROM avg_probe GROUP BY g"
    ).collect()
    assert {r["g"]: r["a"] for r in two} == {r["g"]: r["a"] for r in one}
    # three-level: MergeState in the middle re-merges losslessly
    three = spark.sql(translate(
        "SELECT avgMerge(st2) AS a FROM (SELECT g, avgMergeState(st) AS st2 "
        "FROM (SELECT g, sub, avgState(v) AS st FROM avg_probe "
        "GROUP BY g, sub) GROUP BY g)"
    )).collect()
    assert three[0]["a"] == sum([10, 20, 40, 7]) / 4
    spark.catalog.dropTempView("avg_probe")


# ---------------------------------------------------------------------------
# Round-8: ANY JOIN ON-form
# ---------------------------------------------------------------------------

def test_any_join_on_form_dedups_right_side_keys():
    out = translate(
        "SELECT o.id, d.name FROM orders o ANY LEFT JOIN dims d "
        "ON o.k = d.k AND d.r = o.r WHERE o.id > 5"
    )
    assert "PARTITION BY k, r" in out and "__rn = 1" in out
    assert "ON o.k = d.k AND d.r = o.r" in out
    assert "ANY" not in out
    # bare dotted table: the bare name becomes the alias the ON resolves
    out = translate("SELECT o.id FROM orders o ANY INNER JOIN db.dims "
                    "ON o.k = dims.k")
    assert "AS dims ON o.k = dims.k" in out
    # subquery right side goes through the full translate() pipeline
    out = translate(
        "SELECT o.id FROM orders o ANY LEFT JOIN "
        "(SELECT k, name FROM dims PREWHERE k > 0) d ON o.k = d.k"
    )
    assert "WHERE (k > 0)" in out and "PARTITION BY k" in out


def test_any_join_on_form_loud_cases():
    with pytest.raises(DialectError, match="qualify the columns"):
        translate("SELECT 1 FROM a ANY LEFT JOIN b ON a.k = b.k AND a.t > b.t")
    with pytest.raises(DialectError, match="needs an alias"):
        translate("SELECT 1 FROM a ANY LEFT JOIN (SELECT k FROM b) ON a.k = k")
    with pytest.raises(DialectError, match="qualify the columns"):
        translate("SELECT 1 FROM a ANY LEFT JOIN b ON k = j")


def test_any_join_on_form_semantics(spark):
    """One right row per key even with duplicate right keys; left rows
    never fan out (CH ANY contract) — and the ON form agrees with the
    USING form on the same frames."""
    spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k bigint, lv string"
    ).createOrReplaceTempView("any_l")
    spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "k bigint, rv string"
    ).createOrReplaceTempView("any_r")
    on = spark.sql(translate(
        "SELECT l.k AS k, l.lv AS lv, r.rv AS rv FROM any_l l "
        "ANY LEFT JOIN any_r r ON l.k = r.k ORDER BY l.k"
    )).collect()
    assert [r["k"] for r in on] == [1, 2, 3]  # no fan-out on k=1
    assert on[0]["rv"] in ("a", "a2") and on[2]["rv"] is None
    using = spark.sql(translate(
        "SELECT k, lv, rv FROM any_l ANY LEFT JOIN any_r USING (k) "
        "ORDER BY k"
    )).collect()
    assert [(r["k"], r["rv"]) for r in using] == [
        (r["k"], r["rv"]) for r in on
    ]
    spark.catalog.dropTempView("any_l")
    spark.catalog.dropTempView("any_r")


@pytest.mark.parametrize("final", ["", " FINAL"])
def test_any_join_using_keeps_the_right_tables_name(spark, final):
    """The dedup subquery of an unaliased right table is aliased with the
    table's bare name, and a trailing FINAL is the no-op modifier, not an
    alias — so ``b.v`` resolves in the select list."""
    s = spark.newSession()
    s.createDataFrame([(1,), (2,)], "k bigint").createOrReplaceTempView("a")
    s.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "k bigint, v string"
    ).createOrReplaceTempView("b")
    rows = s.sql(translate(
        f"SELECT a.k, b.v FROM a ANY LEFT JOIN b{final} USING (k)"
    )).collect()
    assert sorted(tuple(r) for r in rows) == [(1, "x"), (2, "y")]


# ---------------------------------------------------------------------------
# Round-8: WITH FILL DESC + INTERPOLATE forms
# ---------------------------------------------------------------------------

def test_with_fill_desc_reverses_spine_and_bound():
    out = translate("SELECT d, n FROM t ORDER BY d DESC WITH FILL "
                    "FROM 10 TO 0 STEP -2")
    assert "sequence(10, 0, - 2)" in out.replace("  ", " ")
    assert "WHERE d > 0" in out
    assert out.rstrip().endswith("ORDER BY d DESC")
    # no bounds: spine spans max..min with default step -1
    out = translate("SELECT d, n FROM t ORDER BY d DESC WITH FILL")
    assert "sequence(max(d), min(d), -1" in out.replace("  ", " ")


def test_with_fill_interpolate_carries_last_original(spark):
    spark.createDataFrame(
        [(1, 10.0, "a"), (3, 30.0, "c"), (6, None, "f")],
        "d int, v double, tag string",
    ).createOrReplaceTempView("fill_t")
    rows = spark.sql(translate(
        "SELECT d, v, tag FROM fill_t ORDER BY d WITH FILL INTERPOLATE (v)"
    )).collect()
    got = {r["d"]: (r["v"], r["tag"]) for r in rows}
    # inserted rows: v carried forward, non-listed tag stays NULL
    assert got[2] == (10.0, None) and got[4] == (30.0, None)
    assert got[5] == (30.0, None)
    # original rows untouched — including the genuinely-NULL v at d=6
    assert got[1] == (10.0, "a") and got[6] == (None, "f")
    assert [r["d"] for r in rows] == [1, 2, 3, 4, 5, 6]
    spark.catalog.dropTempView("fill_t")


def test_with_fill_interpolate_loud_edges():
    """Round 9: `col AS expr` recurrences TRANSLATE (see
    test_with_fill_interpolate_recurrence) — only cross-column
    recurrences and empty lists stay loud."""
    with pytest.raises(DialectError, match="only 'v'"):
        translate("SELECT d, v FROM t ORDER BY d WITH FILL "
                  "INTERPOLATE (v AS v + other)")
    with pytest.raises(DialectError, match="at least one column"):
        translate("SELECT d, v FROM t ORDER BY d WITH FILL INTERPOLATE ()")


def test_uniq_exact_state_merge_equals_one_level(spark):
    """uniqExactState -> collect_set; re-merge = flatten+distinct count —
    any rollup nesting must equal the one-level exact distinct."""
    out = translate("SELECT uniqExactState(x) FROM t GROUP BY k")
    assert "collect_set(x)" in out
    spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 10), ("a", 2, 10), ("a", 2, 20), ("b", 1, 7)],
        "g string, sub int, v int",
    ).createOrReplaceTempView("ue_probe")
    two = spark.sql(translate(
        "SELECT g, uniqExactMerge(st) AS u FROM (SELECT g, sub, "
        "uniqExactState(v) AS st FROM ue_probe GROUP BY g, sub) GROUP BY g"
    )).collect()
    assert {r["g"]: r["u"] for r in two} == {"a": 2, "b": 1}
    three = spark.sql(translate(
        "SELECT uniqExactMerge(st2) AS u FROM (SELECT g, "
        "uniqExactMergeState(st) AS st2 FROM (SELECT g, sub, "
        "uniqExactState(v) AS st FROM ue_probe GROUP BY g, sub) GROUP BY g)"
    )).collect()
    assert three[0]["u"] == 3
    # the O(distinct)-state caveat points at the bounded-state HLL family
    with pytest.raises(DialectError, match="uniqState/uniqMerge"):
        translate("SELECT uniqExactState(x, y) FROM t")
    spark.catalog.dropTempView("ue_probe")


# ---------------------------------------------------------------------------
# Round-8: SAMPLE ... OFFSET deterministic subranges
# ---------------------------------------------------------------------------

def test_sample_offset_partitions_the_table_exactly(spark):
    from python_cdc_postgres_to_clickhouse_spark.dialect import Ddl

    spark.range(0, 400).selectExpr("id AS user_id", "id % 7 AS v") \
        .createOrReplaceTempView("samp_t")
    ddl = Ddl().with_sample_key("samp_t", "xxhash64(user_id)")
    try:
        parts = [
            {r["user_id"] for r in spark.sql(translate(
                f"SELECT user_id FROM samp_t SAMPLE 1/4 OFFSET {k}/4", ddl
            )).collect()}
            for k in range(4)
        ]
        allids = set().union(*parts)
        assert allids == set(range(400))                    # cover
        assert sum(len(p) for p in parts) == 400            # disjoint
        # deterministic: the same query returns the same rows
        again = {r["user_id"] for r in spark.sql(translate(
            "SELECT user_id FROM samp_t SAMPLE 1/4 OFFSET 0/4", ddl
        )).collect()}
        assert again == parts[0]
        # decimal spelling agrees with the fraction spelling
        dec = {r["user_id"] for r in spark.sql(translate(
            "SELECT user_id FROM samp_t SAMPLE 0.25 OFFSET 0.25", ddl
        )).collect()}
        assert dec == parts[1]
    finally:
        spark.catalog.dropTempView("samp_t")


def test_sample_offset_loud_cases():
    from python_cdc_postgres_to_clickhouse_spark.dialect import Ddl

    with pytest.raises(DialectError, match="no SAMPLE BY key registered"):
        translate("SELECT 1 FROM unk SAMPLE 1/10 OFFSET 5/10")
    ddl = Ddl().with_sample_key("st", "user_id")
    with pytest.raises(DialectError, match="row\\s?count|FRACTIONAL"):
        translate("SELECT 1 FROM st SAMPLE 1000 OFFSET 1/2", ddl)
    with pytest.raises(DialectError, match="inside \\[0, 1\\]"):
        translate("SELECT 1 FROM st SAMPLE 3/4 OFFSET 1/2", ddl)


def test_quantile_exact_and_group_array_states(spark):
    """Round-8 composite states: quantileExactState (exact value arrays,
    merge = sorted-union percentile with the one-level interpolation
    convention) and groupArrayState (concatenation merge)."""
    spark.createDataFrame(
        [("a", 1, i) for i in range(1, 11)]
        + [("a", 2, i) for i in range(11, 21)],
        "g string, sub int, v int",
    ).createOrReplaceTempView("qst_probe")
    two = spark.sql(translate(
        "SELECT g, quantileExactMerge(0.5)(st) AS q, "
        "quantileExactMerge(0.9)(st) AS q9 FROM (SELECT g, sub, "
        "quantileExactState(v) AS st FROM qst_probe GROUP BY g, sub) "
        "GROUP BY g"
    )).collect()
    one = spark.sql(
        "SELECT g, percentile(v, 0.5) AS q, percentile(v, 0.9) AS q9 "
        "FROM qst_probe GROUP BY g"
    ).collect()
    assert (two[0]["q"], two[0]["q9"]) == (one[0]["q"], one[0]["q9"])
    # non-parametric merge defaults to the median like CH
    med = spark.sql(translate(
        "SELECT quantileExactMerge(st) AS m FROM (SELECT sub, "
        "quantileExactState(v) AS st FROM qst_probe GROUP BY sub)"
    )).collect()
    assert med[0]["m"] == 10.5
    ga = spark.sql(translate(
        "SELECT sort_array(groupArrayMerge(st)) AS a FROM (SELECT sub, "
        "groupArrayState(v) AS st FROM qst_probe GROUP BY sub)"
    )).collect()
    assert ga[0]["a"] == list(range(1, 21))
    spark.catalog.dropTempView("qst_probe")


def test_window_funnel_translates_and_matches_dataframe_fold(spark):
    """The generated windowFunnel fold must equal x_window_funnel's
    DataFrame fold (same algorithm) on the fixture."""
    from python_cdc_postgres_to_clickhouse_spark.queries.mergetree import (
        x_window_funnel,
    )
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables
    from tests.conftest import SF_ORACLE as sf_dir

    load_tables(spark, sf_dir)
    got = {r["depth"]: r["n_users"] for r in spark.sql(translate(
        "SELECT depth, count() AS n_users FROM (SELECT user_id, "
        "windowFunnel(3600)(ts, event_type = 'signup', "
        "event_type = 'view', event_type = 'purchase') AS depth "
        "FROM events GROUP BY user_id) WHERE depth >= 1 GROUP BY depth"
    )).collect()}
    want = {r["depth"]: r["n_users"]
            for r in x_window_funnel(spark, sf_dir).collect()}
    assert got == want


def test_window_funnel_bad_forms_are_loud():
    with pytest.raises(DialectError, match="literal window"):
        translate("SELECT windowFunnel(w)(ts, a) FROM t")
    with pytest.raises(DialectError, match="not one of"):
        translate("SELECT windowFunnel(60, 'strict_once')(ts, a) FROM t")
    # combined modes translate since round 12 -- no longer loud
    assert "aggregate(" in translate(
        "SELECT windowFunnel(60, 'strict_order', 'strict_increase')"
        "(ts, a, b) FROM t"
    )
    with pytest.raises(DialectError, match="timestamp, cond1"):
        translate("SELECT windowFunnel(60)(ts) FROM t")


def test_sequence_match_and_count_translate(spark):
    """Sequence folds: untimed sequenceMatch (subsequence existence,
    asserted against the engine's own x_sequence_match) and two-step
    sequenceCount — since round 9 CH's exact non-overlapping
    resume-after-match scan, asserted against a Python transcription of
    AggregateFunctionSequenceMatch's countImpl on the oracle fixture."""
    from python_cdc_postgres_to_clickhouse_spark.queries.mergetree import (
        x_sequence_match,
    )
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables
    from tests.conftest import SF_ORACLE

    load_tables(spark, SF_ORACLE)
    got = spark.sql(translate(
        "SELECT count() AS n FROM (SELECT user_id, "
        "sequenceMatch('(?1).*(?2)')(ts, event_type = 'signup', "
        "event_type = 'purchase') AS ok FROM events GROUP BY user_id) "
        "WHERE ok"
    )).collect()[0]["n"]
    want = {r["pattern"]: r["n_matched"]
            for r in x_sequence_match(spark, SF_ORACLE).collect()}
    assert got == want["signup.*purchase"]
    gotc = spark.sql(translate(
        "SELECT sum(m) AS total FROM (SELECT user_id, "
        "sequenceCount('(?1).*(?2)')(ts, event_type = 'signup', "
        "event_type = 'purchase') AS m FROM events GROUP BY user_id)"
    )).collect()[0]["total"]
    by_user: dict = {}
    for r in spark.sql(
        "SELECT user_id, ts, event_id, event_type FROM events"
    ).collect():
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    wantc = 0
    for evs in by_user.values():
        evs.sort()
        open_chain = False
        for _ts, _eid, et in evs:
            if not open_chain and et == "signup":
                open_chain = True
            elif open_chain and et == "purchase":
                wantc += 1
                open_chain = False
    assert gotc == wantc


def test_sequence_next_node_all_four_bases(spark):
    """sequenceNextNode (round 9): CH's next-event-after-a-consecutive-
    chain scan for all four direction/base pairs — head/tail anchor at the
    timeline ends, first_match/last_match at the first/last e1 event, the
    chain never retries a later base, and the answer is NULL when the
    chain breaks or nothing follows."""
    import datetime as dt

    rows = [
        (1, 1, "home"), (1, 2, "gift"), (1, 3, "basket"), (1, 4, "pay"),
        (2, 1, "gift"), (2, 2, "home"),
        (3, 1, "home"),
        (4, 1, "exit"), (4, 2, "home"), (4, 3, "gift"), (4, 4, "basket"),
    ]
    spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1, 0, m), p) for u, m, p in rows],
        "user_id int, ts timestamp, page string",
    ).createOrReplaceTempView("snn_probe")

    def run(sql):
        return {r["user_id"]: r["nxt"]
                for r in spark.sql(translate(sql)).collect()}

    assert run(
        "SELECT user_id, sequenceNextNode('forward', 'head')(ts, page, "
        "page = 'home', page = 'home', page = 'gift') AS nxt "
        "FROM snn_probe GROUP BY user_id"
    ) == {1: "basket", 2: None, 3: None, 4: None}
    assert run(
        "SELECT user_id, sequenceNextNode('forward', 'first_match')(ts, "
        "page, 1 = 1, page = 'gift') AS nxt FROM snn_probe GROUP BY user_id"
    ) == {1: "basket", 2: "home", 3: None, 4: "basket"}
    assert run(
        "SELECT user_id, sequenceNextNode('backward', 'tail')(ts, page, "
        "page = 'pay', page = 'pay', page = 'basket') AS nxt "
        "FROM snn_probe GROUP BY user_id"
    ) == {1: "gift", 2: None, 3: None, 4: None}
    assert run(
        "SELECT user_id, sequenceNextNode('backward', 'last_match')(ts, "
        "page, 1 = 1, page = 'gift') AS nxt FROM snn_probe GROUP BY user_id"
    ) == {1: "home", 2: None, 3: None, 4: "home"}
    with pytest.raises(DialectError, match="forward\\+head"):
        translate("SELECT sequenceNextNode('forward', 'tail')(ts, p, b, c) "
                  "FROM t")
    with pytest.raises(DialectError, match="base_condition"):
        translate("SELECT sequenceNextNode('forward', 'head')(ts, p) FROM t")
    spark.catalog.dropTempView("snn_probe")


def test_max_intersections_sweep(spark):
    """maxIntersections/-Position (round 9): peak overlap via CH's sorted
    ±1 endpoint sweep — ends before starts at equal points (touching
    intervals never overlap), position = the start that FIRST attains the
    peak."""
    import datetime as dt

    mins = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    rows = [
        # three stacked intervals peak at 3 from the 00:45 start
        (1, mins(0), mins(60)), (1, mins(30), mins(90)),
        (1, mins(45), mins(105)), (1, mins(200), mins(260)),
        # touching intervals: [300,360] and [360,420] never overlap
        (2, mins(300), mins(360)), (2, mins(360), mins(420)),
    ]
    spark.createDataFrame(
        rows, "g int, s timestamp, e timestamp"
    ).createOrReplaceTempView("mi_probe")
    got = {r["g"]: (r["peak"], r["at"]) for r in spark.sql(translate(
        "SELECT g, maxIntersections(s, e) AS peak, "
        "maxIntersectionsPosition(s, e) AS at FROM mi_probe GROUP BY g"
    )).collect()}
    assert got == {
        1: (3, mins(45)),
        2: (1, mins(300)),
    }
    with pytest.raises(DialectError, match="start, end"):
        translate("SELECT maxIntersections(s) FROM t")
    spark.catalog.dropTempView("mi_probe")


def test_round9_aggregate_batch(spark):
    """groupArraySorted (exact N smallest ascending), singleValueOrNull,
    quantileGK/quantileBFloat16 (approx_percentile mappings), and the new
    loud pointers for the insertion-order/nondeterministic family."""
    spark.createDataFrame(
        [(1, 30.0), (1, 10.0), (1, 20.0), (1, 40.0), (2, 7.0)],
        "g int, v double",
    ).createOrReplaceTempView("agg9_probe")
    rows = spark.sql(translate(
        "SELECT g, groupArraySorted(3)(v) AS small3, "
        "singleValueOrNull(g) AS sv, quantileGK(200, 0.5)(v) AS med "
        "FROM agg9_probe GROUP BY g ORDER BY g"
    )).collect()
    assert rows[0]["small3"] == [10.0, 20.0, 30.0]
    assert rows[1]["small3"] == [7.0]
    assert rows[0]["sv"] == 1 and rows[1]["sv"] == 2
    assert rows[0]["med"] == 20.0
    # mixed group -> NULL
    sv = spark.sql(translate(
        "SELECT singleValueOrNull(g) AS sv FROM agg9_probe"
    )).collect()
    assert sv[0]["sv"] is None
    assert "percentile_approx" in translate(
        "SELECT quantileBFloat16(0.9)(v) FROM t"
    )
    for fn, hint in [
        ("groupArrayMovingSum(3)(v)", "insertion-order"),
        ("groupArrayMovingAvg(3)(v)", "insertion-order"),
        ("groupArrayLast(3)(v)", "groupArraySorted"),
        ("groupArraySample(3)(v)", "x_det_sample"),
        ("rankCorr(a, b)", "x_rank_corr"),
        ("sparkbar(9)(x, y)", "m_histogram"),
        ("meanZTest(1, 1, 0.95)(a, b)", "studentTTest"),
        ("aggThrow(0.5)(x)", "test-harness"),
    ]:
        with pytest.raises(DialectError, match=hint.replace("(", "\\(")):
            translate(f"SELECT {fn} FROM t")
    spark.catalog.dropTempView("agg9_probe")


def test_sequence_count_is_non_overlapping_resume_after_match(spark):
    """CH semantics pin: on [c1, c1, c2, c2] the scan counts ONE chain —
    the second c1 lies inside the first match's span and is skipped
    (greedy pairing would count 2); the scan then resumes and a later
    c1→c2 adds a second match."""
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "a"), (6, "b")],
        "sec int, et string",
    ).selectExpr(
        "timestamp_seconds(sec) AS ts", "et"
    ).createOrReplaceTempView("seqcnt_probe")
    n = spark.sql(translate(
        "SELECT sequenceCount('(?1).*(?2)')(ts, et = 'a', et = 'b') AS n "
        "FROM seqcnt_probe"
    )).collect()[0]["n"]
    assert n == 2  # (a@1 -> b@3) and (a@5 -> b@6); a@2 and b@4 skipped
    spark.catalog.dropTempView("seqcnt_probe")


def test_sequence_pattern_loud_cases():
    with pytest.raises(DialectError, match="next-raw-event adjacency"):
        translate("SELECT sequenceMatch('(?1)(?2)')(ts, a, b) FROM t")
    with pytest.raises(DialectError, match="refs must be"):
        translate("SELECT sequenceMatch('(?2).*(?1)')(ts, a, b) FROM t")
    with pytest.raises(DialectError, match="two-step"):
        translate("SELECT sequenceCount('(?1).*(?2).*(?3)')(ts, a, b, c) "
                  "FROM t")
    with pytest.raises(DialectError, match="pattern has 2 steps"):
        translate("SELECT sequenceMatch('(?1).*(?2)')(ts, a) FROM t")


def test_timed_sequence_match_translates_with_latest_anchor_fold(spark):
    """(?t<=n) gap bounds: the dialect generates the latest-valid-anchor
    fold — asserted equal to x_sequence_match_timed on the fixture for
    both the 2-step and 3-step patterns."""
    from python_cdc_postgres_to_clickhouse_spark.queries.mergetree import (
        x_sequence_match_timed,
    )
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables
    from tests.conftest import SF_ORACLE

    load_tables(spark, SF_ORACLE)
    want = {r["pattern"]: r["n_matched"]
            for r in x_sequence_match_timed(spark, SF_ORACLE).collect()}
    got2 = spark.sql(translate(
        "SELECT count() AS n FROM (SELECT user_id, "
        "sequenceMatch('(?1)(?t<=14400)(?2)')(ts, event_type = 'signup', "
        "event_type = 'purchase') AS ok FROM events GROUP BY user_id) "
        "WHERE ok"
    )).collect()[0]["n"]
    assert got2 == want["signup(?t<=14400)purchase"]
    got3 = spark.sql(translate(
        "SELECT count() AS n FROM (SELECT user_id, "
        "sequenceMatch('(?1)(?t<=14400)(?2)(?t<=14400)(?3)')(ts, "
        "event_type = 'signup', event_type = 'click', "
        "event_type = 'purchase') AS ok FROM events GROUP BY user_id) "
        "WHERE ok"
    )).collect()[0]["n"]
    assert got3 == want["signup(?t<=14400)click(?t<=14400)purchase"]
    # a mixed pattern: bounded first hop, unbounded second
    mixed = spark.sql(translate(
        "SELECT count() AS n FROM (SELECT user_id, "
        "sequenceMatch('(?1)(?t<=14400)(?2).*(?3)')(ts, "
        "event_type = 'signup', event_type = 'click', "
        "event_type = 'purchase') AS ok FROM events GROUP BY user_id) "
        "WHERE ok"
    )).collect()[0]["n"]
    assert got3 <= mixed  # relaxing the second bound can only add users
    with pytest.raises(DialectError, match="upper gap bounds"):
        translate("SELECT sequenceMatch('(?1)(?t>600)(?2)')(ts, a, b) "
                  "FROM t")


def test_map_combinators_translate(spark):
    """sumMap/minMap/maxMap as map_zip_with folds — both the Map-column
    and the classic (keys, values) two-array spellings."""
    spark.createDataFrame(
        [("a", {"x": 1, "y": 2}), ("a", {"y": 5, "z": 3}), ("b", {"x": 7})],
        "g string, m map<string,int>",
    ).createOrReplaceTempView("mc_probe")
    rows = spark.sql(translate(
        "SELECT g, sumMap(m) AS sm, minMap(m) AS mn, maxMap(m) AS mx "
        "FROM mc_probe GROUP BY g ORDER BY g"
    )).collect()
    assert dict(rows[0]["sm"]) == {"x": 1, "y": 7, "z": 3}
    assert dict(rows[0]["mn"]) == {"x": 1, "y": 2, "z": 3}
    assert dict(rows[0]["mx"]) == {"x": 1, "y": 5, "z": 3}
    assert dict(rows[1]["sm"]) == {"x": 7}
    r2 = spark.sql(translate(
        "SELECT sumMap(ks, vs) AS sm FROM (SELECT array('a','b') AS ks, "
        "array(1, 2) AS vs UNION ALL SELECT array('b'), array(10))"
    )).collect()[0]
    assert dict(r2["sm"]) == {"a": 1, "b": 12}
    with pytest.raises(DialectError, match="map column or"):
        translate("SELECT sumMap(a, b, c) FROM t")
    spark.catalog.dropTempView("mc_probe")


def test_limit_offset_by_form(spark):
    """CH ``LIMIT o, n BY k``: skip o rows per key, keep the next n."""
    out = translate("SELECT x FROM t LIMIT 3, 5 BY k")
    assert "__rn > 3" in out and "<=(3) +(5)" in out.replace("  ", " ")
    spark.createDataFrame(
        [("a", i) for i in range(1, 8)] + [("b", i) for i in range(1, 3)],
        "k string, x int",
    ).createOrReplaceTempView("lob_probe")
    rows = spark.sql(translate(
        "SELECT k, x FROM lob_probe ORDER BY x LIMIT 2, 3 BY k"
    )).collect()
    assert sorted((r["k"], r["x"]) for r in rows) == [
        ("a", 3), ("a", 4), ("a", 5)
    ]
    with pytest.raises(DialectError, match="exactly two counts"):
        translate("SELECT x FROM t LIMIT 1, 2, 3 BY k")
    spark.catalog.dropTempView("lob_probe")


def test_window_funnel_strict_order_mode_is_ch_freeze(spark):
    """windowFunnel(W, 'strict_order') generates CH's freeze fold —
    asserted equal to x_window_funnel_freeze on the fixture."""
    from python_cdc_postgres_to_clickhouse_spark.queries.mergetree import (
        x_window_funnel_freeze,
    )
    from python_cdc_postgres_to_clickhouse_spark.tables import load_tables
    from tests.conftest import SF_ORACLE

    load_tables(spark, SF_ORACLE)
    got = {r["depth"]: r["n"] for r in spark.sql(translate(
        "SELECT depth, count() AS n FROM (SELECT user_id, "
        "windowFunnel(3600, 'strict_order')(ts, event_type = 'signup', "
        "event_type = 'view', event_type = 'purchase') AS depth "
        "FROM events GROUP BY user_id) WHERE depth >= 1 GROUP BY depth"
    )).collect()}
    want = {r["depth"]: r["n_users"]
            for r in x_window_funnel_freeze(spark, SF_ORACLE).collect()}
    assert got == want


def test_round9_scalar_function_batch(spark):
    """parseDateTime (MySQL %-codes → Java pattern via formatDateTime's
    own converter), timeSlots, bitmaskToList (bigint-safe bit probes),
    alphaTokens, mapAdd/mapSubtract (zero results KEPT — only sumMap
    drops them), arrayRotateLeft/arrayShiftLeft/arrayPartialSort,
    toInterval* family, accurateCast via the DDL type table, and the new
    block-order loud pointers."""
    import datetime as dt

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one(
        "parseDateTime('2024-03-15 10:30:45', '%Y-%m-%d %H:%M:%S')"
    ) == dt.datetime(2024, 3, 15, 10, 30, 45)
    assert one("parseDateTime('2024-03-15T10', '%Y-%m-%dT%H')") == \
        dt.datetime(2024, 3, 15, 10)
    assert one("parseDateTimeOrNull('garbage', '%Y-%m-%d')") is None
    assert one(
        "timeSlots(toDateTime('2024-01-01 10:17:00'), 3600, 1800)"
    ) == [dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 1, 10, 30),
          dt.datetime(2024, 1, 1, 11, 0)]
    assert one("bitmaskToList(11)") == "1,2,8"
    assert one("bitmaskToList(toInt64(4294967296))") == "4294967296"
    assert one("alphaTokens('ab12cd-ef')") == ["ab", "cd", "ef"]
    assert sorted(one(
        "mapAdd(map('a', 1, 'b', 2), map('b', -2, 'c', 5))"
    ).items()) == [("a", 1), ("b", 0), ("c", 5)]
    assert sorted(one(
        "mapSubtract(map('a', 3), map('a', 1, 'b', 2))"
    ).items()) == [("a", 2), ("b", -2)]
    assert one("arrayRotateLeft([1,2,3,4,5], 2)") == [3, 4, 5, 1, 2]
    assert one("arrayRotateLeft([1,2,3,4,5], 7)") == [3, 4, 5, 1, 2]
    assert one("arrayShiftLeft([1,2,3,4,5], 2, 0)") == [3, 4, 5, 0, 0]
    assert one("arrayPartialSort(2, [5,1,4,2])") == [1, 2, 4, 5]
    assert one(
        "toDateTime('2024-01-31 00:00:00') + toIntervalMonth(1)"
    ) == dt.datetime(2024, 2, 29)
    assert one("accurateCastOrNull(300, 'Int8')") is None
    assert one("accurateCast(300, 'Int16')") == 300
    assert one("translateUTF8('abc', 'ab', 'xy')") == "xyc"
    assert one("toValidUTF8('plain')") == "plain"
    for bad, hint in [
        ("SELECT neighbor(v, 1) FROM t", "lag"),
        ("SELECT runningDifference(v) FROM t", "x_counter_rate"),
        # replaceRegexpOne translates as of round 10 — see
        # test_replace_regexp_one_and_array_levenshtein
        ("SELECT arrayShiftLeft([1,2], 1)", "default"),
        ("SELECT parseDateTime(s, '%Q') FROM t", "unsupported specifier"),
        ("SELECT rowNumberInAllBlocks() FROM t", "row_number"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


@pytest.mark.heavy
def test_round9_wave3_scalar_batch(spark):
    """multiSearch* (needle-array forms), map leftovers (mapContainsKey /
    mapFilter arg-swap / mapUpdate second-wins / mapConcat first-wins /
    mapExtractKeyLike), URL leftovers (domainWithoutWWW,
    cutToFirstSignificantSubdomain incl. composite TLDs, port, fragment,
    queryStringAndFragment, encode/decodeURLComponent, netloc), scalar
    leftovers (xor, max2/min2, intDivOrZero/moduloOrZero, bit rotates and
    multi-bit tests, bitHammingDistance, roundToExp2/roundDown/
    roundDuration/roundAge, UUID codecs, editDistance, stringJaccardIndex,
    isIPv4String, IPv4CIDRToRange, isValidUTF8, widthBucket), array math
    (dot product / Lp distances / norms / cosine, hasSubstr,
    arrayLastIndex, arrayCumSumNonNegative), and visitParam* legacy
    aliases."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # multiSearch family — same contract as the c_multi_search query
    # (positions 1-based, 0 = none; FirstIndex ties to the lowest index).
    assert one("multiSearchAny('hello world', ['xx', 'wor'])") is True
    assert one("multiSearchAny('hello world', ['xx', 'yy'])") is False
    assert one("multiSearchFirstPosition('hello world', ['xx', 'wor', 'lo'])") == 4
    assert one("multiSearchFirstIndex('hello world', ['xx', 'wor', 'lo'])") == 3
    assert one("multiSearchFirstIndex('hello', ['xx'])") == 0
    assert one("multiSearchAllPositions('hello world', ['xx', 'wor'])") == [0, 7]
    assert one("multiSearchAnyCaseInsensitive('Hello', ['HELL'])") is True
    # map leftovers
    assert one("mapContainsKey(map('a', 1), 'a')") is True
    assert one("mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2))") == {"b": 2}
    assert one("mapExtractKeyLike(map('ab', 1, 'cd', 2), 'a%')") == {"ab": 1}
    assert sorted(one(
        "mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3))").items()
    ) == [("a", 1), ("b", 9), ("c", 3)]
    assert sorted(one(
        "mapConcat(map('a', 1), map('a', 9, 'b', 2))").items()
    ) == [("a", 1), ("b", 2)]
    # URL leftovers
    assert one("domainWithoutWWW('http://www.x.com/p')") == "x.com"
    assert one(
        "cutToFirstSignificantSubdomain('http://news.clickhouse.com.tr/')"
    ) == "clickhouse.com.tr"
    assert one(
        "cutToFirstSignificantSubdomain('http://a.b.example.com/p')"
    ) == "example.com"
    assert one("port('http://x.com:8080/p')") == 8080
    assert one("port('http://x.com/p')") == 0
    assert one("port('http://x.com/p', 443)") == 443
    assert one("fragment('http://x.com/p#frag')") == "frag"
    assert one("queryStringAndFragment('http://x.com/p?a=1#f')") == "a=1#f"
    assert one("decodeURLComponent('a%20b')") == "a b"
    assert one("encodeURLComponent('a b/c')") == "a%20b%2Fc"
    assert one("netloc('http://u:p@x.com:8080/p')") == "u:p@x.com:8080"
    # scalar leftovers
    assert one("xor(1, 0)") == 1 and one("xor(2, 3)") == 0
    assert one("max2(1, 2)") == 2.0 and one("min2(1, 2)") == 1.0
    assert one("intDivOrZero(7, 0)") == 0 and one("intDivOrZero(7, 2)") == 3
    assert one("moduloOrZero(7, 0)") == 0 and one("moduloOrZero(7, 3)") == 1
    assert one("bitRotateLeft(1, 63)") == -(2 ** 63)
    assert one("bitRotateRight(1, 1)") == -(2 ** 63)
    assert one("bitTestAll(7, 0, 1, 2)") is True
    assert one("bitTestAll(5, 0, 1)") is False
    assert one("bitTestAny(8, 0, 1)") is False
    assert one("bitTestAny(9, 0, 1)") is True
    assert one("bitHammingDistance(7, 1)") == 2
    assert one("roundToExp2(100)") == 64 and one("roundToExp2(0)") == 0
    assert one("roundToExp2(64)") == 64
    assert one("roundDown(5, [1, 4, 8])") == 4
    assert one("roundDown(0, [1, 4, 8])") == 1
    assert one("roundDuration(95)") == 60 and one("roundDuration(0)") == 0
    assert one("roundAge(30)") == 25 and one("roundAge(0)") == 0
    uuid = "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert one(f"UUIDNumToString(UUIDStringToNum('{uuid}'))") == uuid
    assert one("editDistance('abc', 'abd')") == 1
    assert one("levenshteinDistance('kitten', 'sitting')") == 3
    # stringJaccardIndex agrees with DuckDB's jaccard() on the same pairs
    # (both compute Jaccard over character sets; pinned here so the
    # semantic anchor is an independent engine, not this shim).
    import duckdb

    for a, b in [("abc", "abd"), ("spark", "park"), ("xx", "yy")]:
        want = duckdb.sql(f"SELECT jaccard('{a}', '{b}')").fetchone()[0]
        assert one(f"stringJaccardIndex('{a}', '{b}')") == pytest.approx(want)
    # DuckDB's jaccard rejects empty strings; CH defines the empty-empty
    # case as identical sets -> 1.
    assert one("stringJaccardIndex('', '')") == 1.0
    assert one("isIPv4String('1.2.3.4')") is True
    assert one("isIPv4String('999.2.3.4')") is False
    rng = one("IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16)")
    assert rng["lower"] == one("IPv4StringToNum('192.168.0.0')")
    assert rng["upper"] == one("IPv4StringToNum('192.168.255.255')")
    assert one("toIPv4('1.0.0.1')") == 16777217
    assert one("isValidUTF8('abc')") == 1
    assert one("widthBucket(3.0, 0.0, 10.0, 5)") == 2
    assert one("visitParamExtractInt('{\"a\": 3}', 'a')") == 3
    assert one("visitParamHas('{\"a\": 3}', 'a')") is True
    # array math
    assert one("arrayDotProduct([1, 2], [3, 4])") == 11.0
    assert one("arrayL2Distance([0, 0], [3, 4])") == 5.0
    assert one("arrayL2SquaredDistance([0, 0], [3, 4])") == 25.0
    assert one("arrayL1Distance([1, 1], [3, 4])") == 5.0
    assert one("arrayLinfDistance([1, 1], [3, 4])") == 3.0
    assert one("arrayL1Norm([3, -4])") == 7.0
    assert one("arrayL2Norm([3, 4])") == 5.0
    assert one("arrayCosineDistance([1, 0], [0, 1])") == 1.0
    assert one("arrayCosineDistance([2, 0], [5, 0])") == 0.0
    assert one("hasSubstr([1, 2, 3, 4], [2, 3])") is True
    assert one("hasSubstr([1, 2, 3, 4], [2, 4])") is False
    assert one("hasSubstr([1], [])") is True
    assert one("arrayLastIndex(x -> x = 2, [2, 1, 2, 3])") == 3
    assert one("arrayLastIndex(x -> x = 9, [2, 1, 2, 3])") == 0
    assert one("arrayCumSumNonNegative([1, 1, -4, 1])") == [1.0, 2.0, 0.0, 1.0]
    # context functions translate to Spark's own introspection
    assert "current_timezone()" in translate("SELECT timezone()")
    assert "current_user()" in translate("SELECT currentUser()")
    # new loud pointers carry the engine-native route
    # (gcd/lcm, the IPv6 codecs, ngramDistance/Search, and the WINDOWED
    # exponentialTimeDecayed* all translate as of round 10 — see
    # test_round10_wave / test_time_decayed_window.)
    for bad, hint in [
        ("SELECT cramersV(a, b) FROM t", "x_cramers_v"),
        ("SELECT detectLanguage(s) FROM t", "x_lang_id"),
        ("SELECT welchTTest(a, b) FROM t", "x_welch_t"),
        ("SELECT kolmogorovSmirnovTest(a, b) FROM t", "x_ks_test"),
        ("SELECT mannWhitneyUTest(a, b) FROM t", "x_mann_whitney_u"),
        ("SELECT mapApply((k, v) -> (k, v), m) FROM t", "transform_keys"),
        # normalizeQuery and the IPv6 OrNull spellings TRANSLATE since
        # round 11; sparkbar keeps the loud rendering pointer and the
        # non-window decayed spelling keeps the window-contract hint.
        ("SELECT sparkbar(9)(x, y) FROM t", "histogram"),
        ("SELECT exponentialTimeDecayedSum(10)(v, t) FROM e", "OVER"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_round9_auc_and_json_keys(spark):
    """arrayAUC (exact pair-counting AUC, sklearn-pinned value on the CH
    doc frame) and the JSON keys family."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # CH docs: arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) = 0.75
    assert one("arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])") == 0.75
    # tie between a positive and a negative contributes 1/2
    assert one("arrayAUC([0.5, 0.5], [1, 0])") == 0.5
    assert one("arrayAUC([0.2, 0.9], [1, 1])") is None  # one-class -> NULL
    assert one("""JSONExtractKeys('{"a": 1, "b": 2}')""") == ["a", "b"]
    kv = one("""JSONExtractKeysAndValues('{"a": 1, "b": 2}', 'Int64')""")
    assert [(e["key"], e["value"]) for e in kv] == [("a", 1), ("b", 2)]
    kv = one("""JSONExtractKeysAndValues('{"a": "x"}', 'String')""")
    assert [(e["key"], e["value"]) for e in kv] == [("a", "x")]
    with pytest.raises(DialectError, match="unsupported value type"):
        translate("SELECT JSONExtractKeysAndValues(j, 'Array(String)') FROM t")


def test_where_resolves_select_aliases_like_clickhouse(spark):
    """CH resolves SELECT-list aliases inside WHERE/PREWHERE/HAVING (alias
    wins over a same-named column under the default
    prefer_column_name_to_alias = 0); Spark doesn't. The dialect inlines
    the alias expression — including the shadowing case and chained
    aliases — scoped per SELECT (subqueries resolve their own names)."""
    assert translate(
        "SELECT round(value) AS v2 FROM events WHERE v2 > 100"
    ) == "SELECT bround(value) AS v2 FROM events WHERE (bround(value)) > 100"
    # shadowing: the alias wins in the filter; the column feeds the expr
    assert translate(
        "SELECT round(value) AS value FROM events WHERE value > 100"
    ) == (
        "SELECT bround(value) AS value FROM events "
        "WHERE (bround(value)) > 100"
    )
    # chained aliases resolve left to right
    assert translate(
        "SELECT value * 2 AS d, d + 1 AS e FROM events WHERE e > 3"
    ).endswith("WHERE ((value * 2) + 1) > 3")
    # HAVING: aggregate aliases inline to the aggregate itself
    assert translate(
        "SELECT user_id, count() AS n FROM events GROUP BY user_id "
        "HAVING n > 5"
    ).endswith("HAVING (count(*)) > 5")
    # qualified references and ORDER BY stay untouched (Spark-native)
    assert translate(
        "SELECT value AS v FROM events WHERE t.v > 1"
    ).endswith("WHERE t.v > 1")
    assert translate(
        "SELECT value AS v FROM events ORDER BY v"
    ).endswith("ORDER BY v")
    # a subquery inside WHERE resolves its own names
    assert translate(
        "SELECT value AS v FROM events WHERE user_id IN (SELECT v FROM o)"
    ).endswith("(SELECT v FROM o)")
    # PREWHERE merges into WHERE and then resolves aliases
    assert translate(
        "SELECT round(value) AS v FROM events PREWHERE v > 1"
    ).endswith("WHERE ((bround(value)) > 1)")
    # executes end to end with CH's shadowing semantics
    spark.sql(
        "SELECT * FROM VALUES (0.4), (1.6) AS t(value)"
    ).createOrReplaceTempView("alias_t")
    rows = spark.sql(translate(
        "SELECT round(value) AS value FROM alias_t WHERE value >= 1"
    )).collect()
    assert [r["value"] for r in rows] == [2.0]


def test_semantic_settings_raise_loud():
    """SETTINGS are stripped EXCEPT the two that change query semantics
    against the shim's pinned conventions."""
    with pytest.raises(DialectError, match="coalesce"):
        translate(
            "SELECT * FROM a LEFT JOIN b USING (k) SETTINGS join_use_nulls = 0"
        )
    with pytest.raises(DialectError, match="alias"):
        translate(
            "SELECT v AS x FROM t WHERE x > 1 "
            "SETTINGS prefer_column_name_to_alias = 1"
        )
    # the SQL-standard values strip silently
    assert translate(
        "SELECT 1 SETTINGS join_use_nulls = 1, max_threads = 8"
    ) == "SELECT 1"


def test_round9_wave4_batch(spark):
    """Vector short spellings, string/date leftovers, snowflake/UUIDv7
    codecs, arrayShingles/arrayJaccardIndex, mapPopulateSeries,
    normalizeL1/L2, formatReadableQuantity, and the wave-4 loud tail."""
    import datetime as dt

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("dotProduct([1, 2], [3, 4])") == 11.0
    assert one("L2Distance([0, 0], [3, 4])") == 5.0
    assert one("cosineDistance([2, 0], [5, 0])") == 0.0
    assert one("normalizeL1([1, 3])") == [0.25, 0.75]
    assert one("normalizeL2([3, 4])") == [0.6, 0.8]
    assert one("left('spark', 2)") == "sp"
    assert one("left('spark', -2)") == "spa"
    assert one("right('spark', 2)") == "rk"
    assert one("right('spark', -2)") == "ark"
    assert one("firstLine('a\\nb\\nc')") == "a"
    assert one("countMatchesCaseInsensitive('aAa', 'a')") == 3
    assert one("countSubstringsCaseInsensitive('aAa', 'a')") == 3
    assert one("regexpExtract('ab12', '([a-z]+)([0-9]+)', 2)") == "12"
    assert one("regexpExtract('ab12', '([a-z]+)')") == "ab"
    assert one("dayName(toDate('2024-01-01'))") == "Monday"
    assert one("daysInMonth(toDate('2024-02-05'))") == 29
    assert one("makeDate(2024, 3, 15)") == dt.date(2024, 3, 15)
    assert one("makeDate(2024, 40)") == dt.date(2024, 2, 9)  # (y, doy) form
    assert one("makeDateTime(2024, 3, 15, 10, 30, 45)") == dt.datetime(
        2024, 3, 15, 10, 30, 45
    )
    assert one("toRelativeMonthNum(toDate('2024-03-15'))") == 2024 * 12 + 3
    # Twitter snowflake round-trip at the epoch origin
    assert one(
        "snowflakeToDateTime(dateTimeToSnowflake(toDateTime('2021-08-15 10:57:56')))"
    ) == dt.datetime(2021, 8, 15, 10, 57, 56)
    assert one(
        "UUIDv7ToDateTime('018f05af-f4a8-778f-86ba-91ef13a21c00')"
    ).year == 2024
    assert one("arrayShingles([1, 2, 3, 4], 2)") == [[1, 2], [2, 3], [3, 4]]
    assert one("arrayShingles([1], 3)") == []
    assert one("arrayJaccardIndex([1, 2], [2, 3])") == pytest.approx(1 / 3)
    assert sorted(one("mapPopulateSeries(map(1, 10, 4, 40))").items()) == [
        (1, 10), (2, 0), (3, 0), (4, 40),
    ]
    assert one("formatReadableQuantity(1234567)") == "1.23 million"
    assert one("formatReadableQuantity(42)") == "42.00"
    assert one("toDecimalString(2.5, 2)") == "2.50"
    assert one("toUnixTimestamp64Nano(fromUnixTimestamp64Nano(1500000000))") \
        == 1500000000 - (1500000000 % 1000)
    for bad, hint in [
        ("SELECT tuplePlus(a, b) FROM t", "zip_with"),
        ("SELECT generateUUIDv7()", "uuid"),
        ("SELECT extractAllGroupsHorizontal(h, p) FROM t", "regexp_extract"),
        ("SELECT proportionsZTest(a, b, c, d, e, f)", "z statistic"),
        # base58Encode/punycodeEncode TRANSLATE since round 11; IDNA
        # stays loud (needs UTS #46 tables, not just RFC 3492)
        ("SELECT idnaEncode(s) FROM t", "UTS #46"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_round9_matrix_aggregates(spark):
    """corrMatrix / covarSampMatrix / covarPopMatrix as k x k grids of
    pairwise aggregates."""
    spark.sql(
        "SELECT * FROM VALUES (1.0, 2.0, 1.0), (2.0, 4.0, 0.0), "
        "(3.0, 6.0, 1.0) AS m(a, b, c)"
    ).createOrReplaceTempView("mat_t")
    row = spark.sql(translate(
        "SELECT corrMatrix(a, b) AS cm, covarPopMatrix(a, b) AS vm "
        "FROM mat_t"
    )).collect()[0]
    assert row["cm"][0][1] == pytest.approx(1.0)  # b = 2a exactly
    assert row["cm"][0][0] == pytest.approx(1.0)
    # covar_pop(a, a) = var_pop(a) = 2/3 for {1,2,3}
    assert row["vm"][0][0] == pytest.approx(2.0 / 3.0)
    assert row["vm"][0][1] == pytest.approx(4.0 / 3.0)
    with pytest.raises(DialectError, match=">= 2 columns"):
        translate("SELECT corrMatrix(a) FROM t")


def test_round9_array_fill_split(spark):
    """arrayFill / arrayReverseFill / arraySplit / arrayReverseSplit as
    per-row folds, pinned to ClickHouse's own documentation frames
    (ArrayFill/ArraySplit docs), including the 2-array lambda form and
    the boolean-vs-UInt8 verdict coercion."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    ch_frame = "[1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL]"
    assert one(f"arrayFill(x -> isNotNull(x), {ch_frame})") == [
        1, 1, 3, 11, 12, 12, 12, 5, 6, 14, 14, 14,
    ]
    assert one(f"arrayReverseFill(x -> isNotNull(x), {ch_frame})") == [
        1, 3, 3, 11, 12, 5, 5, 5, 6, 14, None, None,
    ]
    # first element always stays, even when the predicate rejects it
    assert one("arrayFill(x -> x > 1, [1, 5, 0, 7])") == [1, 5, 5, 7]
    assert one("arraySplit(x -> x = 1, [1, 2, 3, 1, 2, 3])") == [
        [1, 2, 3], [1, 2, 3],
    ]
    # CH doc frame: 2-array lambda, UInt8 verdicts
    assert one(
        "arraySplit((x, y) -> y, [1, 2, 3, 4, 5], [1, 0, 0, 1, 0])"
    ) == [[1, 2, 3], [4, 5]]
    assert one(
        "arrayReverseSplit((x, y) -> y, [1, 2, 3, 4, 5], [1, 0, 0, 1, 0])"
    ) == [[1], [2, 3, 4], [5]]
    # 3+-array lambda forms stay loud
    with pytest.raises(DialectError, match="1- and 2-array"):
        translate("SELECT arrayFill((x, y, z) -> y, a, b, c) FROM t")


def test_round9_bitmap_family(spark):
    """The bitmap family over the canonical sorted-distinct-array bitmap
    value: build/toArray round-trip, set ops and their cardinality forms,
    subset slicing, group folds (Or/And/Xor), groupBitmap's cardinality
    contract, and the State/Merge rollup algebra (two-level union ==
    one-level count)."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("bitmapToArray(bitmapBuild([3, 2, 2, 1]))") == [1, 2, 3]
    assert one("bitmapCardinality(bitmapBuild([3, 2, 2, 1]))") == 3
    assert one(
        "bitmapToArray(bitmapAnd(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])))"
    ) == [2, 3]
    assert one(
        "bitmapToArray(bitmapOr(bitmapBuild([1, 2]), bitmapBuild([2, 3])))"
    ) == [1, 2, 3]
    assert one(
        "bitmapToArray(bitmapXor(bitmapBuild([1, 2]), bitmapBuild([2, 3])))"
    ) == [1, 3]
    assert one(
        "bitmapToArray(bitmapAndnot(bitmapBuild([1, 2]), bitmapBuild([2, 3])))"
    ) == [1]
    assert one("bitmapContains(bitmapBuild([1, 2]), 2)") is True
    assert one("bitmapHasAny(bitmapBuild([1, 2]), bitmapBuild([2, 9]))") is True
    assert one("bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3]))") is True
    assert one("bitmapHasAll(bitmapBuild([1, 2]), bitmapBuild([2, 3]))") is False
    assert one("bitmapAndCardinality(bitmapBuild([1, 2]), bitmapBuild([2, 3]))") == 1
    assert one("bitmapOrCardinality(bitmapBuild([1, 2]), bitmapBuild([2, 3]))") == 3
    assert one("bitmapXorCardinality(bitmapBuild([1, 2]), bitmapBuild([2, 3]))") == 2
    assert one(
        "bitmapAndnotCardinality(bitmapBuild([1, 2]), bitmapBuild([2, 3]))"
    ) == 1
    assert one("bitmapMin(bitmapBuild([5, 9]))") == 5
    assert one("bitmapMin(bitmapBuild(array()))") == 4294967295
    assert one("bitmapMax(bitmapBuild(array()))") == 0
    assert one("bitmapToArray(bitmapSubsetInRange(bitmapBuild([1, 5, 9]), 2, 9))") == [5]
    assert one("bitmapToArray(bitmapSubsetLimit(bitmapBuild([1, 5, 9]), 2, 2))") == [5, 9]
    assert one("bitmapToArray(subBitmap(bitmapBuild([1, 2, 3, 4]), 1, 2))") == [2, 3]
    # group folds over a bitmap-array column
    spark.sql(
        "SELECT * FROM VALUES (1, array(1, 2, 3)), (1, array(2, 3, 4)), "
        "(2, array(5, 6)) AS t(g, bm)"
    ).createOrReplaceTempView("bm_t")
    rows = spark.sql(translate(
        "SELECT g, groupBitmapOr(bm) AS o, groupBitmapAnd(bm) AS a, "
        "groupBitmapXor(bm) AS x FROM bm_t GROUP BY g ORDER BY g"
    )).collect()
    assert [(r.g, r.o, r.a, r.x) for r in rows] == [(1, 4, 2, 2), (2, 2, 2, 2)]
    # groupBitmap returns the CARDINALITY (CH contract)
    assert spark.sql(translate(
        "SELECT groupBitmap(x) AS c FROM (SELECT explode(array(1, 2, 2, 3)) AS x)"
    )).collect()[0]["c"] == 3
    # State/Merge rollup: two-level distinct-union == one-level count
    spark.sql(
        "SELECT * FROM VALUES (1, 'p0', 10), (1, 'p0', 11), (1, 'p1', 10), "
        "(2, 'p0', 7) AS u(g, part, uid)"
    ).createOrReplaceTempView("bm_u")
    one_level = spark.sql(translate(
        "SELECT g, groupBitmap(uid) AS c FROM bm_u GROUP BY g ORDER BY g"
    )).collect()
    two_level = spark.sql(translate(
        "SELECT g, groupBitmapMerge(s) AS c FROM (SELECT g, part, "
        "groupBitmapState(uid) AS s FROM bm_u GROUP BY g, part) "
        "GROUP BY g ORDER BY g"
    )).collect()
    assert [r.c for r in one_level] == [r.c for r in two_level] == [2, 1]


def test_with_fill_interpolate_recurrence(spark):
    """INTERPOLATE (c AS expr) — CH's per-gap recurrence (round 9): each
    inserted row applies expr to the PREVIOUS row's value; original rows
    reset the state; LOCF and recurrence entries mix; DESC fills run the
    recurrence down the reversed axis; referencing another column stays
    loud (it would read the joined current row — NULL on inserted
    rows)."""
    spark.createDataFrame(
        [(1, 100.0, 5), (4, 200.0, 9), (6, 50.0, 2)],
        "d int, v double, w int",
    ).createOrReplaceTempView("fill_rec")
    rows = spark.sql(translate(
        "SELECT d, v, w FROM fill_rec ORDER BY d WITH FILL "
        "INTERPOLATE (v AS v + 10, w)"
    )).collect()
    assert sorted((r["d"], r["v"], r["w"]) for r in rows) == [
        (1, 100.0, 5), (2, 110.0, 5), (3, 120.0, 5),
        (4, 200.0, 9), (5, 210.0, 9), (6, 50.0, 2),
    ]
    rows = spark.sql(translate(
        "SELECT d, v FROM fill_rec ORDER BY d DESC WITH FILL "
        "INTERPOLATE (v AS v * 2)"
    )).collect()
    assert sorted((r["d"], r["v"]) for r in rows) == [
        (1, 100.0), (2, 800.0), (3, 400.0),
        (4, 200.0), (5, 100.0), (6, 50.0),
    ]
    with pytest.raises(DialectError, match="only 'v'"):
        translate("SELECT d, v FROM t ORDER BY d WITH FILL "
                  "INTERPOLATE (v AS v + w)")
    spark.catalog.dropTempView("fill_rec")


def test_with_fill_interpolate_multiple_columns(spark):
    spark.createDataFrame(
        [(1, 10.0, 100), (4, 40.0, 400)],
        "d int, v double, w int",
    ).createOrReplaceTempView("fill_multi")
    rows = spark.sql(translate(
        "SELECT d, v, w FROM fill_multi ORDER BY d WITH FILL "
        "INTERPOLATE (v, w)"
    )).collect()
    got = {r["d"]: (r["v"], r["w"]) for r in rows}
    assert got[2] == (10.0, 100) and got[3] == (10.0, 100)
    assert got[4] == (40.0, 400)
    spark.catalog.dropTempView("fill_multi")


def test_round8_aggregate_batch(spark):
    """sumCount, boundingRatio, intervalLengthSum (sweep-line union fold),
    quantiles* plurals, and the *Stable aliases."""
    spark.createDataFrame(
        [("a", 1.0, 5.0), ("a", 3.0, 8.0), ("a", 10.0, 12.0),
         ("a", 10.5, 11.0), ("b", 0.0, 1.0)],
        "g string, s double, e double",
    ).createOrReplaceTempView("agg8")
    rows = spark.sql(translate(
        "SELECT g, intervalLengthSum(s, e) AS total FROM agg8 "
        "GROUP BY g ORDER BY g"
    )).collect()
    assert rows[0]["total"] == 9.0 and rows[1]["total"] == 1.0
    r = spark.sql(translate(
        "SELECT boundingRatio(s, e) AS b, sumCount(s) AS sc, "
        "corrStable(s, e) AS c, quantilesTiming(0.5, 0.9)(s) AS q "
        "FROM agg8 WHERE g = 'a'"
    )).collect()[0]
    # slope between leftmost (1, 5) and rightmost (10.5, 11) points
    assert r["b"] == (11.0 - 5.0) / (10.5 - 1.0)
    assert (r["sc"]["sum"], r["sc"]["count"]) == (24.5, 4)
    with pytest.raises(DialectError, match="x_counter_rate"):
        translate("SELECT deltaSum(x) FROM t")
    spark.catalog.dropTempView("agg8")


def test_round8_scalar_function_batch(spark):
    """lagInFrame/leadInFrame, dateAdd/dateSub + subtract* units, the
    simpleJSON*/JSONExtractRaw/JSONArrayLength/isValidJSON family,
    firstSignificantSubdomain, substringIndex."""
    import datetime as dt

    spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 15, 10), 5.0, '{"k": [1,2,3]}',
          "https://sub.shop.example.com/a/b?q=1"),
         (1, dt.datetime(2024, 3, 15, 11), 7.0, "not json",
          "https://example.org/x")],
        "k bigint, ts timestamp, v double, j string, u string",
    ).createOrReplaceTempView("fx_probe")
    rows = spark.sql(translate(
        "SELECT k, lagInFrame(v) OVER (PARTITION BY k ORDER BY ts) AS pv, "
        "dateAdd(QUARTER, 1, ts) AS q1, subtractQuarters(ts, 1) AS qm1, "
        "JSONArrayLength(JSONExtractRaw(j, 'k')) AS alen, "
        "isValidJSON(j) AS ok, simpleJSONExtractRaw(j, 'k') AS raw, "
        "firstSignificantSubdomain(u) AS fsd, "
        "substringIndex(u, '/', 3) AS si "
        "FROM fx_probe ORDER BY ts"
    )).collect()
    r0, r1 = rows
    assert r0["pv"] is None and r1["pv"] == 5.0
    assert (r0["q1"].month, r0["qm1"].year, r0["qm1"].month) == (6, 2023, 12)
    assert r0["alen"] == 3 and r1["alen"] is None
    assert r0["ok"] is True and r1["ok"] is False
    assert r0["raw"] == "[1,2,3]"
    # CH: the label before the TLD ('clickhouse' in news.clickhouse.com)
    assert r0["fsd"] == "example" and r1["fsd"] == "example"
    assert r0["si"] == "https://sub.shop.example.com"
    # arrayAUC translates since round-9 wave 4 (exact pair counting)
    assert "aggregate(" in translate("SELECT arrayAUC(a, b) FROM t")
    with pytest.raises(DialectError, match="unicode"):
        translate("SELECT normalizeUTF8NFC(s) FROM t")
    # sumMapFiltered translates as of round 10 — see
    # test_theils_u_and_sum_map_filtered
    assert "map_filter" in translate("SELECT sumMapFiltered([1])(k, v) FROM t")
    spark.catalog.dropTempView("fx_probe")


def test_qualify_rewrites_to_hidden_column_filter(spark):
    """CH QUALIFY (23.x clause; Spark has none): the predicate becomes a
    hidden boolean column, the query wraps, the filter runs outside."""
    spark.createDataFrame(
        [("a", 1), ("a", 9), ("b", 4)], "k string, v int"
    ).createOrReplaceTempView("qual_probe")
    rows = spark.sql(translate(
        "SELECT k, v FROM qual_probe QUALIFY row_number() OVER "
        "(PARTITION BY k ORDER BY v DESC) = 1 ORDER BY k"
    )).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("a", 9), ("b", 4)]
    # after GROUP BY: window over the aggregated rows
    top = spark.sql(translate(
        "SELECT k, max(v) AS mv FROM qual_probe GROUP BY k "
        "QUALIFY rank() OVER (ORDER BY max(v) DESC) = 1"
    )).collect()
    assert [(r["k"], r["mv"]) for r in top] == [("a", 9)]
    with pytest.raises(DialectError, match="DISTINCT"):
        translate("SELECT DISTINCT k FROM t QUALIFY row_number() "
                  "OVER (ORDER BY k) = 1")
    # round 9: only SELECT DISTINCT trips the guard — an aggregate
    # DISTINCT in the select list or a DISTINCT inside a FROM-subquery
    # must translate (they don't change the outer row set).
    agg = spark.sql(translate(
        "SELECT k, count(DISTINCT v) AS nv FROM qual_probe GROUP BY k "
        "QUALIFY rank() OVER (ORDER BY count(DISTINCT v) DESC) = 1"
    )).collect()
    assert [(r["k"], r["nv"]) for r in agg] == [("a", 2)]
    sub = spark.sql(translate(
        "SELECT k FROM (SELECT DISTINCT k FROM qual_probe) "
        "QUALIFY row_number() OVER (ORDER BY k) = 1"
    )).collect()
    assert [r["k"] for r in sub] == ["a"]
    spark.catalog.dropTempView("qual_probe")


def test_first_significant_subdomain_composite_tld(spark):
    """CH special-cases composite TLD second levels: for
    news.clickhouse.com.tr the significant subdomain is 'clickhouse'
    (skip a trailing com/net/org/co label), not 'com'; too-short hosts
    return NULL instead of throwing under ANSI."""
    spark.createDataFrame(
        [("https://news.clickhouse.com.tr/x",),
         ("https://blog.example.co.uk/y",),
         ("https://news.ycombinator.com/z",),
         ("https://com.tr/",),
         ("https://localhost/",)],
        "u string",
    ).createOrReplaceTempView("fsd_probe")
    rows = spark.sql(translate(
        "SELECT firstSignificantSubdomain(u) AS fsd FROM fsd_probe"
    )).collect()
    assert [r["fsd"] for r in rows] == [
        "clickhouse", "example", "ycombinator", None, None,
    ]
    spark.catalog.dropTempView("fsd_probe")


def test_clause_combinations_compose():
    """Cross-clause sanity: each rewrite must leave the others' tokens
    intact (PREWHERE inside the QUALIFY wrapper, TOTALS after PREWHERE,
    LIMIT BY + trailing LIMIT, FILL under an outer LIMIT, ASOF + WHERE +
    GROUP BY, SAMPLE + LIMIT BY, -If over a window)."""
    out = translate(
        "SELECT k, v FROM t PREWHERE v > 0 QUALIFY row_number() OVER "
        "(PARTITION BY k ORDER BY v) = 1"
    )
    assert "WHERE (v > 0))" in out and out.endswith("WHERE __qual")
    out = translate(
        "SELECT k, count() AS n FROM t FINAL PREWHERE k > 0 GROUP BY k "
        "WITH TOTALS ORDER BY k LIMIT 5"
    )
    assert "GROUPING SETS((k), ())" in out and "WHERE (k > 0)" in out
    out = translate("SELECT k, v FROM t ORDER BY k LIMIT 2 BY k LIMIT 10")
    assert "__rn <= 2" in out and out.endswith("LIMIT 10")
    out = translate(
        "SELECT a.k FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t "
        "WHERE a.k > 0 GROUP BY a.k"
    )
    assert "__asof_end" in out and "WHERE a.k > 0 GROUP BY a.k" in out
    out = translate(
        "SELECT x, sumIf(v, x > 0) OVER (PARTITION BY k) FROM t"
    )
    assert "FILTER (WHERE x > 0) OVER" in out


def test_star_modifiers_raise_loud():
    """SELECT * REPLACE/APPLY and COLUMNS('re') need the schema — loud
    with the Spark-native route; * EXCEPT and multiplications pass."""
    for bad in [
        "SELECT * REPLACE (v + 1 AS v) FROM t",
        "SELECT 2, * APPLY (sum) FROM t",
        "SELECT COLUMNS('^l_') FROM t",
    ]:
        with pytest.raises(DialectError):
            translate(bad)
    assert translate("SELECT * EXCEPT (v) FROM t") == \
        "SELECT * EXCEPT(v) FROM t"
    # `*` as multiplication before replace()/apply-named identifiers
    assert "replace(s, 'x', 'y')" in translate(
        "SELECT a * replace(s, 'x', 'y') FROM t"
    )


def test_explain_variants_map_to_extended(spark):
    """CH's EXPLAIN qualifiers (AST/SYNTAX/PLAN/PIPELINE/ESTIMATE) all map
    to Spark's EXPLAIN EXTENDED over the translated query."""
    t = translate("EXPLAIN PIPELINE SELECT countIf(v > 1) FROM t")
    assert t.startswith("EXPLAIN EXTENDED SELECT count(*) FILTER")
    assert translate("EXPLAIN SELECT 1") == "EXPLAIN EXTENDED SELECT 1"
    assert translate(
        "EXPLAIN ESTIMATE SELECT toInt64(1) AS x"
    ) == "EXPLAIN EXTENDED SELECT cast(1 as bigint) AS x"


def test_show_tables_from_maps_to_in(spark):
    assert translate("SHOW TABLES FROM db1 LIKE '%ev%'") == \
        "SHOW TABLES IN db1 LIKE '%ev%'"
    assert translate("SHOW TABLES") == "SHOW TABLES"
    # shared introspection syntax passes through and runs
    assert spark.sql(translate("SHOW DATABASES")).count() >= 1


def test_advice_r9_fixes(spark):
    """Regression pins for the five ADVICE-r9 findings: mixed-type
    JSONExtractKeysAndValues degrades to CH type defaults instead of
    CAST_INVALID_INPUT; right(s, 0) is '' (not the first char); xor is
    variadic; encodeURLComponent matches CH on '~' and '*'; and
    mapPopulateSeries keeps a runtime-empty map empty instead of NULL."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # mixed-type JSON object: string/bool values -> Int64 default 0
    kv = one("""JSONExtractKeysAndValues('{"a":"x","b":1,"c":true}', 'Int64')""")
    assert [(e["key"], e["value"]) for e in kv] == [("a", 0), ("b", 1), ("c", 0)]
    assert one("right('spark', 0)") == ""
    assert one("right('spark', 9)") == "spark"
    assert one("xor(1, 0, 1)") == 0
    assert one("xor(0, 0, 0, 1)") == 1
    assert one("xor(2, 3)") == 0
    with pytest.raises(DialectError, match="xor"):
        translate("SELECT xor(1) FROM t")
    assert one("encodeURLComponent('~a!b*c d')") == "~a%21b%2Ac%20d"
    # runtime-empty typed map stays an empty map (not NULL)
    assert one("mapPopulateSeries(map_filter(map(1, 10), (k, v) -> false))") == {}


def test_round10_wave(spark):
    """Round-10 translations: gcd/lcm (bounded Euclid fold), the ngram
    distance/search family (byte-level 4-grams; char-level 3-grams for
    *UTF8), and the IPv6 codecs (pure-SQL parse + inet_ntop-style
    formatter with RFC 5952 zero-run compression and the IPv4-embedded
    forms)."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # gcd / lcm
    assert one("gcd(12, 18)") == 6
    assert one("gcd(0, 5)") == 5 and one("gcd(0, 0)") == 0
    assert one("gcd(-12, 18)") == 6
    # consecutive-Fibonacci worst case exercises the full 91-step fold
    assert one("gcd(7540113804746346429, 4660046610375530309)") == 1
    assert one("lcm(4, 6)") == 12 and one("lcm(0, 5)") == 0
    assert one("lcm(-4, 6)") == 12
    # ngramDistance: |A symdiff B| / (|A| + |B|) over 4-byte-gram multisets
    assert one("ngramDistance('abcde', 'abcde')") == 0.0
    assert one("ngramDistance('abcd', 'wxyz')") == 1.0
    assert one("ngramDistance('ab', 'cd')") == 0.0        # both gram-free
    assert one("ngramDistance('abcd', 'xy')") == 1.0      # one-sided
    # 'abcde' grams {abcd,bcde}, 'abcdf' grams {abcd,bcdf} -> 2/4
    assert one("ngramDistance('abcde', 'abcdf')") == 0.5
    assert one("ngramDistanceCaseInsensitive('ABCDE', 'abcde')") == 0.0
    assert one("ngramDistanceUTF8('abc', 'abc')") == 0.0  # 3-char grams
    # ngramSearch: multiset |needle ∩ haystack| / |needle|
    assert one("ngramSearch('ClickHouse', 'House')") == 1.0
    assert one("ngramSearch('abcdef', 'wxyz')") == 0.0
    assert one("ngramSearch('abcdef', '')") == 0.0
    assert one("ngramSearchCaseInsensitive('CLICKHOUSE', 'house')") == 1.0
    # IPv6 round-trips hit every formatter branch: plain, zero-run
    # compression (first maximal run, len >= 2 only), loopback, all-zero,
    # trailing-run colon, v4-mapped, v4-embedded, and the 7-zero hex form.
    for s in ["2001:db8::1", "::1", "::", "1:2:3:4:5:6:7:8",
              "2001:db8::1:0:0:1", "a:0:0:b::c", "1::", "::2",
              "::ffff:1.2.3.4", "::1.2.3.4", "fe80::1:2:3"]:
        assert one(f"IPv6NumToString(IPv6StringToNum('{s}'))") == s
    # non-canonical spellings canonicalize exactly like inet_ntop
    assert one("IPv6NumToString(toIPv6('2001:0db8:0000:0000:0000:ff00:0042:8329'))") \
        == "2001:db8::ff00:42:8329"
    assert one("IPv6NumToString(toIPv6('0:0:0:0:0:0:0:2'))") == "::2"
    # bare IPv4 maps to ::ffff:a.b.c.d (CH toIPv6 contract)
    assert one("IPv6NumToString(toIPv6('1.2.3.4'))") == "::ffff:1.2.3.4"
    # single zero group is NOT compressed (run length >= 2 rule)
    assert one("IPv6NumToString(toIPv6('1:0:2:3:4:5:6:7'))") == "1:0:2:3:4:5:6:7"
    # validation
    for s, exp in [("2001:db8::1", True), ("::", True), ("1.2.3.4", False),
                   ("::ffff:1.2.3.4", True), ("1:2:3:4:5:6:7:8:9", False),
                   ("12345::", False), ("1::2::3", False), ("abcd", False),
                   ("::1.2.3.400", False), ("1:2:3:4:5:6:7:1.2.3.4", False),
                   ("1:2:3:4:5:6:1.2.3.4", True), ("1::1.2.3.4", True)]:
        assert one(f"isIPv6String('{s}')") is exp, s
    # invalid input aborts the query, CH's throw-on-bad-row contract
    with pytest.raises(Exception, match="invalid IPv6"):
        one("IPv6StringToNum('not-an-ip')")


def test_time_decayed_window(spark):
    """exponentialTimeDecayed{Sum,Avg,Count,Max}(λ)(…) OVER (spec): the
    partition-max-anchored rewrite is algebraically exact (anchors
    cancel), overflow-safe for epoch timestamps (every exp arg <= 0),
    and matches a direct per-frame Python evaluation."""
    import math

    rows = [("a", 1, 10.0), ("a", 3, 20.0), ("a", 7, 5.0),
            ("b", 2, 100.0), ("b", 10, 1.0)]
    spark.createDataFrame(rows, "k string, t int, v double") \
        .createOrReplaceTempView("decay_e")
    got = spark.sql(translate(
        "SELECT k, t, "
        "exponentialTimeDecayedSum(4)(v, t) OVER (PARTITION BY k ORDER BY t) AS dsum, "
        "exponentialTimeDecayedAvg(4)(v, t) OVER (PARTITION BY k ORDER BY t) AS davg, "
        "exponentialTimeDecayedCount(4)(t) OVER (PARTITION BY k ORDER BY t) AS dcnt, "
        "exponentialTimeDecayedMax(4)(v, t) OVER (PARTITION BY k ORDER BY t) AS dmax "
        "FROM decay_e ORDER BY k, t"
    )).collect()
    by_key: dict[str, list[tuple[int, float]]] = {}
    for k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    for r in got:
        evs = sorted(by_key[r.k])
        frame = [(t, v) for t, v in evs if t <= r.t]
        ws = [math.exp((t - r.t) / 4) for t, _ in frame]
        wv = [v * w for (_, v), w in zip(frame, ws)]
        for gotv, ref in [(r.dsum, sum(wv)), (r.davg, sum(wv) / sum(ws)),
                          (r.dcnt, sum(ws)), (r.dmax, max(wv))]:
            assert gotv == pytest.approx(ref, rel=1e-12)
    # epoch-scale timestamps stay finite (the anchor prevents overflow)
    rows2 = [("a", 1700000000 + d, float(d)) for d in (0, 3600, 7200, 86400)]
    spark.createDataFrame(rows2, "k string, t bigint, v double") \
        .createOrReplaceTempView("decay_big")
    big = spark.sql(translate(
        "SELECT exponentialTimeDecayedSum(3600)(v, t) "
        "OVER (PARTITION BY k ORDER BY t) AS d FROM decay_big"
    )).collect()
    assert all(math.isfinite(r.d) for r in big)


def test_group_bitmap_xor_linear_and_state_hint(spark):
    """Round-10 VERDICT items: groupBitmapXor's odd-multiplicity count is
    now a sorted run-length fold (O(n log n) per group, same output), and
    groupBitmapState's loud multi-arg error carries the bounded-state
    uniqState/HLL hint like uniqExactState's."""
    rows = [("g1", [1, 2, 3]), ("g1", [2, 3, 4]), ("g1", [3]),
            ("g2", []), ("g2", [5, 5, 5])]
    spark.createDataFrame(rows, "k string, bm array<int>") \
        .createOrReplaceTempView("gbx")
    out = spark.sql(translate(
        "SELECT k, groupBitmapXor(bm) AS x FROM gbx GROUP BY k ORDER BY k"
    )).collect()
    # g1 multiplicities 1:1 2:2 3:3 4:1 -> odd {1,3,4}; g2: within-bitmap
    # dups count once -> 5:1
    assert [(r.k, r.x) for r in out] == [("g1", 3), ("g2", 1)]
    with pytest.raises(DialectError, match="uniqState/uniqMerge"):
        translate("SELECT groupBitmapState(a, b) FROM t")


def test_jaro_family_and_entropy(spark):
    """jaroSimilarity / jaroWinklerSimilarity (greedy window match as a
    SQL fold; classic published vectors) and single-expression Shannon
    entropy (sorted run-length fold, base 2)."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # canonical textbook vectors: m, ls, lt, half-transpositions
    assert one("jaroSimilarity('MARTHA', 'MARHTA')") == pytest.approx(17 / 18)
    assert one("jaroSimilarity('DWAYNE', 'DUANE')") == pytest.approx(
        (4 / 6 + 4 / 5 + 1) / 3
    )
    assert one("jaroSimilarity('DIXON', 'DICKSONX')") == pytest.approx(
        (4 / 5 + 4 / 8 + 1) / 3
    )
    assert one("jaroSimilarity('abc', 'abc')") == 1.0
    # empty contract matches DuckDB/RapidFuzz: either empty -> 0
    assert one("jaroSimilarity('', '')") == 0.0
    assert one("jaroSimilarity('a', '')") == 0.0
    assert one("jaroSimilarity('abc', 'xyz')") == 0.0
    assert one("jaroWinklerSimilarity('MARTHA', 'MARHTA')") == pytest.approx(
        17 / 18 + 3 * 0.1 * (1 - 17 / 18)
    )
    j = (4 / 6 + 4 / 5 + 1) / 3
    assert one("jaroWinklerSimilarity('DWAYNE', 'DUANE')") == pytest.approx(
        j + 1 * 0.1 * (1 - j)
    )
    # below the 0.7 boost threshold the Winkler prefix boost is NOT applied
    assert one("jaroWinklerSimilarity('aXXXXXXX', 'aYYYYYYY')") == \
        pytest.approx(one("jaroSimilarity('aXXXXXXX', 'aYYYYYYY')"))
    # DuckDB cross-check values for the threshold pair
    assert one("jaroWinklerSimilarity('az', 'ay')") == pytest.approx(2 / 3)
    rows = ([("g", v) for v in [1, 1, 2, 2]]
            + [("h", v) for v in [1, 1, 1, 1]]
            + [("i", v) for v in [1, 2, 3, 4]])
    spark.createDataFrame(rows, "k string, v int") \
        .createOrReplaceTempView("ent_t")
    out = {r.k: r.e for r in spark.sql(translate(
        "SELECT k, entropy(v) AS e FROM ent_t GROUP BY k"
    )).collect()}
    assert out["g"] == pytest.approx(1.0)
    assert out["h"] == pytest.approx(0.0)
    assert out["i"] == pytest.approx(2.0)


def test_damerau_levenshtein(spark):
    """TRUE Damerau–Levenshtein (unrestricted adjacent-transposition DP):
    'CA'→'ABC' is 2 (OSA would say 3), pinned vectors + the classic
    edit-distance pairs; DuckDB's damerau_levenshtein agrees on all of
    these (RapidFuzz, cross-checked when the rule landed)."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("damerauLevenshteinDistance('CA', 'ABC')") == 2
    assert one("damerauLevenshteinDistance('ab', 'ba')") == 1
    assert one("damerauLevenshteinDistance('abc', 'acb')") == 1
    assert one("damerauLevenshteinDistance('', 'abc')") == 3
    assert one("damerauLevenshteinDistance('', '')") == 0
    assert one("damerauLevenshteinDistance('kitten', 'sitting')") == 3
    assert one("damerauLevenshteinDistance('a cat', 'an act')") == 2
    assert one("damerauLevenshteinDistance('same', 'same')") == 0
    assert one("damerauLevenshteinDistance(NULL, 'x')") is None


def test_path_table_functions_untuple_format_row(spark):
    """file/s3/url table functions map to Spark's direct-path FROM for
    self-describing formats; untuple expands a struct; formatRow renders
    CSV/TSV/JSONEachRow row strings (newline in the plain spelling);
    cluster/remote/merge/generateRandom raise loud with the Spark route."""
    from .conftest import SF_SMOKE

    sql = translate(f"SELECT count(*) AS n FROM file('{SF_SMOKE}/nation.parquet')")
    assert f"parquet.`{SF_SMOKE}/nation.parquet`" in sql
    assert spark.sql(sql).collect()[0]["n"] == 25
    assert spark.sql(translate(
        f"SELECT n_name FROM s3('{SF_SMOKE}/nation.parquet', 'Parquet') "
        "ORDER BY n_nationkey LIMIT 1"
    )).collect()[0]["n_name"] == "NATION_0"
    spark.sql("SELECT named_struct('a', 1, 'b', 2) AS p") \
        .createOrReplaceTempView("untuple_t")
    row = spark.sql(translate("SELECT untuple(p) FROM untuple_t")).collect()[0]
    assert (row.a, row.b) == (1, 2)
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("formatRow('CSV', 1, 'a,b')") == '1,"a,b"\n'
    assert one("formatRowNoNewline('TSV', 1, 'x')") == "1\tx"
    assert one("formatRow('JSONEachRow', 1)") == '{"col1":1}\n'
    for bad, hint in [
        ("SELECT * FROM remote('h', db.t)", "routing"),
        ("SELECT * FROM merge('db', '^x')", "UNION ALL"),
        ("SELECT * FROM generateRandom('a Int64')", "nondeterministic"),
        ("SELECT * FROM file(path_col)", "literal path"),
        ("SELECT * FROM file('x.csv')", "self-describing"),
        ("SELECT * FROM s3('u', 'k', 's', 'CSV', 'a Int64')", "credential"),
        ("SELECT formatRow('Pretty', x) FROM t", "row-string"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_ipv6_formatter_matches_inet_ntop(spark):
    """Fuzz the IPv6 codec family against glibc's own inet_ntop/inet_pton
    (Python socket) — the formatter the shim mirrors. Crafted zero-run
    patterns + random bytes + the special embedded-IPv4/loopback shapes;
    formatter output must be byte-identical, the parser must round-trip,
    and the validator must accept every canonical string."""
    import random
    import socket

    random.seed(42)
    addrs = []
    for pat in range(48):
        w = [0 if (pat >> (i % 8)) & 1 else random.randint(1, 0xFFFF)
             for i in range(8)]
        addrs.append(b"".join(x.to_bytes(2, "big") for x in w))
    for _ in range(32):
        addrs.append(random.randbytes(16))
    for w in ([0] * 8, [0] * 7 + [1], [0] * 5 + [0xFFFF, 0x0102, 0x0304],
              [0] * 6 + [0x0102, 0x0304], [0] * 6 + [0, 5], [0] * 7 + [2],
              [0, 0, 0, 0, 0, 0xFFFE, 1, 2], [1] + [0] * 7):
        addrs.append(b"".join(x.to_bytes(2, "big") for x in w))

    spark.createDataFrame([(a,) for a in addrs], "b binary") \
        .createOrReplaceTempView("v6_fuzz_bin")
    got = [r.r for r in spark.sql(translate(
        "SELECT IPv6NumToString(b) AS r FROM v6_fuzz_bin")).collect()]
    for a, g in zip(addrs, got):
        assert g == socket.inet_ntop(socket.AF_INET6, a), a.hex()

    strs = [socket.inet_ntop(socket.AF_INET6, a) for a in addrs]
    spark.createDataFrame([(s,) for s in strs], "s string") \
        .createOrReplaceTempView("v6_fuzz_str")
    parsed = [bytes(r.r) for r in spark.sql(translate(
        "SELECT IPv6StringToNum(s) AS r FROM v6_fuzz_str")).collect()]
    assert parsed == addrs
    assert all(r.r for r in spark.sql(translate(
        "SELECT isIPv6String(s) AS r FROM v6_fuzz_str")).collect())


def test_round10_functions_match_python_references(spark):
    """Randomized cross-check of the round-10 scalar family against
    pure-Python references (one batched SELECT): gcd/lcm vs math,
    damerauLevenshteinDistance vs the unrestricted DL DP,
    jaroSimilarity vs the standard greedy-window algorithm, and
    ngramDistance vs a byte-level 4-gram multiset computation."""
    import math
    import random
    from collections import Counter

    random.seed(11)

    def py_jaro(s, t):
        ls, lt = len(s), len(t)
        if ls == 0 or lt == 0:
            return 0.0
        w = max(max(ls, lt) // 2 - 1, 0)
        flags = [False] * lt
        sm, js = [], []
        for i in range(ls):
            lo, hi = max(i - w, 0), min(i + w, lt - 1)
            for j in range(lo, hi + 1):
                if not flags[j] and t[j] == s[i]:
                    flags[j] = True
                    sm.append(s[i])
                    js.append(j)
                    break
        if not js:
            return 0.0
        m = len(js)
        tr = sum(1 for k, j in enumerate(sorted(js)) if sm[k] != t[j]) // 2
        return (m / ls + m / lt + (m - tr) / m) / 3

    def py_dl(a, b):
        # unrestricted Damerau-Levenshtein (wiki da/db formulation)
        da = {}
        md = len(a) + len(b)
        d = [[md] * (len(b) + 2) for _ in range(len(a) + 2)]
        for i in range(len(a) + 1):
            d[i + 1][1] = i
        for j in range(len(b) + 1):
            d[1][j + 1] = j
        for i in range(1, len(a) + 1):
            db = 0
            for j in range(1, len(b) + 1):
                k, l = da.get(b[j - 1], 0), db
                cost = 0 if a[i - 1] == b[j - 1] else 1
                if cost == 0:
                    db = j
                d[i + 1][j + 1] = min(
                    d[i][j] + cost, d[i + 1][j] + 1, d[i][j + 1] + 1,
                    d[k][l] + (i - k - 1) + 1 + (j - l - 1))
            da[a[i - 1]] = i
        return d[len(a) + 1][len(b) + 1]

    def py_ngram_dist(a, b):
        ga = Counter(a[i:i + 4] for i in range(len(a) - 3)) if len(a) >= 4 else Counter()
        gb = Counter(b[i:i + 4] for i in range(len(b) - 3)) if len(b) >= 4 else Counter()
        tot = sum(ga.values()) + sum(gb.values())
        if tot == 0:
            return 0.0
        sym = sum(abs(ga[g] - gb[g]) for g in set(ga) | set(gb))
        return sym / tot

    pairs = [("".join(random.choice("abcd") for _ in range(random.randint(0, 9))),
              "".join(random.choice("abcd") for _ in range(random.randint(0, 9))))
             for _ in range(40)]
    ints = [(random.randint(0, 10**12), random.randint(0, 10**12))
            for _ in range(20)]
    exprs = []
    for i, (a, b) in enumerate(pairs):
        exprs += [f"jaroSimilarity('{a}', '{b}') AS j{i}",
                  f"damerauLevenshteinDistance('{a}', '{b}') AS d{i}",
                  f"ngramDistance('{a}', '{b}') AS n{i}"]
    for i, (x, y) in enumerate(ints):
        exprs += [f"gcd({x}, {y}) AS g{i}", f"lcm({x} % 100000, {y} % 100000) AS l{i}"]
    row = spark.sql(translate("SELECT " + ", ".join(exprs))).collect()[0]
    for i, (a, b) in enumerate(pairs):
        assert row[f"j{i}"] == pytest.approx(py_jaro(a, b), abs=1e-12), (a, b)
        assert row[f"d{i}"] == py_dl(a, b), (a, b)
        # float32 result vs float64 reference
        assert abs(row[f"n{i}"] - py_ngram_dist(a, b)) < 1e-6, (a, b)
    for i, (x, y) in enumerate(ints):
        assert row[f"g{i}"] == math.gcd(x, y), (x, y)
        assert row[f"l{i}"] == math.lcm(x % 100000, y % 100000), (x, y)


def test_to_start_of_interval_multi_month(spark):
    """N-month/quarter/year toStartOfInterval grids anchor at 1970-01
    (the calendar-unit origin): quarter-of-epoch and biennial grids."""
    import datetime as dt

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one(
        "toStartOfInterval(toDateTime('2024-05-17 10:00:00'), INTERVAL 3 MONTH)"
    ) == dt.datetime(2024, 4, 1)
    assert one(
        "toStartOfInterval(toDateTime('2024-03-31 23:59:59'), INTERVAL 3 MONTH)"
    ) == dt.datetime(2024, 1, 1)
    assert one(
        "toStartOfInterval(toDateTime('2023-08-01 00:00:00'), INTERVAL 2 YEAR)"
    ) == dt.datetime(2022, 1, 1)
    assert one(
        "toStartOfInterval(toDateTime('2024-11-05 00:00:00'), INTERVAL 2 QUARTER)"
    ) == dt.datetime(2024, 7, 1)


def test_replace_regexp_one_and_array_levenshtein(spark):
    """replaceRegexpOne: first-match-only regex replacement via the
    regexp_instr splice (re-anchored so backreferences keep numbering;
    CH's \\1 backrefs become Java's $1 like replaceRegexpAll).
    arrayLevenshteinDistance: element-wise Levenshtein DP fold with
    null-safe equality."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("replaceRegexpOne('aaa', 'a', 'b')") == "baa"
    assert one("replaceRegexpOne('a1b22c', '[0-9]+', 'N')") == "aNb22c"
    assert one(
        "replaceRegexpOne('hello world', '(w\\\\w+)', '[\\\\1]')"
    ) == "hello [world]"
    assert one("replaceRegexpOne('nomatch', 'xyz', 'Q')") == "nomatch"
    assert one("replaceRegexpOne('', 'a', 'b')") == ""
    assert one("arrayLevenshteinDistance([1, 2, 3], [1, 3])") == 1
    assert one("arrayLevenshteinDistance([1, 2, 3], [4, 5, 6])") == 3
    assert one("arrayLevenshteinDistance([], [1, 2])") == 2
    assert one("arrayLevenshteinDistance([1, 2], [])") == 2
    assert one("arrayLevenshteinDistance(['a', 'b'], ['a', 'b'])") == 0
    assert one("arrayLevenshteinDistance([1, NULL, 3], [1, NULL, 3])") == 0


def test_theils_u_and_sum_map_filtered(spark):
    """theilsU: uncertainty coefficient U(x|y) from three run-length
    entropy folds — 1 when x is a function of y, 0 under independence,
    NULL for a constant x. sumMapFiltered: key-filtered sumMap in both
    the map-column and (keys, values) spellings."""
    rows = []
    for i in range(40):
        rows.append(("det", str((i % 4) * 10), str(i % 4)))
    for i in range(40):
        rows.append(("ind", str(i % 2), str((i // 2) % 5)))
    for i in range(10):
        rows.append(("const", "same", str(i % 3)))
    spark.createDataFrame(rows, "g string, x string, y string") \
        .createOrReplaceTempView("theils_t")
    out = {r.g: r.u for r in spark.sql(translate(
        "SELECT g, theilsU(x, y) AS u FROM theils_t GROUP BY g")).collect()}
    assert out["det"] == pytest.approx(1.0)
    assert out["ind"] == pytest.approx(0.0, abs=1e-12)
    assert out["const"] is None
    rows2 = [("a", {"x": 1, "y": 2}), ("a", {"x": 3, "z": 9})]
    spark.createDataFrame(rows2, "k string, m map<string,int>") \
        .createOrReplaceTempView("smf_t")
    got = spark.sql(translate(
        "SELECT k, sumMapFiltered(['x', 'y'])(m) AS s FROM smf_t GROUP BY k"
    )).collect()[0]["s"]
    assert got == {"x": 4, "y": 2}
    got2 = spark.sql(translate(
        "SELECT k, sumMapFiltered(['x'])(map_keys(m), map_values(m)) AS s "
        "FROM smf_t GROUP BY k")).collect()[0]["s"]
    assert got2 == {"x": 4}


def test_time_decayed_window_randomized(spark):
    """Randomized check of the decayed-window rewrite: random partitions,
    duplicate and epoch-scale timestamps, negative values — every row of
    every function must match the direct per-frame Python evaluation."""
    import math
    import random

    random.seed(23)
    rows = []
    for k in ("a", "b", "c"):
        base = random.choice([0, 1_700_000_000])
        ts = sorted(random.randint(0, 500) for _ in range(12))
        for i, t in enumerate(ts):
            rows.append((k, base + t, i, round(random.uniform(-5, 5), 2)))
    spark.createDataFrame(rows, "k string, t bigint, eid int, v double") \
        .createOrReplaceTempView("decay_rand")
    got = spark.sql(translate(
        "SELECT k, t, eid, "
        "exponentialTimeDecayedSum(37)(v, t) OVER "
        "(PARTITION BY k ORDER BY t, eid) AS dsum, "
        "exponentialTimeDecayedAvg(37)(v, t) OVER "
        "(PARTITION BY k ORDER BY t, eid) AS davg, "
        "exponentialTimeDecayedCount(37)(t) OVER "
        "(PARTITION BY k ORDER BY t, eid) AS dcnt, "
        "exponentialTimeDecayedMax(37)(v, t) OVER "
        "(PARTITION BY k ORDER BY t, eid) AS dmax "
        "FROM decay_rand"
    )).collect()
    by_key: dict = {}
    for k, t, eid, v in rows:
        by_key.setdefault(k, []).append((t, eid, v))
    for r in got:
        evs = sorted(by_key[r.k])
        # default RANGE frame: all rows whose (t) <= current t — ties on
        # the full ORDER BY key enter together, so frame = rows with
        # (t, eid) <= (r.t, r.eid) plus any exact (t, eid) ties; with
        # unique (t, eid) pairs the peer set is rows up to the current one
        frame = [e for e in evs if (e[0], e[1]) <= (r.t, r.eid)]
        ws = [math.exp((t - r.t) / 37) for t, _, _ in frame]
        wv = [v * w for (_, _, v), w in zip(frame, ws)]
        assert r.dsum == pytest.approx(sum(wv), rel=1e-9)
        assert r.davg == pytest.approx(sum(wv) / sum(ws), rel=1e-9)
        assert r.dcnt == pytest.approx(sum(ws), rel=1e-9)
        assert r.dmax == pytest.approx(max(wv), rel=1e-9)


def test_round10_passthrough_sweep(spark):
    """Names that previously passed through silently: toYYYYMMDDhhmmss,
    intExp2/intExp10 (exact integer folds), the rand family, arrayProduct,
    arrayRotateRight, byteSlice, and CH-style format() placeholders
    ({} / {N} / {{}} escapes; % is literal in CH and stays literal).
    xxHash64/xxh3/xxHash32/sipHash128 follow the cityHash64 policy
    (role-equivalent stable hashes, documented different values);
    hiveHash/javaHash/bitSlice/reinterpretAsString raise loud."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one(
        "toYYYYMMDDhhmmss(toDateTime('2024-03-15 10:30:45'))"
    ) == 20240315103045
    assert one("intExp2(10)") == 1024 and one("intExp2(0)") == 1
    assert one("intExp10(18)") == 10 ** 18 and one("intExp10(0)") == 1
    assert one("arrayProduct([2, 3, 4])") == 24.0
    assert one("arrayRotateRight([1,2,3,4,5], 2)") == [4, 5, 1, 2, 3]
    assert one("arrayRotateRight([1,2,3], 0)") == [1, 2, 3]
    assert one("arrayRotateRight(cast(array() as array<int>), 2)") == []
    assert one("byteSlice('hello', 2, 3)") == "ell"
    assert one("format('{} scored {}', 'ann', 9)") == "ann scored 9"
    assert one("format('{1} then {0}', 'a', 'b')") == "b then a"
    # % is literal in CH format; doubled braces are escapes
    assert one("format('100% {{x}} {}', 'v')") == "100% {x} v"
    assert len(one("sipHash128('x')")) == 16  # 16-byte shape
    assert one("randUniform(2, 2)") == 2.0
    assert one("randBernoulli(1.0)") == 1
    assert translate("SELECT xxHash64(s) FROM t") == \
        "SELECT xxhash64(s) FROM t"
    assert translate("SELECT xxHash32(s) FROM t") == "SELECT hash(s) FROM t"
    for bad, hint in [
        ("SELECT hiveHash(s) FROM t", "xxhash64"),
        ("SELECT javaHash(s) FROM t", "hiveHash"),
        ("SELECT bitSlice(s, 1, 3) FROM t", "byteSlice"),
        ("SELECT reinterpretAsString(n) FROM t", "encode"),
        ("SELECT format(p, a) FROM t", "literal pattern"),
        ("SELECT wordShingleSimHash(s) FROM t", "SimHash"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_round_is_bankers(spark):
    """CH round() on floats is banker's rounding (half to even); Spark's
    round() is HALF_UP. The dialect maps round -> bround so exact .5
    ties agree with CH; roundBankers stays an explicit alias."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("round(2.5)") == 2.0
    assert one("round(3.5)") == 4.0
    assert one("round(-2.5)") == -2.0
    assert one("round(2.4)") == 2.0 and one("round(2.6)") == 3.0
    assert one("roundBankers(2.5)") == 2.0


def test_combinator_sweep_round10(spark):
    """Aggregate-combinator gaps closed in round 10: avgArray (elements,
    not per-row means), uniq(Exact)Array (exact distinct over the union),
    groupArrayArray, countDistinct, the -Array -If composition, and the
    parametric -If composition for the quantile family; topKIf and
    -Resample raise loud with routes."""
    rows = [("a", [1, 2], 1, 5.0), ("a", [3], 0, 7.0), ("b", [4, 5, 2], 1, 1.0)]
    spark.createDataFrame(rows, "k string, arr array<int>, c int, v double") \
        .createOrReplaceTempView("comb_t")
    q = lambda s: {r.k: r.r for r in spark.sql(translate(
        f"SELECT k, {s} AS r FROM comb_t GROUP BY k")).collect()}
    assert q("avgArray(arr)") == {"a": 2.0, "b": pytest.approx(11 / 3)}
    assert q("uniqArray(arr)") == {"a": 3, "b": 3}
    assert {k: sorted(v) for k, v in q("groupArrayArray(arr)").items()} == \
        {"a": [1, 2, 3], "b": [2, 4, 5]}
    assert q("countDistinct(c)") == {"a": 2, "b": 1}
    assert q("sumArrayIf(arr, c = 1)") == {"a": 3.0, "b": 11.0}
    assert q("quantileExactIf(0.5)(v, c = 1)") == {"a": 5.0, "b": 1.0}
    assert q("quantileIf(0.5)(v, c = 1)") == {"a": 5.0, "b": 1.0}
    for bad, hint in [
        ("SELECT topKIf(3)(x, c) FROM t", "quantile family"),
        ("SELECT countResample(0, 10, 1)(x, k) FROM t", "width_bucket"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_any_function_vs_keyword_contexts(spark):
    """CH any(x) is the pick-an-arbitrary-value aggregate — left to
    Spark's parser it becomes the BOOLEAN any/bool_or, silently wrong.
    Call position translates to any_value; quantified-comparison
    `= ANY (subquery)` keeps the keyword."""
    assert translate("SELECT any(x) FROM t GROUP BY k") == \
        "SELECT any_value(x) FROM t GROUP BY k"
    assert translate("SELECT Any(v) FROM t") == "SELECT any_value(v) FROM t"
    assert "= ANY (SELECT" in translate(
        "SELECT x FROM t WHERE x = ANY (SELECT y FROM u)"
    )
    rows = [("a", 1), ("a", 2), ("b", 9)]
    spark.createDataFrame(rows, "k string, v int") \
        .createOrReplaceTempView("any_fn_t")
    out = {r.k: r.r for r in spark.sql(translate(
        "SELECT k, any(v) AS r FROM any_fn_t GROUP BY k")).collect()}
    assert out["b"] == 9 and out["a"] in (1, 2)


def test_advice_r10_fixes(spark):
    """Round-11 ADVICE regressions: (1) exponentialTimeDecayed* raises
    loudly (not DIVIDE_BY_ZERO / silent NULL) when the partition time
    span exceeds ~700*lambda and the anchor weight underflows to 0;
    (2) N-month toStartOfInterval decomposes negative months-since-epoch
    with floor semantics (pre-1970 timestamps no longer render
    make_timestamp(1969, -2, ...)); (3) intExp2/intExp10 return 0 for
    negative exponents instead of folding a descending sequence();
    (4) url('http://...') fails at translate time with the download +
    formats.read route instead of an opaque runtime filesystem error."""
    import datetime as dt

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]

    # (1) lambda=4 with rows 10,000s apart: exp(-2500) == 0.0 exactly.
    rows = [("a", 0, 1.0), ("a", 10_000, 2.0)]
    spark.createDataFrame(rows, "k string, t int, v double") \
        .createOrReplaceTempView("decay_uf")
    with pytest.raises(Exception, match="underflowed"):
        spark.sql(translate(
            "SELECT exponentialTimeDecayedSum(4)(v, t) "
            "OVER (PARTITION BY k ORDER BY t) AS d FROM decay_uf"
        )).collect()
    # sane spans still compute (guard is CASE-gated, not a hard gate)
    ok = spark.sql(translate(
        "SELECT exponentialTimeDecayedSum(4)(v, t) "
        "OVER (PARTITION BY k ORDER BY t) AS d FROM decay_uf WHERE t = 0"
    )).collect()
    assert ok[0].d == pytest.approx(1.0)

    # (2) pre-1970: months-since-epoch is negative; floor decomposition.
    assert one(
        "toStartOfInterval(toDateTime('1968-10-05 12:00:00'), INTERVAL 3 MONTH)"
    ) == dt.datetime(1968, 10, 1)
    assert one(
        "toStartOfInterval(toDateTime('1969-05-20 00:00:00'), INTERVAL 3 MONTH)"
    ) == dt.datetime(1969, 4, 1)
    assert one(
        "toStartOfInterval(toDateTime('1965-02-03 00:00:00'), INTERVAL 2 YEAR)"
    ) == dt.datetime(1964, 1, 1)
    # post-1970 grid unchanged
    assert one(
        "toStartOfInterval(toDateTime('2024-05-17 10:00:00'), INTERVAL 3 MONTH)"
    ) == dt.datetime(2024, 4, 1)

    # (3) negative integer exponents floor to 0 (CH UInt64 semantics).
    assert one("intExp10(-1)") == 0
    assert one("intExp10(-7)") == 0
    assert one("intExp2(-1)") == 0
    assert one("intExp2(10)") == 1024  # positive path unchanged

    # (4) http(s)/ftp schemes are loud at translate time.
    for scheme in ("http", "https", "ftp"):
        with pytest.raises(DialectError, match="formats.read"):
            translate(f"SELECT * FROM url('{scheme}://x.test/d.parquet', 'Parquet')")
    # readable schemes still translate
    assert "json.`file:///tmp/x.json`" in translate(
        "SELECT * FROM url('file:///tmp/x.json', 'JSONEachRow')"
    )


def _b58_ref_encode(b: bytes) -> str:
    """Reference base58 (Bitcoin alphabet) for fuzzing the dialect rule."""
    alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    zeros = len(b) - len(b.lstrip(b"\0"))
    n = int.from_bytes(b, "big")
    out = ""
    while n:
        n, r = divmod(n, 58)
        out = alpha[r] + out
    return "1" * zeros + out


def test_base58_codec(spark):
    """base58Encode/Decode/tryBase58Decode: Bitcoin-alphabet big-integer
    conversion as pure SQL folds — known vectors, random round-trips vs a
    python reference, leading-zero-byte ↔ '1' mapping, invalid chars loud
    (try variant returns '' like CH), oversize inputs loud."""
    import random

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    rnd = random.Random(1158)
    pool = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        " .,!?-_/~üé日本"
    )
    samples = ["Hello World!",
               "The quick brown fox jumps over the lazy dog."] + [
        "".join(rnd.choice(pool) for _ in range(rnd.randint(1, 48)))
        for _ in range(10)
    ]
    exprs, expected = [], {}
    for i, s in enumerate(samples):
        lit = s.replace("'", "''")
        exprs.append(f"base58Encode('{lit}') AS e{i}")
        exprs.append(f"base58Decode(base58Encode('{lit}')) AS d{i}")
        expected[i] = (_b58_ref_encode(s.encode("utf-8")), s)
    row = spark.sql(translate("SELECT " + ", ".join(exprs))).collect()[0]
    for i, (enc, dec) in expected.items():
        assert row[f"e{i}"] == enc, samples[i]
        assert row[f"d{i}"] == dec, samples[i]
    # known vector (Bitcoin wiki) + leading zero bytes
    assert one("base58Encode('Hello World!')") == "2NEpo7TZRRrLZSi2U"
    assert one(r"base58Decode('111')") == "\x00\x00\x00"
    assert one("base58Encode('')") == "" and one("base58Decode('')") == ""
    # invalid characters: 0 O I l are not in the alphabet
    assert one("tryBase58Decode('0OIl')") == ""
    with pytest.raises(Exception, match="invalid base58"):
        one("base58Decode('0')")
    with pytest.raises(Exception, match="exceeds"):
        one("base58Encode(repeat('a', 1025))")


@pytest.mark.heavy
def test_punycode_codec(spark):
    """punycodeEncode/Decode vs Python's built-in punycode codec (the RFC
    3492 reference): RFC sample-style labels, non-BMP code points, fuzzed
    unicode strings, round-trips, case-insensitive digits, and the loud /
    try-variant error contract."""
    import random

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    rnd = random.Random(3492)
    pools = ["abcdefghi-", "üöäßéèê", "日本語中文한국", "🎉🚀😀", "αβγδж"]
    samples = ["München", "bücher", "ü", "london", "日本語", "a-b-c",
               "ēxâmplé", "🎉party", "abc-", "x", "-", "---",
               "MajiでKoiする5秒前"] + [
        "".join(rnd.choice(rnd.choice(pools))
                for _ in range(rnd.randint(1, 24)))
        for _ in range(12)
    ]
    exprs, expected = [], {}
    for i, s in enumerate(samples):
        lit = s.replace("'", "''")
        exprs.append(f"punycodeEncode('{lit}') AS e{i}")
        exprs.append(f"punycodeDecode(punycodeEncode('{lit}')) AS d{i}")
        expected[i] = (s.encode("punycode").decode("ascii"), s)
    row = spark.sql(translate("SELECT " + ", ".join(exprs))).collect()[0]
    for i, (enc, dec) in expected.items():
        assert row[f"e{i}"] == enc, samples[i]
        assert row[f"d{i}"] == dec, samples[i]
    # digits are case-insensitive on decode
    assert one("punycodeDecode('TDA')") == "ü"
    assert one("punycodeDecode('Mnchen-3ya')") == "München"
    # empty / null
    assert one("punycodeEncode('')") == "" and one("punycodeDecode('')") == ""
    assert one("punycodeEncode(cast(null as string))") is None
    # invalid: non-alphabet digit chars, unterminated group, non-ASCII in
    assert one("tryPunycodeDecode('zß')") == ""
    assert one("tryPunycodeDecode('99999999')") == ""
    with pytest.raises(Exception, match="invalid punycode|non-ASCII"):
        one("punycodeDecode('zß')")
    with pytest.raises(Exception, match="exceeds"):
        one("punycodeEncode(repeat('a', 513))")


def test_entropy_theilsu_auto_cells(spark):
    """Round-11 verdict item 6: plain-shape entropy/theilsU queries
    rewrite to the bounded (value, count) cells form — equality vs the
    collect_list fold (forced via expression args, which keep the fold),
    vs an independent python reference, and the shape gates: other
    aggregates / expression args / unaliased calls / subquery placement
    all keep the fold."""
    import collections
    import math
    import random

    rnd = random.Random(116)
    rows = [
        (f"g{i % 4}", rnd.choice(["a", "b", "c", None]),
         rnd.choice([1, 2, 3, None]))
        for i in range(400)
    ]
    spark.createDataFrame(rows, "k string, x string, y int") \
        .createOrReplaceTempView("ecell")

    t = translate("SELECT k, entropy(x) AS ex, theilsU(x, y) AS u "
                  "FROM ecell GROUP BY k")
    assert "__cn" in t and "collect_list" not in t  # cells path taken
    got = {r.k: (r.ex, r.u) for r in spark.sql(t).collect()}

    def h(vals):
        vals = [v for v in vals if v is not None]
        if not vals:
            return 0.0
        n, c = len(vals), collections.Counter(vals)
        return math.log(n) - sum(m * math.log(m) for m in c.values()) / n

    by_k = collections.defaultdict(list)
    for k, x, y in rows:
        by_k[k].append((x, y))
    for k, vs in by_k.items():
        ex = h([x for x, _ in vs]) / math.log(2)
        hx, hy = h([x for x, _ in vs]), h([y for _, y in vs])
        hxy = h(vs)
        u = None if hx == 0 else (hx + hy - hxy) / hx
        gx, gu = got[k]
        assert gx == pytest.approx(ex, rel=1e-12), k
        assert (u is None) == (gu is None), k
        if u is not None:
            assert gu == pytest.approx(u, rel=1e-12), k

    # fold parity (concat(x, '') forces expression args -> fold path)
    tf = translate("SELECT k, entropy(concat(x, '')) AS ex, "
                   "theilsU(concat(x, ''), y) AS u FROM ecell GROUP BY k")
    assert "collect_list" in tf
    fold = {r.k: (r.ex, r.u) for r in spark.sql(tf).collect()}
    for k, (gx, gu) in got.items():
        fx, fu = fold[k]
        assert gx == pytest.approx(fx, rel=1e-12), k
        assert (fu is None) == (gu is None), k
        if fu is not None:
            assert gu == pytest.approx(fu, rel=1e-12), k

    # global aggregate + trailing clauses survive the restructure
    g = spark.sql(translate("SELECT entropy(x) AS ex FROM ecell")) \
        .collect()[0].ex
    assert g == pytest.approx(h([x for _, x, _ in rows]) / math.log(2),
                              rel=1e-12)
    r2 = spark.sql(translate(
        "SELECT k, entropy(x) AS ex FROM ecell GROUP BY k "
        "ORDER BY k LIMIT 2")).collect()
    assert [r.k for r in r2] == ["g0", "g1"]

    # shape gates: everything else keeps the fold
    for s in [
        "SELECT k, entropy(x) AS ex, count(*) AS n FROM ecell GROUP BY k",
        "SELECT entropy(x) FROM ecell",  # unaliased
        "SELECT k, entropy(upper(x)) AS ex FROM ecell GROUP BY k",
        "SELECT k FROM ecell WHERE k IN "
        "(SELECT k FROM (SELECT k, entropy(x) AS e FROM ecell GROUP BY k) "
        "WHERE e > 0) GROUP BY k",
        # ADVICE r11 (high): super-aggregate shapes must keep the fold —
        # the cells rewrite's marginal windows are partitioned per base
        # group, so ROLLUP/CUBE/GROUPING SETS total rows would compute
        # entropy from per-group counts (silently wrong).
        "SELECT k, entropy(x) AS ex FROM ecell GROUP BY k WITH ROLLUP",
        "SELECT k, entropy(x) AS ex FROM ecell GROUP BY k WITH CUBE",
        "SELECT k, entropy(x) AS ex FROM ecell GROUP BY GROUPING SETS "
        "((k), ())",
    ]:
        assert "__cn" not in translate(s), s

    # ...and the fold path computes the ROLLUP total row over the FULL
    # value multiset, not a per-group mixture (the r11 advisor measured
    # 1.8424 vs correct 1.5567 on the broken rewrite).
    ru = {r.k: r.ex for r in spark.sql(translate(
        "SELECT k, entropy(x) AS ex FROM ecell GROUP BY k WITH ROLLUP"
    )).collect()}
    assert ru[None] == pytest.approx(
        h([x for _, x, _ in rows]) / math.log(2), rel=1e-12)
    for k, vs in by_k.items():
        assert ru[k] == pytest.approx(
            h([x for x, _ in vs]) / math.log(2), rel=1e-12), k


def test_normalize_query(spark):
    """normalizeQuery / KeepNames / normalizedQueryHash: the lexer-lite
    char fold — literals mask to '?', comma/space-separated literal runs
    collapse to '?..', value-suspect identifiers (>2 digits or >=36
    bytes) mask like literals (KeepNames preserves them), quoted
    identifiers and spacing outside collapsed runs pass verbatim, string
    escapes ('' doubling and backslash) stay inside one mask."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    cases = [
        ("SELECT 1", "SELECT ?"),
        ("SELECT 1, 2, 3, 'abc'", "SELECT ?.."),
        ("[1, 2, 3, x]", "[?.., x]"),
        ("SELECT a FROM t WHERE b = 'x' AND c IN (1,2,3)",
         "SELECT a FROM t WHERE b = ? AND c IN (?..)"),
        ("SELECT col1 + 1.5e3 FROM t2", "SELECT col1 + ? FROM t2"),
        ("WHERE id = 'a''b\\'c'", "WHERE id = ?"),
        ("WHERE u = 550e8400e29b41d4a716446655440000", "WHERE u = ?"),
        ("SELECT abc123def456 FROM t", "SELECT ? FROM t"),
        ('SELECT `my col` FROM "q t"', 'SELECT `my col` FROM "q t"'),
        ("SELECT 0xFF, -5", "SELECT ?, -?"),
        ("SELECT  1", "SELECT  ?"),  # non-collapsed spacing preserved
        ("", ""),
    ]
    for inp, exp in cases:
        lit = inp.replace("\\", "\\\\").replace("'", "\\'")
        assert one(f"normalizeQuery('{lit}')") == exp, inp
    assert one("normalizeQueryKeepNames('SELECT abc123def456, 7')") == \
        "SELECT abc123def456, ?"
    # hash: stable across different literal values, type is bigint
    assert one(
        "normalizedQueryHash('SELECT 1 FROM t') = "
        "normalizedQueryHash('SELECT 999 FROM t')"
    ) is True
    assert one("normalizeQuery(cast(null as string))") is None


def test_ipv6_or_null_or_default(spark):
    """IPv6StringToNumOrNull/OrDefault (+toIPv6 spellings): the throwing
    parser's validity tree with a NULL / caller-default fallback."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("hex(IPv6StringToNumOrNull('::1'))") == \
        "0" * 31 + "1"
    assert one("IPv6StringToNumOrNull('not-an-ip')") is None
    assert one("toIPv6OrNull('999::zz')") is None
    assert one(
        "hex(IPv6StringToNumOrDefault('bad', toIPv6('::ffff:1.2.3.4')))"
    ) == one("hex(toIPv6('::ffff:1.2.3.4'))")
    # bare IPv4 maps like the throwing spelling
    assert one("hex(toIPv6OrNull('1.2.3.4'))") == \
        one("hex(toIPv6('1.2.3.4'))")


@pytest.mark.heavy
def test_punycode_codec_random_codepoints(spark):
    """Wider punycode fuzz: random strings over the full BMP (plus
    supplementary-plane samples), including digit-heavy, surrogate-
    adjacent, and combining-mark codepoints — every string must encode
    identically to Python's RFC 3492 codec and round-trip."""
    import random

    rnd = random.Random(20260816)

    def rand_cp() -> str:
        r = rnd.random()
        if r < 0.5:
            return chr(rnd.randint(32, 126))          # ASCII
        if r < 0.8:
            return chr(rnd.randint(0xA0, 0x2FFF))     # BMP letters/marks
        if r < 0.95:
            return chr(rnd.randint(0x3000, 0xFFFD))   # CJK and beyond
        return chr(rnd.randint(0x10000, 0x1FAFF))     # supplementary

    samples = []
    while len(samples) < 30:
        s = "".join(rand_cp() for _ in range(rnd.randint(1, 20)))
        try:
            s.encode("punycode")  # skip python-codec-rejected inputs
        except UnicodeError:
            continue
        samples.append(s)
    exprs, expected = [], {}
    for i, s in enumerate(samples):
        lit = s.replace("\\", "\\\\").replace("'", "''")
        exprs.append(f"punycodeEncode('{lit}') AS e{i}")
        exprs.append(f"punycodeDecode(punycodeEncode('{lit}')) AS d{i}")
        expected[i] = (s.encode("punycode").decode("ascii"), s)
    row = spark.sql(translate("SELECT " + ", ".join(exprs))).collect()[0]
    for i, (enc, dec) in expected.items():
        assert row[f"e{i}"] == enc, repr(samples[i])
        assert row[f"d{i}"] == dec, repr(samples[i])


def test_punycode_decode_overflow_latch(spark):
    """RFC 3492 overflow handling: a pure high-digit run ('9'*25) never
    terminates a variable-length integer and grows w/i without bound —
    the fold must latch err (try variant returns '', throwing variant
    raises the dialect's loud error) instead of hitting ANSI
    ARITHMETIC_OVERFLOW. Python's codec raises UnicodeError here."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one(f"tryPunycodeDecode('{'9' * 25}')") == ""
    assert one(f"tryPunycodeDecode('{'9' * 200}')") == ""
    with pytest.raises(Exception, match="invalid punycode"):
        one(f"punycodeDecode('{'9' * 25}')")
    # high-but-valid digits still decode (groups that do terminate)
    assert one("punycodeDecode('tda')") == "ü"


def test_round11_passthrough_audit(spark):
    """Round-11 name audit (the round-10 sweep's sequel): names that
    previously fell through to an opaque UNRESOLVED_ROUTINE now either
    translate (identity wrappers, typed empty arrays, role-equivalent
    hashes, toRelativeWeekNum, pointInPolygon) or raise the dialect's
    loud error with a route (byteSwap, bar, tupleToNameValuePairs, h3
    family). soundex stays a true pass-through: Spark's soundex returns
    CH's own documented value."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # identity / constant wrappers
    assert one("toLowCardinality('x')") == "x"
    assert one("materialize(7)") == 7
    assert one("ignore(1, 'a', [2])") == 0
    # typed empty arrays
    assert one("emptyArrayInt64()") == []
    assert one("emptyArrayString()") == []
    # role-equivalent hashes: stable, right shape
    assert one("metroHash64('x') = metroHash64('x')") is True
    assert isinstance(one("murmurHash2_32('x')"), int)
    assert len(one("murmurHash3_128('x')")) == 16
    # toRelativeWeekNum: week 0 contains 1970-01-01 (Thu); Monday rolls
    assert one("toRelativeWeekNum(toDateTime('1970-01-01 00:00:00'))") == 0
    assert one("toRelativeWeekNum(toDateTime('1970-01-04 23:59:59'))") == 0
    assert one("toRelativeWeekNum(toDateTime('1970-01-05 00:00:00'))") == 1
    assert one("toRelativeWeekNum(toDateTime('1969-12-29 00:00:00'))") == 0
    assert one("toRelativeWeekNum(toDateTime('1969-12-28 00:00:00'))") == -1
    # pointInPolygon: even-odd ray casting, tuples as (x, y)
    sq = "[(0, 0), (10, 0), (10, 10), (0, 10)]"
    assert one(f"pointInPolygon((3.0, 3.0), {sq})") == 1
    assert one(f"pointInPolygon((11.0, 3.0), {sq})") == 0
    assert one(f"pointInPolygon((-1.0, -1.0), {sq})") == 0
    # concave: C-shape excludes the notch
    cshape = "[(0,0),(6,0),(6,2),(2,2),(2,4),(6,4),(6,6),(0,6)]"
    assert one(f"pointInPolygon((1.0, 3.0), {cshape})") == 1
    assert one(f"pointInPolygon((4.0, 3.0), {cshape})") == 0
    # soundex: true pass-through, CH-documented value
    assert one("soundex('aksel')") == "A240"
    # loud routes
    for bad, hint in [
        ("SELECT byteSwap(i) FROM t", "WIDTH"),
        ("SELECT bar(i, 0, 10, 10) FROM t", "sparkbar"),
        ("SELECT tupleToNameValuePairs(tp) FROM t", "map_entries"),
        ("SELECT h3ToGeo(i) FROM t", "H3"),
        ("SELECT pointInPolygon((1, 1), p1, p2) FROM t", "hole"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_round11_audit_batch3(spark):
    """Third audit batch: geohashEncode/Decode (bisection folds — CH doc
    vectors + round trips), toTimeZone (display-tz shift: downstream
    toHour sees target-tz wall clock), toUUID/OrNull/OrZero (canonical
    lowercase strings), base64URL pair (RFC 4648 §5 vs python's
    urlsafe_b64encode), toRelativeWeekNum covered in the main audit;
    loud routes for timeZoneOf / JSONType / extractAllGroups /
    addTupleOfIntervals."""
    import base64 as b64
    import random

    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    # CH documentation vectors
    assert one(
        "geohashEncode(-5.60302734375, 42.593994140625, 0)"
    ) == "e"  # precision 0 clamps to 1 (ADVICE r11: was a vacuous or-True)
    assert one("geohashEncode(-5.60302734375, 42.60498046875, 5)") == "ezs42"
    d = one("geohashDecode('ezs42')")
    assert (d["_1"], d["_2"]) == (-5.60302734375, 42.60498046875)
    # round trips at several precisions
    rnd = random.Random(11)
    for _ in range(6):
        lng = rnd.uniform(-180, 180)
        lat = rnd.uniform(-90, 90)
        p = rnd.randint(4, 10)
        gh = one(f"geohashEncode({lng!r}, {lat!r}, {p})")
        assert len(gh) == p
        rt = one(
            f"geohashEncode(tupleElement(geohashDecode('{gh}'), 1), "
            f"tupleElement(geohashDecode('{gh}'), 2), {p})"
        )
        assert rt == gh, (lng, lat, p)
    # toTimeZone: UTC 10:00 renders 19:00 in Asia/Tokyo
    assert one(
        "toHour(toTimeZone(toDateTime('2024-01-15 10:00:00'), 'Asia/Tokyo'))"
    ) == 19
    # UUID family
    assert one("toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0')") == \
        "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert one("toUUIDOrNull('nope')") is None
    assert one("toUUIDOrZero('nope')") == \
        "00000000-0000-0000-0000-000000000000"
    with pytest.raises(Exception, match="invalid UUID"):
        one("toUUID('nope')")
    # base64URL: python urlsafe reference + round trip
    s = "https://a.b/?x=1&y=2"
    assert one(f"base64URLEncode('{s}')") == \
        b64.urlsafe_b64encode(s.encode()).decode().rstrip("=")
    assert one("base64URLDecode(base64URLEncode('hello?>>'))") == "hello?>>"
    # loud routes
    for bad, hint in [
        ("SELECT timeZoneOf(t) FROM x", "toTimeZone"),
        ("SELECT JSONType(j) FROM x", "from_json"),
        ("SELECT extractAllGroups(h, p) FROM x", "GroupsHorizontal"),
        ("SELECT addTupleOfIntervals(t, iv) FROM x", "timestampadd"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


def test_round11_audit_batch4(spark):
    """Fourth audit batch: bitmaskToArray (ascending power-of-two
    decomposition), arrayWithConstant (arg-swapped array_repeat),
    toStringCutToZero (cut at first NUL), nothing() → NULL; loud routes
    for the reinterpretAs<T> numeric family and the stochastic
    regressions / aggregation-state plumbing."""
    one = lambda s: spark.sql(translate(f"SELECT {s} AS r")).collect()[0]["r"]
    assert one("bitmaskToArray(50)") == [2, 16, 32]
    assert one("bitmaskToArray(0)") == []
    # bit 63 (ADVICE r11): a CH UInt64 >= 2^63 arrives as a negative
    # bigint; the sign-bit word must be emitted, not silently dropped.
    assert one("bitmaskToArray(-9223372036854775808)") == [-2**63]
    assert one("bitmaskToArray(-1)") == [2**i for i in range(63)] + [-2**63]
    assert one("arrayWithConstant(3, 'x')") == ["x", "x", "x"]
    assert one("toStringCutToZero(concat('ab', chr(0), 'cd'))") == "ab"
    assert one("toStringCutToZero('plain')") == "plain"
    assert one("nothing()") is None
    for bad, hint in [
        ("SELECT reinterpretAsUInt32(s) FROM t", "reinterpretAsString"),
        ("SELECT stochasticLinearRegression(0.1)(y, x) FROM t",
         "x_linear_quality_score"),
        ("SELECT initializeAggregation('sumState', x) FROM t", "-State"),
    ]:
        with pytest.raises(DialectError, match=hint):
            translate(bad)


@pytest.mark.heavy
def test_with_fill_composed_forms(spark):
    """Round 12 (r11 verdict item 6): multi-column, grouped, and
    expression WITH FILL keys — executed semantics, not just shape.
    Conventions (documented in _rewrite_with_fill_composed): leading
    non-fill keys group the fill; multiple fill keys form a grid;
    expression keys drive a hidden spine column dropped from the output;
    inserted rows carry NULL non-fill columns."""
    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 4, 40.0), ("b", 2, 20.0), ("b", 3, 30.0)],
        "g string, h int, v double",
    ).createOrReplaceTempView("fill_ct")

    # grouped fill, per-group min..max bounds
    rows = spark.sql(translate(
        "SELECT g, h, v FROM fill_ct ORDER BY g, h WITH FILL"
    )).collect()
    assert [(r.g, r.h, r.v) for r in rows] == [
        ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
        ("b", 2, 20.0), ("b", 3, 30.0),
    ]

    # grouped fill with explicit bounds + LOCF interpolation per group
    rows = spark.sql(translate(
        "SELECT g, h, v FROM fill_ct ORDER BY g, h WITH FILL FROM 1 TO 5 "
        "INTERPOLATE (v)"
    )).collect()
    assert [(r.g, r.h, r.v) for r in rows] == [
        ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0), ("a", 4, 40.0),
        ("b", 1, None), ("b", 2, 20.0), ("b", 3, 30.0), ("b", 4, 30.0),
    ]

    # two-key grid fill: cross product of both spines, originals kept
    rows = spark.sql(translate(
        "SELECT h, v FROM fill_ct ORDER BY h WITH FILL FROM 1 TO 4, "
        "v WITH FILL FROM 10 TO 30 STEP 10"
    )).collect()
    got = {(r.h, r.v) for r in rows}
    grid = {(h, float(v)) for h in (1, 2, 3) for v in (10, 20)}
    originals = {(1, 10.0), (4, 40.0), (2, 20.0), (3, 30.0)}
    assert got == grid | originals
    assert len(rows) == len(got)

    # expression fill key: hidden spine column, dropped from the output;
    # inserted rows are all-NULL apart from the (hidden) key
    rows = spark.sql(translate(
        "SELECT g, h FROM fill_ct WHERE g = 'a' "
        "ORDER BY h * 2 WITH FILL FROM 2 TO 10 STEP 2"
    )).collect()
    assert rows[0].asDict().keys() == {"g", "h"}
    assert [(r.g, r.h) for r in rows] == [
        ("a", 1), (None, None), (None, None), ("a", 4),
    ]

    # DESC composes with grouping (reversed per-group spine)
    rows = spark.sql(translate(
        "SELECT g, h, v FROM fill_ct ORDER BY g, h DESC WITH FILL"
    )).collect()
    assert [(r.g, r.h) for r in rows] == [
        ("a", 4), ("a", 3), ("a", 2), ("a", 1),
        ("b", 3), ("b", 2),
    ]


def test_with_fill_composed_random_frames(spark):
    """Composed WITH FILL property test (the windowFunnel-transcription
    pattern): random (group, key, value) frames must match a python
    spine simulator for grouped-unbounded, grouped-bounded+LOCF, and
    two-key-grid shapes — parser and join edge cases (empty groups,
    single-row groups, originals outside the bounded range, duplicate
    grid hits) all arise naturally from the random draws."""
    import random

    for seed in (3, 41, 88):
        rnd = random.Random(seed)
        rows = []
        used = set()
        for _ in range(40):
            g = rnd.choice(["a", "b", "c"])
            h = rnd.randrange(0, 12)
            if (g, h) in used:
                continue
            used.add((g, h))
            rows.append((g, h, float(rnd.randrange(1, 100))))
        spark.createDataFrame(rows, "g string, h int, v double") \
            .createOrReplaceTempView("fill_rt")
        base = {(g, h): v for g, h, v in rows}
        groups = sorted({g for g, _h, _v in rows})

        # (a) grouped unbounded: per-group min..max spine
        got = [
            (r.g, r.h, r.v)
            for r in spark.sql(translate(
                "SELECT g, h, v FROM fill_rt ORDER BY g, h WITH FILL"
            )).collect()
        ]
        want = []
        for g in groups:
            hs = [h for (gg, h) in base if gg == g]
            for h in range(min(hs), max(hs) + 1):
                want.append((g, h, base.get((g, h))))
        assert got == want, ("unbounded", seed)

        # (b) grouped bounded [2, 9) step 2 + LOCF on v
        got = [
            (r.g, r.h, r.v)
            for r in spark.sql(translate(
                "SELECT g, h, v FROM fill_rt ORDER BY g, h WITH FILL "
                "FROM 2 TO 9 STEP 2 INTERPOLATE (v)"
            )).collect()
        ]
        want = []
        for g in groups:
            hs = sorted(
                set(range(2, 9, 2)) | {h for (gg, h) in base if gg == g}
            )
            carry = None
            for h in hs:
                v = base.get((g, h))
                if v is not None:
                    carry = v
                    want.append((g, h, v))
                else:
                    want.append((g, h, carry))
        assert got == want, ("bounded+locf", seed)

        # (c) two-key grid over (h, w) where w = v bucketed to 3 values
        spark.sql(
            "SELECT g, h, CAST(CAST(v AS INT) % 3 AS INT) AS w "
            "FROM fill_rt"
        ).createOrReplaceTempView("fill_rt2")
        got = {
            (r.h, r.w, r.g)
            for r in spark.sql(translate(
                "SELECT h, w, g FROM fill_rt2 ORDER BY h WITH FILL "
                "FROM 0 TO 5, w WITH FILL FROM 0 TO 3"
            )).collect()
        }
        base2 = {
            (h, int(v) % 3, g) for g, h, v in rows
        }
        grid = {(h, w) for h in range(5) for w in range(3)}
        want2 = set()
        covered = set()
        for h, w, g in base2:
            want2.add((h, w, g))
            covered.add((h, w))
        for h, w in grid - covered:
            want2.add((h, w, None))
        assert got == want2, ("grid", seed)
