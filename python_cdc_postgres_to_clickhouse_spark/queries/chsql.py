"""Queries declared IN ClickHouse SQL, executed through the dialect shim.

These three run verbatim ClickHouse-dialect strings through
``dialect.translate()`` and ``spark.sql()`` — the end-to-end proof that a
reference-warehouse user's existing queries (camelCase functions, ``-If``
combinators, parametric aggregates, ``PREWHERE``/``FINAL``/``FORMAT``,
``ARRAY JOIN``) port by string pass-through. Each has an independent
hand-written ANSI oracle, so the driver checks the TRANSLATION's semantics,
not just that it parses.

Scale: the translated plans are ordinary Catalyst plans — the rollup is a
partial-aggregated hash agg, the scalar query is whole-stage codegen over a
pruned scan, the word count is one explode + one hash agg; nothing about
going through the dialect layer costs an exchange (plan-asserted in
tests/test_dialect.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..dialect import clickhouse_sql
from ..registry import query


CH_EVENTS_ROLLUP = """
SELECT toStartOfDay(ts) AS day,
       countIf(event_type = 'purchase') AS purchases,
       uniqExact(user_id) AS users,
       uniqUpTo(3)(event_type) AS type_cap,
       sumIf(toInt64(round(value * 100)), value > 0) AS pos_cents,
       max(JSONExtractInt(props, 'k')) AS max_k
FROM events FINAL
PREWHERE user_id % 10 != 0
GROUP BY day
HAVING uniqExact(user_id) > 0
ORDER BY day
FORMAT TabSeparated
"""

EVENTS_ROLLUP_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(LEAST(COUNT(DISTINCT event_type), 4) AS BIGINT) AS type_cap,
       CAST(SUM(CASE WHEN value > 0
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS pos_cents,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE user_id % 10 != 0
GROUP BY 1
HAVING COUNT(DISTINCT user_id) > 0
ORDER BY 1
"""


@query("sql_ch_events_rollup", oracle=EVENTS_ROLLUP_ORACLE, tags=("dialect", "agg"))
def sql_ch_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event rollup written in ClickHouse SQL: conditional counts
    (``countIf``), exact distincts (``uniqExact``), a capped distinct
    (``uniqUpTo(3)``), a filtered cents sum (``sumIf`` + ``toInt64``), and a
    JSON field max — plus ``FINAL``, ``PREWHERE``, and ``FORMAT``, all
    handled by the dialect layer. Translates to one partial-aggregated hash
    aggregate over a pruned scan."""
    return clickhouse_sql(spark, CH_EVENTS_ROLLUP, sf_dir)


CH_DOCS_SCALARS = """
SELECT doc_id,
       upper(substring(text, 1, 10)) AS head10,
       position(text, 'the') AS pos_the,
       if(match(text, '[0-9]+'), 1, 0) AS has_digit,
       multiIf(n_chars < 200, 'short', n_chars < 400, 'mid', 'long') AS size_band,
       arrayStringConcat(arraySlice(splitByChar(' ', text), 1, 3), '_') AS head3
FROM documents
WHERE startsWith(lower(lang), 'e') AND notEmpty(text)
ORDER BY doc_id
"""

DOCS_SCALARS_ORACLE = """
SELECT doc_id,
       upper(substring(text, 1, 10)) AS head10,
       CAST(strpos(text, 'the') AS BIGINT) AS pos_the,
       CASE WHEN regexp_matches(text, '[0-9]+') THEN 1 ELSE 0 END AS has_digit,
       CASE WHEN n_chars < 200 THEN 'short'
            WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS size_band,
       array_to_string(list_slice(string_split(text, ' '), 1, 3), '_') AS head3
FROM documents
WHERE starts_with(lower(lang), 'e') AND length(text) > 0
ORDER BY doc_id
"""


@query("sql_ch_docs_scalars", oracle=DOCS_SCALARS_ORACLE, tags=("dialect", "scalar"))
def sql_ch_docs_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document scalar battery in ClickHouse SQL: ``position`` (CH arg
    order — the dialect swaps to ``locate``), regex ``match`` -> RLIKE,
    ``multiIf`` -> CASE, ``splitByChar`` (escaped-literal separator, swapped
    args) + ``arraySlice``/``arrayStringConcat``, ``startsWith`` and
    ``notEmpty``. Pure whole-stage-codegen projection — zero exchanges."""
    return clickhouse_sql(spark, CH_DOCS_SCALARS, sf_dir)


CH_WORD_FREQ = """
SELECT word, count() AS n
FROM (SELECT arrayJoin(splitByChar(' ', lower(text))) AS word FROM documents)
WHERE word != ''
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
"""

WORD_FREQ_ORACLE = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
"""


@query("sql_ch_word_freq", oracle=WORD_FREQ_ORACLE, tags=("dialect", "text"))
def sql_ch_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency in ClickHouse SQL: ``arrayJoin`` in a subquery
    becomes ``explode``, zero-arg ``count()`` becomes ``count(*)``.
    Translates to explode -> partial-aggregated hash agg -> TakeOrdered 20
    (deterministic tie-break on the word)."""
    return clickhouse_sql(spark, CH_WORD_FREQ, sf_dir)


CH_TOP_PER_TYPE = """
SELECT event_type, event_id, toInt64(round(value * 100)) AS cents
FROM events
ORDER BY cents DESC, event_id
LIMIT 3 BY event_type
"""

TOP_PER_TYPE_ORACLE = """
SELECT event_type, event_id, cents FROM (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                                     event_id) AS rn
  FROM events) t
WHERE rn <= 3
ORDER BY cents DESC, event_id
"""


@query("sql_ch_top_per_type", oracle=TOP_PER_TYPE_ORACLE, tags=("dialect", "window"))
def sql_ch_top_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``LIMIT n BY`` end to end: top-3 purchases per event type,
    written with the CH-only clause and rewritten by the dialect layer to a
    row_number wrapper that Spark plans as WindowGroupLimit — the same
    per-group-heap-in-the-shuffle execution ClickHouse uses natively
    (plan-asserted in tests/test_dialect.py)."""
    return clickhouse_sql(spark, CH_TOP_PER_TYPE, sf_dir)


CH_TOTALS_REPORT = """
WITH 50 AS thr_cents
SELECT event_type AS k,
       count() AS n,
       sumIf(toInt64(round(value * 100)),
             toInt64(round(value * 100)) > thr_cents) AS big_cents
FROM events
GROUP BY event_type WITH TOTALS
ORDER BY k
"""

TOTALS_REPORT_ORACLE = """
SELECT event_type AS k,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN CAST(round(value * 100) AS BIGINT) > 50
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS big_cents
FROM events
GROUP BY GROUPING SETS ((event_type), ())
ORDER BY k
"""


@query("sql_ch_totals_report", oracle=TOTALS_REPORT_ORACLE, tags=("dialect", "agg"))
def sql_ch_totals_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``WITH <expr> AS name`` scalar aliases plus ``GROUP BY …
    WITH TOTALS`` end to end: the named constant inlines by substitution
    and the totals row becomes the empty grouping set (its key comes back
    NULL — the one documented convention difference vs CH's type-default
    zeros). Same partial-aggregated single-exchange plan as any GROUPING
    SETS rollup."""
    return clickhouse_sql(spark, CH_TOTALS_REPORT, sf_dir)


CH_STATE_MERGE_ROLLUP = """
SELECT event_type,
       uniqMerge(u) AS uniq_users,
       countMerge(n) AS n_events,
       minMerge(mn) AS min_cents,
       maxMerge(mx) AS max_cents,
       sumMerge(cents) AS sum_cents
FROM (
    SELECT event_type, toStartOfHour(ts) AS h,
           uniqState(user_id) AS u,
           countState() AS n,
           minState(toInt64(round(value * 100))) AS mn,
           maxState(toInt64(round(value * 100))) AS mx,
           sumState(toInt64(round(value * 100))) AS cents
    FROM events
    GROUP BY event_type, h
)
GROUP BY event_type
ORDER BY event_type
"""


CH_FILL_HOURS = """
SELECT toHour(ts) AS h, count() AS n,
       sum(toInt64(round(value * 100))) AS cents
FROM events
WHERE event_type = 'purchase' AND value > 300
GROUP BY h
ORDER BY h WITH FILL FROM 0 TO 24
"""

FILL_HOURS_ORACLE = """
WITH q AS (
  SELECT CAST(hour(ts) AS INT) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'purchase' AND value > 300
  GROUP BY 1
), spine AS (
  SELECT CAST(unnest(generate_series(0, 23)) AS INT) AS h
)
SELECT COALESCE(spine.h, q.h) AS h, q.n, q.cents
FROM spine FULL OUTER JOIN q ON spine.h = q.h
ORDER BY 1
"""


@query("sql_ch_fill_hours", oracle=FILL_HOURS_ORACLE, tags=("dialect", "timeseries"))
def sql_ch_fill_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY … WITH FILL FROM a TO b`` end to end: an hourly census of
    high-value purchases whose empty hours come back as explicit rows. The
    dialect rewrites the fill clause to a generated numeric spine
    (``explode(sequence(a, b, step))``, TO-exclusive — the CH range
    contract) FULL OUTER JOINed over the aggregate, so existing rows are
    always kept and inserted rows carry NULL measures (the documented
    divergence from CH's type-default zeros, same convention as WITH
    TOTALS). Scale: the spine is a literal ≤(b−a)/step-row relation —
    Spark broadcasts it; the fill costs no extra exchange over the
    aggregate itself."""
    return clickhouse_sql(spark, CH_FILL_HOURS, sf_dir)


CH_FILL_MULTI = """
SELECT event_type AS et, toHour(ts) AS h, count() AS n,
       max(toInt64(round(value))) AS vmax
FROM events
WHERE event_type IN ('view', 'purchase') AND value > 250
GROUP BY et, h
ORDER BY et, h WITH FILL FROM 0 TO 24 INTERPOLATE (vmax)
"""

FILL_MULTI_ORACLE = """
WITH q AS (
  SELECT event_type AS et, CAST(hour(ts) AS INT) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(CAST(round(value) AS BIGINT)) AS BIGINT) AS vmax
  FROM events
  WHERE event_type IN ('view', 'purchase') AND value > 250
  GROUP BY 1, 2
), spine AS (
  SELECT DISTINCT q.et, s.h
  FROM q CROSS JOIN (
    SELECT CAST(unnest(generate_series(0, 23)) AS INT) AS h
  ) s
), j AS (
  SELECT COALESCE(spine.et, q.et) AS et, COALESCE(spine.h, q.h) AS h,
         q.n, q.vmax, q.et IS NOT NULL AS orig
  FROM spine FULL OUTER JOIN q ON spine.et = q.et AND spine.h = q.h
)
SELECT et, h, n,
       CASE WHEN orig THEN vmax ELSE
         last_value(CASE WHEN orig THEN vmax END IGNORE NULLS) OVER
           (PARTITION BY et ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       END AS vmax
FROM j ORDER BY et, h
"""


@query(
    "sql_ch_fill_multi",
    oracle=FILL_MULTI_ORACLE,
    tags=("dialect", "timeseries"),
)
def sql_ch_fill_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 composed WITH FILL end to end (r11 verdict item 6): a
    GROUPED fill — the leading non-fill sort key (event_type) groups the
    hourly spine, so each series gets its own 24-hour grid, with LOCF
    INTERPOLATE carrying the last original vmax forward PER GROUP. The
    dialect builds the spine as (distinct groups) × (bounded sequence)
    and FULL-OUTER-JOINs it over the aggregate
    (dialect._rewrite_with_fill_composed); the oracle mirrors it with an
    independent DuckDB spine + IGNORE-NULLS window. Scale: the spine is
    |groups|×24 rows riding the aggregate's own exchange — the fill adds
    a broadcast join and one window, no extra fact-table pass."""
    return clickhouse_sql(spark, CH_FILL_MULTI, sf_dir)


@query("sql_ch_state_merge_rollup", tags=("dialect", "sketch", "agg"))
def sql_ch_state_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AggregatingMergeTree pattern end to end: hourly ``-State``
    partials re-merged to a per-type report with ``-Merge``, written in
    ClickHouse SQL. The dialect maps the uniq family onto Spark's HLL
    sketch algebra (``uniqState`` -> ``hll_sketch_agg``, ``uniqMerge`` ->
    ``hll_sketch_estimate(hll_union_agg(...))`` — the same associative
    register-max merge CH uses, so the two-level rollup is bit-identical
    to aggregating once) and value-state aggregates onto themselves
    (count/sum merge by sum, min/max by min/max). Rows-only driver row:
    ``uniq_users`` is a deterministic HLL estimate DuckDB cannot replay;
    exactness of every other column and the 5%-relative-error +
    associativity properties of the estimate are asserted in
    tests/test_dialect.py. Scale: two partial-aggregated hash exchanges
    (hour then type) carrying KB sketch states — the plan AggregatingMergeTree
    itself would pick."""
    return clickhouse_sql(spark, CH_STATE_MERGE_ROLLUP, sf_dir)


CH_RETENTION_REPORT = """
SELECT transform(toString(user_id % 3), ['0', '1'], ['new', 'core'], 'other')
           AS segment,
       sum(r[1]) AS d1,
       sum(r[2]) AS d1_and_d2,
       sum(r[3]) AS d1_and_d3,
       count() AS users
FROM (
    SELECT user_id,
           retention(toDayOfWeek(ts) = 1,
                     toDayOfWeek(ts) = 2,
                     toDayOfWeek(ts) = 3) AS r
    FROM events
    GROUP BY user_id
) AS per_user
GROUP BY segment
ORDER BY segment
"""

RETENTION_REPORT_ORACLE = """
SELECT CASE CAST(user_id % 3 AS VARCHAR)
            WHEN '0' THEN 'new' WHEN '1' THEN 'core' ELSE 'other' END AS segment,
       CAST(SUM(f1) AS BIGINT) AS d1,
       CAST(SUM(f1 * f2) AS BIGINT) AS d1_and_d2,
       CAST(SUM(f1 * f3) AS BIGINT) AS d1_and_d3,
       CAST(COUNT(*) AS BIGINT) AS users
FROM (
    SELECT user_id,
           MAX(CASE WHEN isodow(ts) = 1 THEN 1 ELSE 0 END) AS f1,
           MAX(CASE WHEN isodow(ts) = 2 THEN 1 ELSE 0 END) AS f2,
           MAX(CASE WHEN isodow(ts) = 3 THEN 1 ELSE 0 END) AS f3
    FROM events
    GROUP BY user_id
) per_user
GROUP BY 1
ORDER BY 1
"""


@query("sql_ch_retention_report", oracle=RETENTION_REPORT_ORACLE,
       tags=("dialect", "behavior", "agg"))
def sql_ch_retention_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``retention()`` end to end in ClickHouse SQL: per-user
    Monday/Tuesday/Wednesday activity flags (r[i] = cond1 AND condi — the
    dialect expands the aggregate to plain max-flag products, so no UDF is
    involved), indexed with CH 1-based subscripts (``r[1]`` ->
    ``try_element_at``) and bucketed by the CH lookup ``transform`` (->
    map literal + ``try_element_at`` with a default). Scale: two
    partial-aggregated hash exchanges (user, then a 3-value segment key) —
    identical shape to CH's own two-level GROUP BY; the flag array never
    exceeds the condition count."""
    return clickhouse_sql(spark, CH_RETENTION_REPORT, sf_dir)


CH_ANY_ENRICH = """
SELECT doc_id, lang, tag
FROM documents
ANY LEFT JOIN (
    SELECT user_id % 40 AS doc_id, 'seen' AS tag FROM events
) AS e USING (doc_id)
ORDER BY doc_id
"""

ANY_ENRICH_ORACLE = """
SELECT d.doc_id, d.lang, e.tag
FROM documents d
LEFT JOIN (
    SELECT DISTINCT CAST(user_id % 40 AS BIGINT) AS doc_id, 'seen' AS tag
    FROM events
) e USING (doc_id)
ORDER BY d.doc_id
"""


@query("sql_ch_any_enrich", oracle=ANY_ENRICH_ORACLE, tags=("dialect", "join"))
def sql_ch_any_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANY LEFT JOIN … USING`` end to end: enrich documents with an
    activity tag where the right side holds hundreds of duplicate rows per
    key. The dialect rewrites the right side to an explicit one-row-per-key
    pick (row_number over the USING keys) instead of silently stripping
    ANY — output cardinality is exactly |documents|, never a fan-out.
    Scale: the pick is a WindowGroupLimit-shaped filter BELOW the join, so
    the join's build side shrinks to |distinct keys| and AQE typically
    broadcasts it — strictly better than joining the raw right side."""
    return clickhouse_sql(spark, CH_ANY_ENRICH, sf_dir)


CH_DICT_LOOKUP = """
SELECT nation, count() AS n, countIf(known) AS known
FROM (
    SELECT dictGetOrDefault('cust_nation', 'nation', o_custkey, 'UNKNOWN') AS nation,
           dictHas('cust_nation', o_custkey) AS known
    FROM orders
)
GROUP BY nation
ORDER BY nation
"""

DICT_LOOKUP_ORACLE = """
WITH d AS (
    SELECT c_custkey, n_name AS nation
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 0
)
SELECT coalesce(d.nation, 'UNKNOWN') AS nation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(d.c_custkey) AS BIGINT) AS known
FROM orders o LEFT JOIN d ON o.o_custkey = d.c_custkey
GROUP BY 1
ORDER BY 1
"""


@query("sql_ch_dict_lookup", oracle=DICT_LOOKUP_ORACLE, tags=("dialect", "join"))
def sql_ch_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dictGet`` family end to end: a CH external dictionary
    (positive-balance customer -> nation name) is registered in the session, then
    ``dictGetOrDefault`` / ``dictHas`` calls in verbatim CH SQL translate to
    correlated scalar subqueries against the registered view. Catalyst
    rewrites each subquery into a left outer join with the dictionary as the
    build side — exactly the hash-map lookup CH's dictionary engine performs
    host-side — and broadcasts it at any realistic dictionary size. Misses
    surface as the supplied default ('UNKNOWN'), exercising both the hit and
    miss paths. Scale: the fact table streams through unshuffled; two calls
    mean two broadcast probes, same as two dictGet calls in CH."""
    from ..dialect import register_dictionary
    from ..tables import load_tables

    t = load_tables(spark, sf_dir)
    (
        t["customer"]
        .where("c_acctbal > 0")
        .join(t["nation"], t["customer"].c_nationkey == t["nation"].n_nationkey)
        .selectExpr("c_custkey", "n_name AS nation")
        .createOrReplaceTempView("dim_cust_nation")
    )
    register_dictionary(spark, "cust_nation", "dim_cust_nation", "c_custkey")
    return clickhouse_sql(spark, CH_DICT_LOOKUP, sf_dir)


CH_ASOF_ENRICH = """
SELECT e.event_type AS etype,
       count() AS n,
       countIf(p.pts IS NOT NULL) AS matched,
       sum(if(p.pts IS NULL, 0, toUnixTimestamp(e.ts) - toUnixTimestamp(p.pts))) AS gap_s
FROM events AS e
ASOF LEFT JOIN (
    SELECT user_id, ts AS pts
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id, ts
) AS p ON e.user_id = p.user_id AND e.ts >= p.pts
GROUP BY etype
ORDER BY etype
"""

ASOF_ENRICH_ORACLE = """
WITH p AS (
    SELECT user_id, ts AS pts
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_type AS etype,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(p.pts) AS BIGINT) AS matched,
       CAST(sum(CASE WHEN p.pts IS NULL THEN 0
                ELSE CAST(floor(epoch(e.ts)) AS BIGINT)
                     - CAST(floor(epoch(p.pts)) AS BIGINT) END) AS BIGINT) AS gap_s
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.pts
GROUP BY 1
ORDER BY 1
"""


@query("sql_ch_asof_enrich", oracle=ASOF_ENRICH_ORACLE, tags=("dialect", "join", "asof"))
def sql_ch_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ASOF LEFT JOIN`` end to end: every event picks its user's latest
    purchase at-or-before it, then seconds-since-purchase aggregate per
    event type. The dialect interval-izes the right side (``lead(pts)``
    over one (user_id) window after collapsing duplicate timestamps) so the
    join is a plain equi-join on user_id with two residual comparisons —
    exactly one match per probe, no fan-out, no per-probe window. The
    oracle runs DuckDB's NATIVE ASOF JOIN — a fully independent
    implementation of the closest-match semantics. Scale: one exchange +
    sort on the (smaller) purchase side; the probe side shuffles only for
    the join itself, and the gap sums are exact integer epoch
    seconds (unix_timestamp floors on both engines; dateDiff would count
    BOUNDARY CROSSINGS in DuckDB vs elapsed time in Spark's timestampdiff —
    a sub-second divergence this query sidesteps)."""
    return clickhouse_sql(spark, CH_ASOF_ENRICH, sf_dir)


CH_TOKEN_REPORT = """
SELECT lang,
       count() AS n_docs,
       sum(arrayCount(x -> x != '', tokens(text))) AS n_tokens,
       sum(arrayCount(x -> x != '', ngrams(text, 3))) AS n_3grams,
       sum(countMatches(text, '[aeiou]{2}')) AS n_vowel_pairs,
       max(arrayStringConcat(arraySlice(tokens(text), 1, 2), '_')) AS max_head
FROM documents_wide
GROUP BY lang
ORDER BY lang
"""

TOKEN_REPORT_ORACLE = """
WITH d AS (
  SELECT lang, text,
         list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN length(text) >= 3 THEN length(text) - 2
                ELSE 0 END) AS BIGINT) AS n_3grams,
       CAST(sum(len(regexp_extract_all(text, '[aeiou]{2}'))) AS BIGINT)
         AS n_vowel_pairs,
       max(array_to_string(tk[1:2], '_')) AS max_head
FROM d
GROUP BY lang
ORDER BY lang
"""


@query("sql_ch_token_report", oracle=TOKEN_REPORT_ORACLE, tags=("dialect", "text"))
def sql_ch_token_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 string-function batch end to end in CH SQL: ``tokens``
    (non-alphanumeric split, no empties), character ``ngrams``,
    ``countMatches``, ``arrayCount`` with a lambda, and 1-based
    ``arraySlice`` — aggregated per language. The oracle recomputes each
    from DuckDB primitives (regex splits, generate-series gram counts),
    so the driver hash pins the batch's exact semantics, not just that it
    parses. Plan: pure whole-stage-codegen scalar work over one pruned
    scan + one partial-aggregated hash exchange — the per-row array work
    never shuffles.

    Optimization round 13 (guide §2.5 input skew): the per-row token /
    n-gram / regex work is the whole cost and ran single-task on the
    fixture's one-row-group file — the query reads the catalog's
    byte-gated ``documents_wide`` view (the narrow frame below the byte
    floor; a no-op at cluster scale where the scan is already wide).
    Measured 2.43 → 0.76 s machine-adjusted at sf0.1."""
    return clickhouse_sql(spark, CH_TOKEN_REPORT, sf_dir)


CH_AVG_STATE = """
SELECT l_returnflag,
       avgMerge(qty_st) AS avg_qty,
       countMerge(n_st) AS n_lines
FROM (
    SELECT l_returnflag, l_suppkey,
           avgState(l_quantity) AS qty_st,
           countState() AS n_st
    FROM lineitem
    WHERE l_linenumber <= 4
    GROUP BY l_returnflag, l_suppkey
) AS partials
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

AVG_STATE_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(l_quantity) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_linenumber <= 4
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("sql_ch_avg_state", oracle=AVG_STATE_ORACLE, tags=("dialect", "agg"))
def sql_ch_avg_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common AggregatingMergeTree column a reference user ships:
    ``avgState`` partials per fine key re-merged with ``avgMerge`` at a
    coarser grain (reference ClickHouse provisioning; CH docs
    AggregateFunction(avg, T)). The dialect stores CH's own decomposition —
    the (sum, count) pair — as a struct column and re-merges it by
    component sums, so the two-level rollup is EXACTLY the one-level
    aggregate whenever the sums are exact (integer-valued l_quantity here);
    the full-oracle driver row checks that equality against DuckDB's
    one-level average bit for bit. ``countState``/``countMerge`` ride
    along as the value-state case. Scale: two partial-aggregated hash
    exchanges (fine key then coarse key) carrying 16-byte states — the
    exact plan an AggregatingMergeTree materialized view pipeline runs."""
    return clickhouse_sql(spark, CH_AVG_STATE, sf_dir)


CH_FILL_INTERPOLATE = """
SELECT toHour(ts) AS h, count() AS n,
       max(toInt64(round(value * 100))) AS max_cents
FROM events
WHERE event_type = 'purchase' AND value > 250
GROUP BY h
ORDER BY h DESC WITH FILL FROM 23 TO -1 INTERPOLATE (max_cents)
"""

FILL_INTERPOLATE_ORACLE = """
WITH q AS (
  SELECT CAST(hour(ts) AS INT) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
  FROM events
  WHERE event_type = 'purchase' AND value > 250
  GROUP BY 1
), spine AS (
  SELECT CAST(unnest(generate_series(23, 0, -1)) AS INT) AS h
), j AS (
  SELECT COALESCE(spine.h, q.h) AS h, q.n, q.max_cents,
         q.h IS NOT NULL AS orig
  FROM spine FULL OUTER JOIN q ON spine.h = q.h
)
SELECT h, n,
       CASE WHEN orig THEN max_cents
            ELSE last_value(CASE WHEN orig THEN max_cents END IGNORE NULLS)
                 OVER (ORDER BY h DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       END AS max_cents
FROM j
ORDER BY h DESC
"""


@query(
    "sql_ch_fill_interpolate",
    oracle=FILL_INTERPOLATE_ORACLE,
    tags=("dialect", "timeseries"),
)
def sql_ch_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 WITH FILL extensions end to end: a DESC fill (reversed
    spine, exclusive lower bound, STEP defaulting to -1) combined with the
    bare ``INTERPOLATE (col)`` form — the listed measure carries forward
    onto inserted rows from the last ORIGINAL row in output order, while
    untouched measures stay NULL (the documented divergence from CH's
    type-default zeros). The dialect marks original rows, LOCFs through a
    struct (so genuinely-NULL originals carry as NULL), and leaves
    original rows bit-untouched. Scale: the spine is a literal 24-row
    relation; the LOCF window orders by the fill key globally — exactly
    the global sort the top-level ORDER BY already demands, no extra
    exchange (same shape as sql_ch_fill_hours plus one window over the
    spine-sized frame)."""
    return clickhouse_sql(spark, CH_FILL_INTERPOLATE, sf_dir)


CH_WINDOW_FUNNEL = """
SELECT depth, count() AS n_users FROM (
    SELECT user_id,
           windowFunnel(3600)(ts, event_type = 'signup',
                              event_type = 'view',
                              event_type = 'purchase') AS depth
    FROM events
    GROUP BY user_id
) AS per_user
WHERE depth >= 1
GROUP BY depth
ORDER BY depth
"""


# Share the independent EXISTS-chain oracle with x_window_funnel — the
# dialect query must reproduce the same histogram.
from .mergetree import WINDOW_FUNNEL_SQL as _WF_ORACLE  # noqa: E402


@query("sql_ch_window_funnel", oracle=_WF_ORACLE, tags=("dialect", "behavior"))
def sql_ch_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``windowFunnel(3600)(ts, cond…)`` written in ClickHouse SQL and
    TRANSLATED (round 8): the dialect generates CH's own sorted-scan fold
    as a SQL ``aggregate`` over collected (t, cond…) structs — the exact
    algorithm x_window_funnel runs via the DataFrame API, so the two are
    asserted equal in tests/test_dialect.py and this query shares
    x_window_funnel's independent EXISTS-chain oracle below. One user_id
    collect + fold, no join, no UDF; mode arguments stay loud with the
    x_window_funnel_* pointers."""
    return clickhouse_sql(spark, CH_WINDOW_FUNNEL, sf_dir)



CH_UNIQ_EXACT_ROLLUP = """
SELECT event_type,
       uniqExactMerge(u_st) AS uniq_users,
       countMerge(n_st) AS n_events
FROM (
    SELECT event_type, toStartOfDay(ts) AS day,
           uniqExactState(user_id) AS u_st,
           countState() AS n_st
    FROM events
    GROUP BY event_type, day
) AS daily
GROUP BY event_type
ORDER BY event_type
"""

UNIQ_EXACT_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "sql_ch_uniq_exact_rollup",
    oracle=UNIQ_EXACT_ROLLUP_ORACLE,
    tags=("dialect", "agg"),
)
def sql_ch_uniq_exact_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT companion to sql_ch_state_merge_rollup: daily
    ``uniqExactState`` partials re-merged per event type. The state is the
    exact value set (collect_set), merged by flatten + distinct — the
    same associative, idempotent hash-set union CH's uniqExact carries, so
    the two-level rollup is provably EQUAL to counting once and the
    driver row is a full oracle (unlike the HLL-estimate rollup, which is
    rows-only by nature). Scale: state size is O(distinct users per
    (type, day)) — the same burden CH's uniqExact pays; the bounded
    alternative stays uniqState→HLL. Two partial-aggregated exchanges."""
    return clickhouse_sql(spark, CH_UNIQ_EXACT_ROLLUP, sf_dir)


CH_SAMPLE_OFFSET = """
SELECT o_orderstatus,
       count() AS n,
       sum(toInt64(round(o_totalprice * 100))) AS cents
FROM orders SAMPLE 1/4 OFFSET 2/4
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

_SAMPLE_KEY_SQL = (
    "(CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 1000000)"
)

SAMPLE_OFFSET_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE {_SAMPLE_KEY_SQL} * 2 >= 1000000
  AND {_SAMPLE_KEY_SQL} * 4 < 3000000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "sql_ch_sample_offset",
    oracle=SAMPLE_OFFSET_ORACLE,
    tags=("dialect", "sampling"),
)
def sql_ch_sample_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SAMPLE 1/4 OFFSET 2/4`` end to end (round 8): the dialect rewrites
    the sampled table to a deterministic hash-subrange filter on its
    registered SAMPLE BY key — here the engine-portable salted-md5
    integer of o_custkey (the md5_bucket construction from
    operators/sampling.py; CH requires a uniformly-distributed SAMPLE BY
    expression and so does this rewrite — a raw small-integer key lands
    every row in the first hash slots), so the DuckDB oracle replays the
    EXACT same arithmetic (pmod into a 10^6-slot space, rows kept in
    [2/4, 3/4)) and the driver row is a full oracle. Disjoint offsets partition the table
    exactly — CH's distributed-sampling handoff contract. The filter is a
    narrow codegen predicate inside the scan stage: no shuffle, no sample
    materialization."""
    from ..dialect import register_sample_key

    register_sample_key(
        spark, "orders",
        "conv(substring(md5(cast(o_custkey as string)), 1, 8), 16, 10)",
    )
    return clickhouse_sql(spark, CH_SAMPLE_OFFSET, sf_dir)


CH_SEQUENCE_NEXT_NODE = """
SELECT nxt AS next_event, count() AS n_users
FROM (
    SELECT user_id,
           sequenceNextNode('forward', 'first_match')(
               ts, event_type,
               event_type = 'signup',
               event_type = 'signup', event_type = 'view') AS nxt
    FROM events
    GROUP BY user_id
) AS per_user
WHERE nxt IS NOT NULL
GROUP BY next_event
ORDER BY next_event
"""

# Independent window/join formulation: rank the user's FULL timeline,
# anchor at the first signup, require the IMMEDIATELY following event to
# be a view (sequenceNextNode chains are strictly consecutive), and read
# the event after that.
SEQUENCE_NEXT_NODE_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
fs AS (
  SELECT user_id, MIN(rn) AS j
  FROM o WHERE event_type = 'signup' GROUP BY user_id),
chain AS (
  SELECT f.user_id, e2.event_type AS nxt
  FROM fs f
  JOIN o e1 ON e1.user_id = f.user_id AND e1.rn = f.j + 1
           AND e1.event_type = 'view'
  JOIN o e2 ON e2.user_id = f.user_id AND e2.rn = f.j + 2)
SELECT nxt AS next_event, CAST(COUNT(*) AS BIGINT) AS n_users
FROM chain GROUP BY nxt ORDER BY nxt
"""


@query(
    "sql_ch_sequence_next_node",
    oracle=SEQUENCE_NEXT_NODE_ORACLE,
    tags=("dialect", "behavior"),
)
def sql_ch_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequenceNextNode('forward', 'first_match')`` end to end (round 9):
    what do users do right after their first signup→view pair? The
    dialect generates CH's single-base consecutive-chain scan as pure
    array expressions over one sorted per-user collect (see
    dialect._sequence_next_node; all four direction/base pairs are
    frame-tested in test_dialect.py) and the DuckDB oracle recomputes it
    with an independent ROW_NUMBER + self-join formulation. Scale: one
    user_id exchange for the collect + one histogram aggregation — the
    oracle's rank-and-rejoin shape would re-shuffle the event table three
    times; the fold never does."""
    return clickhouse_sql(spark, CH_SEQUENCE_NEXT_NODE, sf_dir)


CH_MAX_INTERSECTIONS = """
SELECT event_type,
       maxIntersections(ts, ts + INTERVAL 1 HOUR) AS peak,
       maxIntersectionsPosition(ts, ts + INTERVAL 1 HOUR) AS peak_at
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# Independent sweep-line formulation: union the ±1 endpoint events,
# running-sum them in (point, delta) order (ends before starts at ties —
# touching intervals do not overlap), take the max, and read the first
# point attaining it.
MAX_INTERSECTIONS_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS p, 1 AS d FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 1 HOUR AS p, -1 AS d FROM events),
rs AS (
  SELECT event_type, p, d,
         SUM(d) OVER (PARTITION BY event_type ORDER BY p, d
                      ROWS UNBOUNDED PRECEDING) AS cur
  FROM pts),
mx AS (SELECT event_type, MAX(cur) AS peak FROM rs GROUP BY event_type)
SELECT r.event_type, CAST(m.peak AS BIGINT) AS peak,
       MIN(r.p) AS peak_at
FROM rs r JOIN mx m ON m.event_type = r.event_type AND r.cur = m.peak
GROUP BY r.event_type, m.peak
ORDER BY r.event_type
"""


@query(
    "sql_ch_max_intersections",
    oracle=MAX_INTERSECTIONS_ORACLE,
    tags=("dialect", "behavior"),
)
def sql_ch_max_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``maxIntersections`` / ``maxIntersectionsPosition`` end to end
    (round 9): the peak number of simultaneously open 1-hour event windows
    per type, and the start time that first attains it. The dialect
    generates CH's sweep (sorted ±1 endpoint list, ends before starts at
    equal points, argmax on strict improvement) as a single fold over one
    per-group collect; the DuckDB oracle recomputes it with an independent
    UNION + running-sum window + join-back formulation. Scale: one
    event_type exchange for the collect — the oracle shape would shuffle
    the doubled endpoint relation twice and join it back; the fold never
    leaves the group."""
    return clickhouse_sql(spark, CH_MAX_INTERSECTIONS, sf_dir)


CH_FILL_RECURRENCE = """
SELECT h, n FROM (
    SELECT toHour(ts) AS h, count() AS n
    FROM events WHERE value > 330 GROUP BY h
) AS src
ORDER BY h WITH FILL FROM 0 TO 24 INTERPOLATE (n AS n + 100)
"""

# Closed-form oracle: with a dense integer spine (STEP 1) the inserted
# row's recurrence depth equals its key distance from the last original
# row, so n = n0 + 100 * (h - h0); hours before the first original stay
# NULL on both sides.
FILL_RECURRENCE_ORACLE = """
WITH src AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE value > 330 GROUP BY 1),
spine AS (SELECT unnest(generate_series(0, 23)) AS h),
j AS (
  SELECT spine.h AS h, src.n AS n,
         LAST_VALUE(CASE WHEN src.n IS NOT NULL THEN spine.h END
                    IGNORE NULLS)
           OVER (ORDER BY spine.h ROWS UNBOUNDED PRECEDING) AS h0,
         LAST_VALUE(src.n IGNORE NULLS)
           OVER (ORDER BY spine.h ROWS UNBOUNDED PRECEDING) AS n0
  FROM spine LEFT JOIN src ON src.h = spine.h)
SELECT CAST(h AS INTEGER) AS h,
       CAST(COALESCE(n, n0 + 100 * (h - h0)) AS BIGINT) AS n
FROM j ORDER BY h
"""


@query(
    "sql_ch_fill_recurrence",
    oracle=FILL_RECURRENCE_ORACLE,
    tags=("dialect", "gap-fill"),
)
def sql_ch_fill_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INTERPOLATE (n AS n + 100)`` end to end (round 9): CH's per-gap
    RECURRENCE form — each hour inserted by WITH FILL carries the
    previous row's value advanced by the expression, resetting at every
    original row (hours before the first original stay NULL). The dialect
    composes the expression g times from the last original value via an
    ``aggregate(sequence(1, g), …)`` fold over the row-number distance;
    the DuckDB oracle exploits the dense STEP-1 spine to verify with the
    independent closed form n0 + 100·(h − h0). Scale: the spine is a
    24-row literal; the LOCF/row-number windows order by the fill key —
    the same global sort the top-level ORDER BY already demands."""
    return clickhouse_sql(spark, CH_FILL_RECURRENCE, sf_dir)


CH_BITMAP_RETENTION = """
SELECT a.day AS day,
       bitmapCardinality(a.bm) AS dau,
       bitmapAndCardinality(a.bm, b.bm) AS retained
FROM (SELECT toStartOfDay(ts) AS day, groupBitmapState(user_id) AS bm
      FROM events GROUP BY day) AS a
INNER JOIN (SELECT toStartOfDay(ts) AS day, groupBitmapState(user_id) AS bm
            FROM events GROUP BY day) AS b
  ON a.day = b.day + INTERVAL 1 DAY
ORDER BY day
"""

BITMAP_RETENTION_ORACLE = """
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day),
ret AS (SELECT x.day AS day, CAST(COUNT(*) AS BIGINT) AS retained
        FROM du x JOIN du y ON y.user_id = x.user_id
                           AND y.day = x.day - INTERVAL 1 DAY
        GROUP BY x.day)
SELECT a.day AS day, a.dau AS dau,
       COALESCE(r.retained, CAST(0 AS BIGINT)) AS retained
FROM dau a
JOIN dau b ON b.day = a.day - INTERVAL 1 DAY
LEFT JOIN ret r ON r.day = a.day
ORDER BY day
"""


@query(
    "sql_ch_bitmap_retention",
    oracle=BITMAP_RETENTION_ORACLE,
    tags=("dialect", "bitmap", "behavior"),
)
def sql_ch_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical ClickHouse bitmap workload (round 9): per-day user
    bitmaps built with ``groupBitmapState`` and day-over-day retention
    read off with ``bitmapAndCardinality`` — the pattern CH documents for
    its roaring-bitmap family. The dialect's bitmap value is the
    canonical sorted-distinct array, so the state column shuffles, joins,
    and intersects as ordinary array data; the DuckDB oracle recomputes
    retention relationally (distinct day-user pairs self-joined at lag
    1 day), checking the whole bitmap algebra end to end.

    Scale: each branch is one partial-aggregated hash exchange to
    per-day bitmaps (collect_set partials merge as set unions — no
    row-level re-shuffle), then a |days|-row self-join; the bitmap
    arrays are O(DAU) per day, CH's own groupBitmap memory shape. For
    corpus-scale DAU prefer the HLL path (uniqState/uniqMerge) — same
    query text, bounded state, documented trade."""
    return clickhouse_sql(spark, CH_BITMAP_RETENTION, sf_dir)


CH_MULTISEARCH_REPORT = """
SELECT doc_id,
       multiSearchFirstIndex(text, ['window', 'stream', 'spark'])
         AS needle_idx,
       multiSearchFirstPosition(text, ['window', 'stream', 'spark'])
         AS needle_pos,
       bitHammingDistance(doc_id, 255) AS hd,
       roundDown(n_chars, [0, 100, 200, 400, 800]) AS len_bucket,
       domainWithoutWWW(concat('http://www.', source, '.example.com/p'))
         AS dom
FROM documents
ORDER BY doc_id
"""

MULTISEARCH_REPORT_ORACLE = """
WITH p AS (
  SELECT doc_id, n_chars, source,
         CAST(strpos(text, 'window') AS BIGINT) AS p1,
         CAST(strpos(text, 'stream') AS BIGINT) AS p2,
         CAST(strpos(text, 'spark') AS BIGINT) AS p3
  FROM documents),
m AS (
  SELECT doc_id, n_chars, source, p1, p2, p3,
         COALESCE(LEAST(NULLIF(p1, 0), NULLIF(p2, 0), NULLIF(p3, 0)), 0)
           AS lm
  FROM p)
SELECT doc_id,
       CAST(CASE WHEN lm = 0 THEN 0 WHEN p1 = lm THEN 1
                 WHEN p2 = lm THEN 2 ELSE 3 END AS BIGINT) AS needle_idx,
       lm AS needle_pos,
       CAST(bit_count(xor(doc_id, 255)) AS BIGINT) AS hd,
       CAST(CASE WHEN n_chars >= 800 THEN 800 WHEN n_chars >= 400 THEN 400
                 WHEN n_chars >= 200 THEN 200 WHEN n_chars >= 100 THEN 100
                 ELSE 0 END AS BIGINT) AS len_bucket,
       source || '.example.com' AS dom
FROM m ORDER BY doc_id
"""


@query(
    "sql_ch_multisearch_report",
    oracle=MULTISEARCH_REPORT_ORACLE,
    tags=("dialect", "scalar", "text"),
)
def sql_ch_multisearch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 wave-3 scalar batch through the dialect end to end:
    multiSearchFirstIndex/FirstPosition over a needle array (leftmost
    occurrence, ties to the lowest index — the c_multi_search contract),
    bitHammingDistance, roundDown against a bucket ladder, and
    domainWithoutWWW — all verified against an independent strpos/
    bit_count/CASE oracle. Scale: one whole-stage-codegen projection
    over a three-column scan; the final ORDER BY is presentation-only."""
    return clickhouse_sql(spark, CH_MULTISEARCH_REPORT, sf_dir)


# ---------------------------------------------------------------------------
# Round-10 wave: the previously-loud high-frequency functions end to end —
# gcd/lcm (bounded Euclid fold), the IPv6 codec family (pure-SQL parse +
# inet_ntop-style formatter), the ngram distance/search family, and the
# exponentialTimeDecayed* window family (max-anchored exp weights).
# ---------------------------------------------------------------------------

# The heavy scalars are computed ONCE in a subquery below the aggregate.
# This matters: mixing uniqExact (DISTINCT) with plain aggregates makes
# Spark Expand the input (one copy per aggregate class), and expressions
# left inline in the aggregate list get re-evaluated across the expanded
# copies and aggregate stages — measured 10x slower (110 s → 11 s at
# sf0.1) for fold-heavy expressions like these. Precomputing in the
# FROM subquery is the portable CH→Spark migration pattern.
CH_WAVE10_REPORT = """
SELECT seg,
       sum(g) AS gcd_sum,
       sum(l) AS lcm_sum,
       countIf(ok) AS v6_ok,
       uniqExact(canon) AS v6_uniq,
       max(hx) AS v6_hex_max
FROM (
  SELECT c_mktsegment AS seg,
         gcd(c_custkey, c_nationkey + 1) AS g,
         lcm(c_custkey % 12 + 1, c_nationkey + 1) AS l,
         isIPv6String(concat('2001:db8::', lower(hex(c_custkey % 65535 + 1)))) AS ok,
         IPv6NumToString(toIPv6(concat('2001:db8::', lower(hex(c_custkey % 65535 + 1))))) AS canon,
         hex(IPv6StringToNum(concat('2001:db8::', lower(hex(c_custkey % 65535 + 1))))) AS hx
  FROM customer_wide
) t
GROUP BY seg
ORDER BY seg
"""

# The IPv6 legs are self-oracling by construction: '2001:db8::X' with
# X ∈ [1, 0xffff] is already canonical (nonzero tail group, one zero run),
# so the round-trip must echo the built string, and the 16-byte hex image
# is '2001' '0db8' + five zero groups + lpad(X) spelled directly.
WAVE10_REPORT_ORACLE = """
SELECT c_mktsegment AS seg,
       CAST(SUM(gcd(c_custkey, c_nationkey + 1)) AS BIGINT) AS gcd_sum,
       CAST(SUM(lcm(c_custkey % 12 + 1, c_nationkey + 1)) AS BIGINT) AS lcm_sum,
       CAST(COUNT(*) AS BIGINT) AS v6_ok,
       CAST(COUNT(DISTINCT c_custkey % 65535 + 1) AS BIGINT) AS v6_uniq,
       MAX(concat('20010DB8', repeat('0', 20),
                  lpad(to_hex(c_custkey % 65535 + 1), 4, '0'))) AS v6_hex_max
FROM customer
GROUP BY 1
ORDER BY 1
"""


@query(
    "sql_ch_wave10_report",
    oracle=WAVE10_REPORT_ORACLE,
    tags=("dialect", "agg", "ipv6"),
)
def sql_ch_wave10_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 dialect wave through the shim end to end: gcd/lcm as
    bounded Euclid folds (exact, 95-step worst case for 64-bit), and the
    IPv6 codec family — isIPv6String validation, toIPv6/IPv6StringToNum
    parsing to 16 bytes, IPv6NumToString canonical formatting — checked
    against DuckDB's native gcd/lcm and a by-construction string oracle.
    Scale: one partial-aggregated hash aggregate over a two-column scan;
    every new function is a pure higher-order-function expression (no
    Python, no join, no extra exchange). The heavy scalars live in the
    FROM subquery so the DISTINCT-aggregate Expand never re-evaluates
    them (see CH_WAVE10_REPORT's comment — 10x at sf0.1). customer's 15k
    rows of interpreted codec folds are the whole cost, so it reads the
    catalog's byte-gated ``customer_wide`` view, which widens the
    single-split scan (guide §2.5; no-op at real scale)."""
    return clickhouse_sql(spark, CH_WAVE10_REPORT, sf_dir)


CH_NGRAM_PROFILE = """
SELECT doc_id,
       ngramDistance(substring(text, 1, 16), substring(text, 5, 16)) AS shift_dist,
       ngramSearch(substring(text, 1, 64), reverse(substring(text, 9, 8))) AS rev_hit,
       ngramDistanceCaseInsensitive(substring(text, 1, 12), 'Value Table') AS probe_dist
FROM documents
WHERE doc_id % 4 = 0
ORDER BY doc_id
"""

# DuckDB mirror of the documented CH formulas over char-level 4-grams
# (documents.text is ASCII, so char-level == the shim's byte-level grams).
# Integer gram counts divide once into DOUBLE and cast to REAL — the same
# exact-int → one-division → float32 path the Spark side takes.
NGRAM_PROFILE_ORACLE = """
WITH s AS (
  SELECT doc_id,
         substr(text, 1, 16) AS a1, substr(text, 5, 16) AS b1,
         substr(text, 1, 64) AS h2, reverse(substr(text, 9, 8)) AS n2,
         lower(substr(text, 1, 12)) AS a3, 'value table' AS b3
  FROM documents WHERE doc_id % 4 = 0
), g AS (
  SELECT doc_id,
    list_transform(range(1, greatest(length(a1) - 2, 1)), i -> substr(a1, i::INT, 4)) AS ga1,
    list_transform(range(1, greatest(length(b1) - 2, 1)), i -> substr(b1, i::INT, 4)) AS gb1,
    list_transform(range(1, greatest(length(h2) - 2, 1)), i -> substr(h2, i::INT, 4)) AS gh2,
    list_transform(range(1, greatest(length(n2) - 2, 1)), i -> substr(n2, i::INT, 4)) AS gn2,
    list_transform(range(1, greatest(length(a3) - 2, 1)), i -> substr(a3, i::INT, 4)) AS ga3,
    list_transform(range(1, greatest(length(b3) - 2, 1)), i -> substr(b3, i::INT, 4)) AS gb3
  FROM s
)
SELECT doc_id,
  CAST(CASE WHEN len(ga1) + len(gb1) = 0 THEN 0 ELSE
    coalesce(list_sum(list_transform(list_distinct(list_concat(ga1, gb1)),
      gx -> abs(len(list_filter(ga1, x -> x = gx))
              - len(list_filter(gb1, x -> x = gx))))), 0)
    / CAST(len(ga1) + len(gb1) AS DOUBLE) END AS REAL) AS shift_dist,
  CAST(CASE WHEN len(gn2) = 0 THEN 0 ELSE
    coalesce(list_sum(list_transform(list_distinct(gn2),
      gx -> least(len(list_filter(gh2, x -> x = gx)),
                  len(list_filter(gn2, x -> x = gx))))), 0)
    / CAST(len(gn2) AS DOUBLE) END AS REAL) AS rev_hit,
  CAST(CASE WHEN len(ga3) + len(gb3) = 0 THEN 0 ELSE
    coalesce(list_sum(list_transform(list_distinct(list_concat(ga3, gb3)),
      gx -> abs(len(list_filter(ga3, x -> x = gx))
              - len(list_filter(gb3, x -> x = gx))))), 0)
    / CAST(len(ga3) + len(gb3) AS DOUBLE) END AS REAL) AS probe_dist
FROM g
ORDER BY doc_id
"""


@query(
    "sql_ch_ngram_profile",
    oracle=NGRAM_PROFILE_ORACLE,
    tags=("dialect", "text", "similarity"),
)
def sql_ch_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngramDistance / ngramSearch / ngramDistanceCaseInsensitive through
    the dialect, verified against an independent DuckDB list-lambda mirror
    of CH's documented multiset formulas (symmetric difference over the
    sum of cardinalities; needle-intersection over the needle size).
    Scale: per-row gram multisets are bounded by the substring lengths
    (≤ 61 grams here), so the whole query is one codegen projection —
    no exchange, no Python."""
    return clickhouse_sql(spark, CH_NGRAM_PROFILE, sf_dir)


CH_DECAY_LEADERS = """
SELECT event_type, user_id, toInt64(rnk) AS rnk
FROM (
  SELECT event_type, user_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ds DESC, user_id) AS rnk
  FROM (
    SELECT event_type, user_id,
           exponentialTimeDecayedSum(604800)(value, toUnixTimestamp(ts))
             OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id) AS ds,
           row_number() OVER (PARTITION BY event_type, user_id
                              ORDER BY ts DESC, event_id DESC) AS rn_last
    FROM events
  ) t
  WHERE rn_last = 1
) r
WHERE rnk <= 3
ORDER BY event_type, rnk
"""

# Decayed scores are transcendental (exp), so they RANK rows and never
# appear as output (SCALE.md rule). At each user's last event the shim's
# max-anchor weight is exp(0) = 1, so the score reduces to
# Σ value·exp((t_i − t_last)/λ) — the plain grouped form below.
DECAY_LEADERS_ORACLE = """
WITH w AS (
  SELECT event_type, user_id, value,
         floor(epoch(ts)) AS tsec,
         MAX(floor(epoch(ts))) OVER (PARTITION BY event_type, user_id) AS m
  FROM events
), scored AS (
  SELECT event_type, user_id,
         SUM(value * exp((tsec - m) / 604800.0)) AS ds
  FROM w GROUP BY event_type, user_id
)
SELECT event_type, user_id, rnk
FROM (
  SELECT event_type, user_id,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY ds DESC, user_id) AS BIGINT) AS rnk
  FROM scored
)
WHERE rnk <= 3
ORDER BY event_type, rnk
"""


@query(
    "sql_ch_decay_leaders",
    oracle=DECAY_LEADERS_ORACLE,
    tags=("dialect", "window", "timeseries"),
)
def sql_ch_decay_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users per event type by exponentially-time-decayed engagement
    (λ = 1 week), written with CH's exponentialTimeDecayedSum window
    function. The shim's rewrite anchors every exp() weight at the
    partition's max timestamp (all arguments ≤ 0 — overflow-free for epoch
    seconds) and the anchor cancels algebraically, so the score at each
    user's last event equals the plain decayed sum the oracle computes.
    Scores are used ONLY to rank (transcendental-output rule); outputs are
    strings and integers. Scale: one (event_type, user_id) window shuffle
    whose keys extend into the per-type ranking window — the heavy frame
    is reduced to |users|·|types| rows before the second window."""
    return clickhouse_sql(spark, CH_DECAY_LEADERS, sf_dir)


CH_JARO_MATCH = """
SELECT probe, p_partkey, toInt64(rn) AS rn
FROM (
  SELECT probe, p_partkey,
         row_number() OVER (PARTITION BY probe
                            ORDER BY jaroWinklerSimilarity(p_name, probe) DESC,
                                     p_partkey) AS rn
  FROM part_wide
  ARRAY JOIN ['small ring', 'blue bolt', 'red gizmo'] AS probe
  WHERE p_partkey % 5 = 0
) t
WHERE rn <= 10
ORDER BY probe, rn
"""

# DuckDB's jaro_winkler_similarity is the same RapidFuzz algorithm the
# shim reproduces (0.7 boost threshold, prefix cap 4, either-empty -> 0;
# verified empirically), so it is a true independent oracle. Similarities
# RANK rows only (transcendental-adjacent float outputs never hash);
# distinct (m, ls, lt, t) tuples sit >= 1e-10 apart — far beyond ulp —
# and equal tuples tie-break on p_partkey identically in both engines.
JARO_MATCH_ORACLE = """
SELECT probe, p_partkey, rn
FROM (
  SELECT probe, p_partkey,
         CAST(row_number() OVER (PARTITION BY probe
              ORDER BY jaro_winkler_similarity(p_name, probe) DESC,
                       p_partkey) AS BIGINT) AS rn
  FROM part, (SELECT unnest(['small ring', 'blue bolt', 'red gizmo']) AS probe)
  WHERE p_partkey % 5 = 0
)
WHERE rn <= 10
ORDER BY probe, rn
"""


@query(
    "sql_ch_jaro_match",
    oracle=JARO_MATCH_ORACLE,
    tags=("dialect", "text", "similarity"),
)
def sql_ch_jaro_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name matching with CH's jaroWinklerSimilarity: top-10 parts
    per probe string, ranked by similarity. The shim's Jaro is the
    standard greedy window match as a SQL fold; Winkler adds the
    threshold-gated contiguous-prefix boost. Scale: the probe array is a
    3-element literal exploded per row — one codegen projection + one
    bounded per-probe ranking window (WindowGroupLimit caps state at 10
    rows per probe); the part table is scanned once, never joined. 12k
    interpreted jaroWinkler folds dominate, so it reads the catalog's
    byte-gated ``part_wide`` view, which widens the part scan (guide
    §2.5; no-op at real scale)."""
    return clickhouse_sql(spark, CH_JARO_MATCH, sf_dir)


CH_CODEC_REPORT = """
SELECT n_name,
       base58Encode(n_name) AS b58,
       base58Decode(base58Encode(n_name)) AS b58_rt,
       punycodeEncode(replaceAll(lower(n_name), 'a', 'ä')) AS puny,
       punycodeDecode(punycodeEncode(replaceAll(lower(n_name), 'a', 'ä')))
         AS puny_rt
FROM nation
ORDER BY n_name
"""


def _codec_report_oracle(sf_dir: str) -> str:
    """Lazy oracle for sql_ch_codec_report: DuckDB has neither base58 nor
    punycode, so the expected strings are computed Spark-independently —
    base58 by a 10-line reference big-integer conversion, punycode by
    Python's built-in RFC 3492 codec — over the nation names read via
    DuckDB, and emitted as a VALUES table. Same promotion pattern as
    x_bpe_encode's trained-model oracle."""
    import duckdb

    alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

    def b58(b: bytes) -> str:
        zeros = len(b) - len(b.lstrip(b"\0"))
        n = int.from_bytes(b, "big")
        out = ""
        while n:
            n, r = divmod(n, 58)
            out = alpha[r] + out
        return "1" * zeros + out

    con = duckdb.connect()
    try:
        names = [r[0] for r in con.execute(
            "SELECT n_name FROM read_parquet("
            f"'{sf_dir}/nation.parquet') ORDER BY n_name"
        ).fetchall()]
    finally:
        con.close()
    rows = []
    for nm in names:
        u = nm.lower().replace("a", "ä")
        rows.append(
            "('{0}', '{1}', '{0}', '{2}', '{3}')".format(
                nm.replace("'", "''"), b58(nm.encode("utf-8")),
                u.encode("punycode").decode("ascii"),
                u.replace("'", "''"),
            )
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(n_name, b58, b58_rt, puny, puny_rt) ORDER BY n_name"
    )


@query(
    "sql_ch_codec_report",
    oracle=_codec_report_oracle,
    tags=("dialect", "codec"),
)
def sql_ch_codec_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 codec wave through the shim end to end: base58
    encode/decode round-trip and punycode encode/decode round-trip (with
    an umlaut substitution so the punycode path is non-trivial), verified
    against reference implementations (python's RFC 3492 codec; a
    big-integer base58) via a lazy VALUES oracle. Scale: every codec is a
    pure SQL fold over the row's own bytes/code points — one codegen
    projection over a 25-row dimension scan, no exchange beyond the
    ORDER BY, no Python on the Spark side."""
    return clickhouse_sql(spark, CH_CODEC_REPORT, sf_dir)


CH_NORMALIZE_REPORT = """
SELECT n_name,
       normalizeQuery(concat('SELECT ', toString(n_nationkey), ', ',
                             toString(n_regionkey),
                             ', 7 FROM t WHERE name = ''', n_name, ''''))
         AS nq,
       normalizeQueryKeepNames(concat('SELECT x', toString(n_nationkey),
                                      'y5z6 FROM t LIMIT ',
                                      toString(n_nationkey))) AS nqk
FROM nation
ORDER BY n_name
"""

# By construction: every generated query normalizes to the same shape —
# the literal run collapses to '?..', the quoted name masks to '?', and
# KeepNames leaves the digit-heavy identifier alone while masking the
# LIMIT literal. The oracle states those shapes as constants; 25 varied
# inputs exercise the fold end-to-end.
NORMALIZE_REPORT_ORACLE = """
SELECT n_name,
       'SELECT ?.. FROM t WHERE name = ?' AS nq,
       concat('SELECT x', CAST(n_nationkey AS VARCHAR),
              'y5z6 FROM t LIMIT ?') AS nqk
FROM nation
ORDER BY n_name
"""


@query(
    "sql_ch_normalize_report",
    oracle=NORMALIZE_REPORT_ORACLE,
    tags=("dialect", "observability"),
)
def sql_ch_normalize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalizeQuery / normalizeQueryKeepNames through the shim: per-row
    query-text fingerprinting (the query-log dedup primitive) — numeric
    literal runs collapse to '?..', string literals mask to '?', and
    KeepNames preserves value-suspect identifiers. The oracle is
    by-construction: the generated queries all share one normalized
    shape. Scale: the lexer fold is one codegen projection over the
    row's own characters — no exchange beyond the ORDER BY, no Python."""
    return clickhouse_sql(spark, CH_NORMALIZE_REPORT, sf_dir)
