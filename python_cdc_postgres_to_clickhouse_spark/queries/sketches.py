"""Mergeable-sketch surface (SURVEY.md §2.4 approx row, expanded):
HyperLogLog distinct, KLL quantiles, theta set operations, count-min
frequencies — Spark 4's Apache DataSketches integration.

Why this family matters at 100 TB: every sketch here is a *mergeable
summary* — partial aggregation IS sketch merge, so the shuffle carries a
few-KB sketch per task instead of per-key state, rollups across
partitions/days/tenants are `union_agg` over stored sketches instead of
re-scans, and accuracy is a tunable constant (lgk / k / ε,δ) independent
of data volume. This is the canonical distributed-approximation pattern
(see the DataSketches papers; Spark exposes them as
hll_sketch_agg / kll_sketch_agg_* / theta_sketch_agg / count_min_sketch).

Correctness: sketch *internals* are engine-specific, so these are
rows-only driver rows — but every estimate is deterministic for a given
input (no RNG at query time; count-min takes an explicit seed), and
tests/test_sketches.py pins (a) determinism across runs, (b) published
error bounds against exact ground truth computed side by side, and
(c) merge-vs-monolithic equivalence — the property that makes them safe
to pre-aggregate and roll up.

Reference parity: the reference delegates analytics to ClickHouse, whose
uniq/quantile/topK combinators are exactly this sketch family —
this module is the Spark-native equivalent of those combinators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import state
from ..tables import load_tables

HLL_LGK = 12          # 2^12 buckets → ~1.6% RSE
KLL_K = 200           # ~1.7% rank error at k=200


@query("x_sketch_distinct_rollup", tags=("ext", "sketch", "approx"))
def x_sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct users per event type PLUS the overall rollup computed
    by UNIONING the per-type sketches — never re-scanning the events. The
    roll-up-from-stored-sketches shape is the whole point: at 100 TB you
    keep a few-KB sketch per (type, day) and answer any coarser distinct
    query by union, not by touching data again."""
    t = load_tables(spark, sf_dir)
    per_type = (
        t["events"]
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"))
    )
    typed = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    overall = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("ALL").alias("event_type"), "approx_users")
    return typed.unionByName(overall).orderBy("event_type")


@query("x_sketch_quantiles", tags=("ext", "sketch", "approx"))
def x_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch of order value per order status: p50/p90/p99
    estimates with a k-bounded rank-error guarantee. The sketch is a
    mergeable partial aggregate — the same few-KB summary serves any
    quantile after the fact, unlike a fixed-percentile precompute."""
    t = load_tables(spark, sf_dir)
    sk = F.kll_sketch_agg_double("o_totalprice", F.lit(KLL_K))
    per = t["orders"].groupBy("o_orderstatus").agg(sk.alias("sk"))
    return per.select(
        "o_orderstatus",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99"),
    ).orderBy("o_orderstatus")


@query("x_sketch_theta_setops", tags=("ext", "sketch", "approx"))
def x_sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches support set ALGEBRA on distinct counts: |A ∪ B| via
    sketch union for the two busiest event types — overlap analysis
    (|A| + |B| - |A∪B|) without a distinct-join. At scale: audience overlap
    across segments from stored per-segment sketches."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("event_type").isin("click", "view"))
    per = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    singles = per.select(
        "event_type", F.theta_sketch_estimate("sk").alias("approx_users")
    )
    union = per.agg(
        F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("approx_users")
    ).select(F.lit("click∪view").alias("event_type"), "approx_users")
    return singles.unionByName(union).orderBy("event_type")


CMS_EPS = 0.001        # over-estimate ≤ ε·N with prob ≥ δ
CMS_CONF = 0.99
CMS_SEED = 42          # explicit seed → deterministic hashing across runs
# Fixed probe set: the language-marker stopwords the corpus fixtures carry.
CMS_PROBES = ("the", "and", "of", "to", "in", "el", "la", "de", "der", "die")

# Build-once / probe-many: the sketch IS the stored summary (ClickHouse
# persists exactly this as an AggregateFunction state column; IVF's
# train-once centroids are the same pattern here). One corpus pass per
# (session, corpus), kept in the session's state; every later probe rides
# the few-KB cached state. Deterministic: explicit seed + counter-add merge
# ⇒ same grid every build.


@query("x_sketch_cms_freq", tags=("ext", "sketch", "approx"))
def x_sketch_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates for a fixed probe set of
    corpus tokens — the frequency-oracle member of the sketch family
    (ClickHouse topK-combinator / frequency-cap analog).

    The aggregate is Spark's `count_min_sketch` with an EXPLICIT seed, so
    the d×w counter table is deterministic; partial aggregation IS sketch
    merge (counter-wise add — exact, unlike HLL's register max there is no
    estimation loss in the merge itself), so the shuffle carries one
    ~ε⁻¹·ln(1/δ) counter grid per task regardless of cardinality. The
    driver collects ONE row (the few-KB sketch binary), deserializes it
    via the JVM sketch library, and probes the fixed token list — at
    100 TB the probe set rides on a few-KB summary, never a re-scan. The
    build runs ONCE per (session, corpus) and is cached (session.state) —
    probe-many over stored sketch state is the operating mode, the
    ClickHouse AggregateFunction-column analog (deterministic: explicit
    seed, counter-add merge).
    Guarantees (tested): est ≥ exact always; est ≤ exact + ε·N w.p. ≥ δ.
    Sketch internals are engine-specific ⇒ rows-only driver row."""
    from ..operators.textstats import tokens

    st, key = state(spark), ("cms", sf_dir)
    if key not in st:
        t = load_tables(spark, sf_dir)
        toks = t["documents"].select(F.explode(tokens()).alias("token"))
        st[key] = bytes(
            toks.agg(
                F.count_min_sketch(
                    "token", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
                ).alias("sk")
            ).collect()[0]["sk"]
        )
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(st[key])
    rows = [(p, int(jcms.estimateCount(p))) for p in CMS_PROBES]
    return spark.createDataFrame(rows, "token string, est_n bigint").orderBy("token")


HH_SUPPORT = 0.02

HEAVY_HITTERS_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents
), counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok)
SELECT token, n, CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS freq
FROM counts, tot
WHERE CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) > {HH_SUPPORT}
"""


@query("x_heavy_hitters", oracle=HEAVY_HITTERS_SQL, tags=("ext", "sketch", "approx"))
def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass heavy hitters over corpus tokens via freqItems (the
    Karp/Shenker/Papadimitriou counting algorithm): every token with
    frequency > support·N is guaranteed present (false positives possible,
    false negatives not — the one-sided guarantee is test-asserted against
    exact counts). The summary is O(1/support) counters per partition
    merged associatively — a fixed-size pass like CMS, but with a probe-
    free output. Because the exact-count filter trims the superset, the
    final answer is EXACT — so unlike the other sketches this one carries a
    full DuckDB oracle. The candidate semi-join sits BELOW the exact-count
    aggregate, so the count shuffle carries only the O(1/support)
    candidate tokens, never vocabulary-sized partials (web-scale corpora
    have unbounded distinct-token counts; plan-asserted in
    tests/test_plans.py); n_total is a narrow sum of token-array sizes —
    no third explode pass over the corpus."""
    from ..operators.textstats import tokens

    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(F.explode(tokens()).alias("token"))
    cand = (
        toks.stat.freqItems(["token"], support=HH_SUPPORT)
        .select(F.explode("token_freqItems").alias("token"))
    )
    counts = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = t["documents"].agg(F.sum(F.size(tokens())).alias("n_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "token",
            "n",
            (F.col("n").cast("double") / F.col("n_total").cast("double")).alias("freq"),
        )
        .filter(F.col("freq") > HH_SUPPORT)
        .orderBy(F.desc("n"), F.asc("token"))
    )
