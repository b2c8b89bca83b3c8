"""Query registry: the declared operator inventory.

Every operator from SURVEY.md §2 is declared here as a named query — a
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a
DuckDB-compatible ANSI-SQL oracle string over the same Parquet tables.
The driver runs both sides at sf0.01 and compares row count, schema, and an
order-insensitive value hash; queries must alias every computed column
identically on both sides.

Float determinism: Spark and DuckDB must produce *bit-identical* doubles.
Aggregates over money columns therefore cast inputs to DECIMAL (exact,
order-insensitive sums on both engines) and cast the final result back to
DOUBLE — see ``queries/_exprs.py``.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}

# The scale factor the driver's correctness compare runs at. Lazy oracle
# builders that embed data-dependent models (BPE merge tables, expected
# codec strings) default to this directory; callers comparing at another
# SF must pass their sf_dir through resolve_oracle so the baked model
# matches the Spark side (ADVICE r11).
ORACLE_SF_DIR = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Lazy-oracle disk cache (ADVICE r12): several lazy oracle builders replay
# model training (k-means/PQ/IVF-PQ) and full-corpus candidate generation in
# numpy — oracle_sql() resolving all of them at dict-build time made every
# driver/judge/verify collection pay that cost even when only the 50-name
# window is compared. The returned dict must stay plain dict[str, str] (the
# driver contract), so the fix is a content-keyed disk cache: a resolved
# oracle string is reusable iff NOTHING it could depend on changed — keyed
# on (query name, sf_dir, a fingerprint of every package .py file, a
# fingerprint of every parquet file in sf_dir). Any code edit or fixture
# regeneration invalidates the whole cache (builders call helpers across
# modules; chasing the call graph would be fragile — over-invalidation is
# the safe direction). Within an unchanged tree the driver run, the judge's
# sim, and repeated verifies all hit the cache.
_CACHE_DIR = Path(__file__).resolve().parent.parent / ".oracle_cache"
_TREE_FP: str | None = None
_FIXTURE_FP: dict[str, str] = {}


def _tree_fingerprint() -> str:
    global _TREE_FP
    if _TREE_FP is None:
        h = hashlib.sha256()
        pkg = Path(__file__).resolve().parent
        for p in sorted(pkg.rglob("*.py")):
            h.update(str(p.relative_to(pkg)).encode())
            h.update(p.read_bytes())
        _TREE_FP = h.hexdigest()
    return _TREE_FP


def _fixture_fingerprint(sf_dir: str) -> str:
    fp = _FIXTURE_FP.get(sf_dir)
    if fp is None:
        h = hashlib.sha256()
        for p in sorted(Path(sf_dir).glob("*.parquet")):
            h.update(p.name.encode())
            h.update(p.read_bytes())
        fp = _FIXTURE_FP.setdefault(sf_dir, h.hexdigest())
    return fp


def _oracle_cache_get(name: str, sf_dir: str) -> "tuple[Path, str | None]":
    key = hashlib.sha256(
        f"{name}|{sf_dir}|{_tree_fingerprint()}|{_fixture_fingerprint(sf_dir)}"
        .encode()
    ).hexdigest()
    path = _CACHE_DIR / f"{key}.sql"
    try:
        return path, path.read_text()
    except OSError:
        return path, None


def _oracle_cache_put(path: Path, sql: str) -> None:
    try:
        _CACHE_DIR.mkdir(exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(sql)
        os.replace(tmp, path)
    except OSError:
        pass  # cache is an optimization; never fail resolution over it


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    # Either the oracle SQL text, or a builder returning it (zero-arg, or
    # taking the sf_dir the compare will run at). Builders exist for
    # oracles whose SQL embeds a model trained independently of Spark
    # (e.g. x_bpe_encode trains its merge table from a DuckDB word count
    # + the pure-python reference BPE) — the build runs at first resolve,
    # never at import, and is cached per sf_dir.
    oracle: "str | Callable[..., str] | None" = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    _resolved: dict = field(default_factory=dict, repr=False)

    @property
    def doc(self) -> str:
        return (self.fn.__doc__ or "").strip()

    def resolve_oracle(self, sf_dir: str = ORACLE_SF_DIR) -> str | None:
        if self.oracle is None or not callable(self.oracle):
            return self.oracle
        if sf_dir not in self._resolved:
            cache_path, cached = _oracle_cache_get(self.name, sf_dir)
            if cached is not None:
                self._resolved[sf_dir] = cached
            else:
                import inspect

                takes_sf = bool(inspect.signature(self.oracle).parameters)
                sql = self.oracle(sf_dir) if takes_sf else self.oracle()
                self._resolved[sf_dir] = sql
                _oracle_cache_put(cache_path, sql)
        return self._resolved[sf_dir]


def query(
    name: str,
    oracle: "str | Callable[[], str] | None" = None,
    tags: tuple[str, ...] = (),
):
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


# The driver checks the first 50 names; `python tools/driver_window.py` prints the next window.
DRIVER_PRIORITY: tuple[str, ...] = (
    # ROUND-14 WINDOW (the driver consumes exactly the first 50 names).
    # (a) CHANGED in the round-14 optimization pass (results bit-identical
    #     — every one re-verified against its oracle at sf0.01 AND sf0.1
    #     this round — but the physical plan or operator internals
    #     changed): q1/j_star fact widen became bytes-scaled (~10 tasks,
    #     not 32, at sf0.1; none below the 2 MB floor), rolling-actives
    #     gained the NULL-user guard, semantic_dedup's prune math went
    #     in-place with an optional oversized-cluster fallback,
    #     jaro's part widen is now bytes-scaled (21 tasks), and
    #     codec_report is the heaviest beneficiary of the dialect's
    #     analyzed-plan reuse. Per the standing policy, changed queries
    #     lead so the external tier re-verifies exactly the changed code.
    "q1_pricing_summary",
    "j_star_broadcast",
    "x_active_users_rolling",
    "x_semantic_dedup",
    "sql_ch_jaro_match",
    "sql_ch_codec_report",
    # (b) the r9 cohort, in full (31 names — the oldest driver rows;
    #     the two names displaced from the r13 window lead it):
    "sql_ch_sample_offset",
    "sql_ch_sequence_next_node",
    "sql_ch_uniq_exact_rollup",
    "sql_ch_window_funnel",
    "t_session_window",
    "t_sliding_window",
    "t_tumbling_window",
    "tpch_q10_returned_items",
    "tpch_q11_value_share",
    "tpch_q12_late_lines",
    "tpch_q13_custdist",
    "tpch_q14_promo_share",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q18_large_orders",
    "tpch_q20_promo_suppliers",
    "tpch_q21_waiting_supplier",
    "tpch_q22_lapsed_customers",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "w_forward_fill",
    "w_topk_per_group",
    "x_chunk_documents",
    "x_cosine_topk",
    "x_dedup_exact",
    "x_jaccard_near_dup",
    "x_linear_quality_score",
    "x_passage_dedup",
    "x_rank_corr",
    "x_token_diversity",
    "x_window_funnel_freeze",
    # (c) r10 staleness fill, alphabetical (13 names):
    "a_groupby_orders",
    "a_pivot",
    "c_json_funcs",
    "c_math_funcs",
    "c_string_funcs",
    "cdc_collapsing_state",
    "j_inner_equi",
    "m_covar_corr",
    "m_disjunctive_bands",
    "m_global_agg_revenue",
    "m_histogram",
    "m_lateral_top_order",
    "m_median_exact",
    # ------------------------------------------------------------------
    # Positions 51+: the ROUND-15 QUEUE — the r10 cohort remainder
    # (alphabetical; 36 names).
    "m_order_priority_check",
    "m_salted_agg",
    "m_string_agg",
    "m_token_tf_topn",
    "m_unpivot",
    "s_intersect_all",
    "sql_ch_bitmap_retention",
    "sql_ch_decay_leaders",
    "sql_ch_multisearch_report",
    "sql_ch_ngram_profile",
    "sql_ch_wave10_report",
    "sql_recursive_date_spine",
    "sub_correlated_scalar",
    "sub_exists_correlated",
    "sub_small_qty_revenue",
    "w_running_sum",
    "x_cluster_canonical",
    "x_corpus_funnel",
    "x_corpus_prep",
    "x_cramers_v",
    "x_dedup_clusters",
    "x_funnel_steps",
    "x_fuzzy_name_pairs",
    "x_gap_fill_locf",
    "x_gopher_gates",
    "x_heavy_hitters",
    "x_interpolate_linear",
    "x_ks_test",
    "x_mann_whitney_u",
    "x_minhash_near_dup",
    "x_mixture_weights",
    "x_ngram_novelty",
    "x_outlier_zscore",
    "x_random_projection",
    "x_recipe_epochs",
    "x_welch_t",
)


def all_queries() -> dict[str, QuerySpec]:
    """All registered queries, driver-priority queries first.

    Dict order is the order the driver consumes; see DRIVER_PRIORITY.
    """
    # Import for registration side effects.
    from . import queries as _q  # noqa: F401
    from . import operators as _o  # noqa: F401

    # A silently-dropped priority name would shift the 50-query verification
    # window this list exists to control — fail loud on drift.
    unknown = [n for n in DRIVER_PRIORITY if n not in REGISTRY]
    if unknown:
        raise ValueError(f"DRIVER_PRIORITY names not in registry: {unknown}")
    ordered = {n: REGISTRY[n] for n in DRIVER_PRIORITY}
    ordered.update({n: s for n, s in REGISTRY.items() if n not in ordered})
    return ordered
