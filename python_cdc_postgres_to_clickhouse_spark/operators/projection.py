"""ClickHouse MergeTree PROJECTION analog: a pre-aggregated alternate
layout plus declarative query routing with state re-merge.

Reference semantics (ClickHouse ``ALTER TABLE … ADD PROJECTION p (SELECT
key…, agg… GROUP BY key…)``): each part stores a pre-aggregated copy keyed
differently from the base order; the optimizer answers a matching GROUP BY
from the projection — re-merging the stored aggregate states — and falls
back to the base table otherwise. The reference repo provisions ClickHouse
as its CDC destination (reference docker-compose.yml:155-174), so
projections are part of the delegated warehouse surface.

Spark-first shape:

- the projection is ONE partial-aggregated hash aggregate over the base,
  |distinct keys| rows, with re-mergeable state columns: sum/min/max keep
  their value (their partial state IS the value), count stores its count
  (re-merged by sum), uniq stores an HLL sketch binary (re-merged by
  ``hll_union_agg`` — the same register-max algebra ClickHouse's
  AggregateFunction(uniq) parts use);
- ``answer()`` re-merges states at any coarser key subset — including
  derived ``avg`` from a (sum, count) state pair, exactly how ClickHouse
  decomposes avg into mergeable parts;
- ``route()`` is the optimizer step: answer from the projection when the
  asked keys/measures are covered, else run the caller's base plan.

The 100 TB story: the projection is what you scan INSTEAD of the base —
maintenance costs one map-side-combined exchange per build/update (the
background merge), and every routed query reads |keys| rows, independent
of base volume. ``updated()`` unions new-chunk states with the stored
states and re-merges, so incremental maintenance never re-reads the base
(test-pinned equal to a from-scratch rebuild, bit-exactly for value
states and sketch-identically for uniq).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# measure kind -> (state builder over the source expr, state re-merger)
_BUILD = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "uniq": F.hll_sketch_agg,
}
_REMERGE = {
    "sum": F.sum,
    "count": F.sum,  # partial counts re-merge by addition
    "min": F.min,
    "max": F.max,
    "uniq": F.hll_union_agg,
}


@dataclass(frozen=True)
class Projection:
    """A materializable pre-aggregate: ``df`` holds one row per distinct
    key tuple with re-mergeable state columns; ``kinds`` records each
    state's aggregate kind (the part ClickHouse persists in the part
    metadata — callers re-supply it to :meth:`read`, keeping this operator
    free of sidecar files that break on non-local filesystems)."""

    df: DataFrame
    keys: tuple[str, ...]
    kinds: dict[str, str]

    # -- coverage ----------------------------------------------------------
    def covers(self, group_keys: list[str], asked: dict[str, tuple]) -> bool:
        if not set(group_keys) <= set(self.keys):
            return False
        for spec in asked.values():
            kind, *states = spec
            if kind == "avg":
                if len(states) != 2:
                    return False
                s, c = states
                ok = (self.kinds.get(s) == "sum"
                      and self.kinds.get(c) == "count")
            else:
                ok = len(states) == 1 and self.kinds.get(states[0]) == kind
            if not ok:
                return False
        return True

    # -- answering ---------------------------------------------------------
    def answer(self, group_keys: list[str], asked: dict[str, tuple]) -> DataFrame:
        """Re-merge states to ``group_keys`` granularity.

        ``asked`` maps output column -> ("sum"|"count"|"min"|"max", state),
        ("uniq", state) (surfaced as the HLL estimate), or
        ("avg", sum_state, count_state) (derived in double space).
        Raises KeyError/ValueError on anything :meth:`covers` would reject —
        use :func:`route` for the fall-back behavior.
        """
        if not self.covers(group_keys, asked):
            raise ValueError(
                f"projection(keys={self.keys}) does not cover "
                f"group_keys={group_keys} asked={asked}"
            )
        aggs: list[Column] = []
        for out, spec in asked.items():
            kind = spec[0]
            if kind == "avg":
                _, s, c = spec
                aggs.append(
                    (F.sum(self.df[s]).cast("double")
                     / F.sum(self.df[c]).cast("double")).alias(out)
                )
            elif kind == "uniq":
                aggs.append(
                    F.hll_sketch_estimate(F.hll_union_agg(self.df[spec[1]]))
                    .alias(out)
                )
            else:
                aggs.append(_REMERGE[kind](self.df[spec[1]]).alias(out))
        if not group_keys:
            return self.df.agg(*aggs)
        return self.df.groupBy(*group_keys).agg(*aggs)

    # -- maintenance ---------------------------------------------------------
    def remerged(self) -> "Projection":
        """One row per key tuple: the state rows re-merged per key (the
        background-merge step over any number of stored chunks)."""
        merged = self.df.groupBy(*self.keys).agg(*[
            _REMERGE[k](F.col(s)).alias(s) for s, k in self.kinds.items()
        ])
        return Projection(merged, self.keys, dict(self.kinds))

    def updated(self, new_states: "Projection") -> "Projection":
        """Merge a new chunk's projection (same spec) into this one: union
        the state rows, re-merge per key. Never re-reads the base table."""
        if new_states.keys != self.keys or new_states.kinds != self.kinds:
            raise ValueError("projection specs differ — rebuild instead")
        return Projection(
            self.df.unionByName(new_states.df), self.keys, dict(self.kinds)
        ).remerged()

    # -- persistence ---------------------------------------------------------
    def write(self, path: str) -> None:
        """Materialize the state table, clustered by the leading key so
        routed scans prune on it (the projection's own ORDER BY)."""
        (self.df.repartition(*[F.col(k) for k in self.keys])
         .sortWithinPartitions(*self.keys)
         .write.mode("overwrite").parquet(path))

    @staticmethod
    def read(spark, path: str, keys: list[str], kinds: dict[str, str]) -> "Projection":
        return Projection(spark.read.parquet(path), tuple(keys), dict(kinds))


def build_projection(
    base: DataFrame,
    keys: dict[str, Column],
    measures: dict[str, tuple[str, Column]],
) -> Projection:
    """ONE partial-aggregated hash aggregate over the base: key exprs are
    named, each measure (kind, source expr) becomes a re-mergeable state
    column. The exchange carries |distinct keys| partials per task —
    map-side combine IS the projection build, the same way the MergeTree
    part merge is the aggregation."""
    bad = [k for k, (kind, _) in measures.items() if kind not in _BUILD]
    if bad:
        raise ValueError(f"unknown measure kinds for {bad}")
    keyed = base.select(
        *[expr.alias(name) for name, expr in keys.items()],
        *[expr.alias(f"_src_{name}") for name, (_, expr) in measures.items()],
    )
    states = keyed.groupBy(*keys.keys()).agg(*[
        _BUILD[kind](F.col(f"_src_{name}")).alias(name)
        for name, (kind, _) in measures.items()
    ])
    return Projection(
        states, tuple(keys.keys()),
        {name: kind for name, (kind, _) in measures.items()},
    )


def route(
    projection: Projection,
    group_keys: list[str],
    asked: dict[str, tuple],
    base_plan,
) -> DataFrame:
    """The optimizer step: answer from the projection when covered, else
    call ``base_plan()`` (a thunk building the direct query). Mirrors
    ClickHouse's ``optimize_use_projections`` choice point."""
    if projection.covers(group_keys, asked):
        return projection.answer(group_keys, asked)
    return base_plan()
