"""Plan checks over every registry query that uses higher-order functions
(transform / aggregate / filter / zip_with … lambdas), at the oracle scale.

Two plan shapes waste the interpreted lambda work these queries do:

- **Row work inside a lambda.** A lambda body holding a non-trivial
  subtree that reads a column but no lambda variable re-evaluates that
  subtree once per array element: higher-order functions run interpreted
  (CodegenFallback), so subexpression elimination does not share it. The
  shingle fold re-tokenized every document once per shingle this way.
  Subtrees that use an enclosing lambda's variable are per-element work of
  that outer lambda and are not flagged.
- **A lambda filter below the widen.** `widen_small_scan` adds a
  round-robin exchange so interpreted folds run on every core. A Filter
  holding a higher-order function below that exchange runs the fold again,
  in the single scan task (Catalyst pushes inferred filters, such as
  InferFiltersFromGenerate's `size(arr) > 0`, through the repartition).
  The same holds for a fold computed before a widen: the MinHash shingle
  cache must fold after its repartition, not in the scan task.

The physical plans are walked through the JVM, into cached relations and
adaptive plans; expressions are read from their JSON form.
"""

from __future__ import annotations

import json

from python_cdc_postgres_to_clickhouse_spark.operators.dedup import minhash_near_duplicates
from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE

_LEAVES = {"Literal", "AttributeReference", "NamedLambdaVariable", "BoundReference"}
_HOFS = {
    "ArrayTransform", "ArrayAggregate", "ArrayFilter", "ArrayExists", "ArrayForAll",
    "ArraySort", "ZipWith", "MapFilter", "TransformKeys", "TransformValues", "MapZipWith",
}


def _tree(flat: list[dict]) -> dict:
    """Rebuild an expression tree from TreeNode.toJSON's pre-order list."""
    it = iter(flat)

    def rec() -> dict:
        node = next(it)
        node["kind"] = node["class"].rsplit(".", 1)[-1]
        node["kids"] = [rec() for _ in range(int(node["num-children"]))]
        return node

    return rec()


def _any(node: dict, pred) -> bool:
    return pred(node) or any(_any(k, pred) for k in node["kids"])


def _render(node: dict) -> str:
    if node["kind"] in ("AttributeReference", "NamedLambdaVariable"):
        return node["name"]
    if node["kind"] == "Literal":
        return repr(node.get("value"))
    return f"{node['kind']}({', '.join(_render(k) for k in node['kids'])})"


def _row_work_in_lambdas(node: dict, out: list[str]) -> None:
    """Maximal subtrees of lambda bodies that read a column but no lambda
    variable at all."""
    if node["kind"] == "LambdaFunction":
        stack = [node["kids"][0]]
        while stack:
            sub = stack.pop()
            if not _any(sub, lambda n: n["kind"] == "NamedLambdaVariable"):
                if sub["kind"] not in _LEAVES and _any(
                    sub, lambda n: n["kind"] == "AttributeReference"
                ):
                    out.append(_render(sub))
            elif sub["kind"] != "LambdaFunction":
                stack.extend(sub["kids"])
    for k in node["kids"]:
        _row_work_in_lambdas(k, out)


def _scan(plan, below_round_robin: bool, found: dict) -> None:
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _scan(plan.executedPlan(), below_round_robin, found)
    if kind.endswith("QueryStageExec"):
        return _scan(plan.plan(), below_round_robin, found)
    if kind == "InMemoryTableScanExec":
        return _scan(plan.relation().cacheBuilder().cachedPlan(), below_round_robin, found)
    if kind == "ShuffleExchangeExec":
        part = plan.outputPartitioning().getClass().getSimpleName()
        below_round_robin = below_round_robin or part == "RoundRobinPartitioning"
    exprs = plan.expressions()
    for i in range(exprs.size()):
        expr = _tree(json.loads(exprs.apply(i).toJSON()))
        if not _any(expr, lambda n: n["kind"] in _HOFS):
            continue
        found["hof"] = True
        _row_work_in_lambdas(expr, found["row_work"])
        if kind == "FilterExec" and below_round_robin:
            found["filters"].append(_render(expr))
    kids = plan.children()
    for i in range(kids.size()):
        _scan(kids.apply(i), below_round_robin, found)


def test_higher_order_functions_do_no_row_work_per_element(spark):
    row_work, filters, with_hofs = {}, {}, []
    for name, spec in all_queries().items():
        found = {"hof": False, "row_work": [], "filters": []}
        df = spec.fn(spark, SF_ORACLE)
        _scan(df._jdf.queryExecution().executedPlan(), False, found)
        if not found["hof"]:
            continue
        with_hofs.append(name)
        if found["row_work"]:
            row_work[name] = sorted(set(found["row_work"]))
        if found["filters"]:
            filters[name] = sorted(set(found["filters"]))
    # The near-dup family is what the check exists for; an empty scan
    # would pass vacuously.
    assert {"x_jaccard_near_dup", "x_minhash_near_dup", "x_simhash_near_dup",
            "x_dup_span_detect", "sql_ch_ngram_profile"} <= set(with_hofs)
    assert not row_work, f"row work inside lambda bodies: {row_work}"
    assert not filters, f"lambda filters below a round-robin exchange: {filters}"


def _cached_plans(plan, out: list) -> None:
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _cached_plans(plan.executedPlan(), out)
    if kind.endswith("QueryStageExec"):
        return _cached_plans(plan.plan(), out)
    if kind == "InMemoryTableScanExec":
        out.append(plan.relation().cacheBuilder().cachedPlan())
    kids = plan.children()
    for i in range(kids.size()):
        _cached_plans(kids.apply(i), out)


def _hof_sides(plan, below_exchange: bool, sides: dict) -> None:
    """Record, per side of the first shuffle exchange, whether an operator
    holding a higher-order function sits there."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _hof_sides(plan.executedPlan(), below_exchange, sides)
    if kind.endswith("QueryStageExec"):
        return _hof_sides(plan.plan(), below_exchange, sides)
    below_exchange = below_exchange or kind == "ShuffleExchangeExec"
    exprs = plan.expressions()
    for i in range(exprs.size()):
        if _any(_tree(json.loads(exprs.apply(i).toJSON())), lambda n: n["kind"] in _HOFS):
            sides["below" if below_exchange else "above"] = True
    kids = plan.children()
    for i in range(kids.size()):
        _hof_sides(kids.apply(i), below_exchange, sides)


def test_minhash_shingle_fold_runs_after_the_widen(spark):
    """The cached MinHash shingle frame of a small one-file corpus folds its
    shingles after the widening exchange, not in the single scan task."""
    docs = load_tables(spark, SF_ORACLE)["documents"]
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = minhash_near_duplicates(docs, threshold=0.6)
    cached = []
    _cached_plans(out._jdf.queryExecution().executedPlan(), cached)
    sides = {"above": False, "below": False}
    for plan in cached:
        _hof_sides(plan, False, sides)
    assert sides == {"above": True, "below": False}, sides
