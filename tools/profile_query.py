#!/usr/bin/env python
"""Profile declared queries: min-of-N timing + optional plan capture, with
load-average context (shared-box protocol: never trust a solo number taken
above ~load 4).

Each iteration times two phases separately: ``build`` (calling the query
function — some operators run Spark jobs while the plan is built, e.g.
connected_components materializes its edge list) and ``force`` (the noop
write of the returned DataFrame). Both are printed, with their sum.

Usage:
  python tools/profile_query.py x_jaccard_near_dup [more...] [--n 4]
      [--sf sf0.1] [--plan out_dir] [--cold]
--cold clears the Spark cache before EVERY iteration (measures the
uncached path; default keeps the bench's resident-engine warm semantics).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
from python_cdc_postgres_to_clickhouse_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    n = int(args[args.index("--n") + 1]) if "--n" in args else 4
    sf = args[args.index("--sf") + 1] if "--sf" in args else "sf0.1"
    plan_dir = args[args.index("--plan") + 1] if "--plan" in args else None
    cold = "--cold" in args
    names = [a for a in args if not a.startswith("--")
             and a not in (str(n), sf, plan_dir or "")]
    sf_dir = sf if os.path.isabs(sf) else f"/root/testdata/{sf}"
    specs = all_queries()
    spark = get_spark(app_name="profile")
    # Warm-up: JVM/codegen/footers.
    specs["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in names:
        builds, forces = [], []
        for i in range(n):
            if cold:
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(round(t1 - t0, 4))
            forces.append(round(t2 - t1, 4))
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            df = specs[name].fn(spark, sf_dir)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        totals = [round(b + f, 4) for b, f in zip(builds, forces)]
        print(
            f"{name}: min={min(totals)} build={builds} force={forces} "
            f"total={totals} load={os.getloadavg()}"
        )


if __name__ == "__main__":
    main()
