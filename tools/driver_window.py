#!/usr/bin/env python
"""Print the next DRIVER_PRIORITY window (registry.py).

The correctness driver checks the first 50 names in ``__spark_entry__``
``queries()`` order and records one row per name in CORRECTNESS_r<N>.json.
The next window leads with:
  (a) registered queries with no verified driver row in any round,
  (b) the ``--changed`` names (new or semantically changed this round),
  (c) the rest, oldest last-verified round first, ties alphabetical.
A row is verified when its hash matched, or when the query has no oracle
(the driver then records rows only).

Usage:
  python tools/driver_window.py [--changed NAME ...]
Prints one tuple line per name, ready to paste into DRIVER_PRIORITY.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50  # names the driver checks per round


def last_verified(repo: str = REPO) -> dict[str, int]:
    """Query name -> the last round whose driver row verified it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("hash_match") or row.get("err") == "no_oracle":
                last[name] = max(last.get(name, 0), rnd)
    return last


def window(names, last: dict[str, int], changed=()) -> list[tuple[str, str]]:
    """The next WINDOW (name, reason) pairs, reason one of ``never``,
    ``changed`` or ``r<N>``."""
    names = set(names)
    unknown = sorted(set(changed) - names)
    if unknown:
        raise SystemExit(f"--changed names not in the registry: {unknown}")
    out = [(n, "never") for n in sorted(names - set(last))]
    out += [(n, "changed") for n in changed if n in last]
    seen = {n for n, _ in out}
    rest = sorted((last[n], n) for n in names if n not in seen)
    out += [(n, f"r{r}") for r, n in rest]
    return out[:WINDOW]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--changed", nargs="*", default=[], metavar="NAME")
    args = ap.parse_args()

    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries

    for name, why in window(all_queries(), last_verified(), args.changed):
        print(f'    "{name}",  # {why}')


if __name__ == "__main__":
    main()
