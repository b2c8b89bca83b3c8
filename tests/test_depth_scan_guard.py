"""The ClickHouse front end scans bracket depth through one set of helpers.

``dialect.py`` finds a group's end, a clause's end and the depth-0
separators with ``_top_level``, ``_clause_end``, ``_group_end`` and
``_split_top``. A loop that compares tokens or characters to both ``(`` and
``)`` (or ``[`` and ``]``) is a hand-written depth counter, and such copies
drift apart: one ANY JOIN copy lost ``FINAL`` handling, and the DDL
scanners counted parentheses and commas inside string literals. This scans
``dialect.py``, ``ddl.py`` and ``deploy.py`` with ``ast`` and fails on any
such loop outside the helpers.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / (
    "python_cdc_postgres_to_clickhouse_spark"
)
MODULES = ("dialect.py", "ddl.py", "deploy.py")
HELPERS = {"_top_level", "_clause_end", "_group_end", "_split_top"}
PAIRS = (("(", ")"), ("[", "]"))
LOOPS = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp,
         ast.GeneratorExp)
SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _compared(loop: ast.AST) -> set[str]:
    """Bracket characters compared in ``loop``'s own body (nested loops and
    functions are scanned on their own)."""
    found: set[str] = set()
    stack = list(ast.iter_child_nodes(loop))
    while stack:
        node = stack.pop()
        if isinstance(node, LOOPS + SCOPES):
            continue
        if isinstance(node, ast.Compare):
            found |= {
                c.value for c in ast.walk(node)
                if isinstance(c, ast.Constant) and c.value in ("(", ")", "[", "]")
            }
        stack.extend(ast.iter_child_nodes(node))
    return found


def _depth_loops(source: str) -> list[str]:
    """``function:line`` of every depth-counting loop outside the helpers."""
    found: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            elif isinstance(child, LOOPS) and fn not in HELPERS:
                seen = _compared(child)
                if any(o in seen and c in seen for o, c in PAIRS):
                    found.append(f"{fn}:{child.lineno}")
            visit(child, name)

    visit(ast.parse(source), "<module>")
    return found


@pytest.mark.parametrize("module", MODULES)
def test_front_end_has_no_hand_written_depth_loop(module):
    assert _depth_loops((PACKAGE / module).read_text()) == []


def test_guard_flags_each_depth_counter_form():
    src = (
        "def count(toks):\n"
        "    depth = 0\n"
        "    for t in toks:\n"
        "        if t == '(':\n"
        "            depth += 1\n"
        "        elif t == ')':\n"
        "            depth -= 1\n"
        "def chars(s):\n"
        "    i = 0\n"
        "    while i < len(s) and s[i] not in ('[', ']'):\n"
        "        i += 1\n"
        "def nested(toks):\n"
        "    return [t for t in toks if t == '(' or t == ')']\n"
        "def shape(body):\n"
        "    return body[0] == '(' and body[-1] == ')'\n"
        "def one_kind(toks):\n"
        "    return [i for i, t in enumerate(toks) if t == '(']\n"
        "def _group_end(toks, i):\n"
        "    for t in toks:\n"
        "        if t == '(' or t == ')':\n"
        "            pass\n"
    )
    assert _depth_loops(src) == ["count:3", "chars:10", "nested:13"]
