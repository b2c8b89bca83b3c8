"""No process-wide mutable state in the package.

A module-level container outlives every session and is shared by all of
them: what one session or deployment declares there leaks into the next
one, and a cached value can outlive the session it was built in. Per-session
state lives in ``session.state(spark)``; declarations travel as values.
This scans the top-level statements of every package module with ``ast``
and fails on a name bound to an empty ``{}``, ``[]``, ``set()`` or
``dict()`` or to a weak dictionary. The allowed ones are fixed at import
and hold no session's state.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / (
    "python_cdc_postgres_to_clickhouse_spark"
)
ALLOWED = {
    "registry.REGISTRY",  # the query declarations, filled at import
    "registry._FIXTURE_FP",  # fingerprints of read-only fixture files
}
WEAK = {"WeakKeyDictionary", "WeakValueDictionary"}


def _module_level(body: list[ast.stmt]):
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        yield node
        for name in ("body", "orelse", "finalbody", "handlers"):
            yield from _module_level(getattr(node, name, []))


def _is_shared_container(value: ast.AST | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.List):
        return not value.elts
    if isinstance(value, ast.Call):
        func = value.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        empty = not value.args and not value.keywords
        return (name in ("set", "dict") and empty) or name in WEAK
    return False


def _violations(source: str) -> list[str]:
    found = []
    for node in _module_level(ast.parse(source).body):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        if _is_shared_container(node.value):
            found += [t.id for t in targets if isinstance(t, ast.Name)]
    return found


def test_package_keeps_no_module_level_mutable_state():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        found |= {f"{module}.{name}" for name in _violations(path.read_text())}
    assert found - ALLOWED == set()


def test_guard_flags_each_forbidden_form():
    src = (
        "import weakref\n"
        "from weakref import WeakValueDictionary\n"
        "A = {}\n"
        "B: list[int] = []\n"
        "C = set()\n"
        "D = E = dict()\n"
        "F = weakref.WeakKeyDictionary()\n"
        "G = WeakValueDictionary({})\n"
        "if True:\n"
        "    H = {}\n"
        "OK1 = {'k': 1}\n"
        "OK2 = frozenset()\n"
        "OK3 = dict(a=1)\n"
        "def f():\n"
        "    local = {}\n"
        "class K:\n"
        "    attr = {}\n"
    )
    assert _violations(src) == ["A", "B", "C", "D", "E", "F", "G", "H"]
