"""Sink state goes through the Hadoop FileSystem API, never the local one.

A local-filesystem call on a state path breaks the moment the state dir is
a ``file://`` URI or a remote store: ``os.rename`` raises on a URI, and
``os.makedirs`` creates a stray ``./file:/...`` directory under the working
directory. This scans ``streaming/*.py`` for ``shutil`` imports, ``os``
filesystem calls and the builtin ``open``. ``filestream.py`` is exempt: it
is the broker-less stand-in that writes source files to a local directory.
``os.path.join`` is plain string work and stays allowed.

It also keeps the Parquet ``mergeSchema`` option out of ``streaming/``: that
option launches a Spark job over every file footer before each read. The
bucketed state records its own schema, and only ``BucketedState.read``'s
fallback for a state dir without a record may still infer it.

Every foreachBatch stream of the package starts through
``parts.start_foreach_batch``, which persists each micro-batch while the
sink runs; a ``writeStream.foreachBatch`` built anywhere else would re-run
the source scan once per action on the batch.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "python_cdc_postgres_to_clickhouse_spark"
STREAMING = PACKAGE / "streaming"
EXEMPT = {"filestream.py"}
OS_CALLS = {
    "rename", "replace", "renames", "makedirs", "mkdir", "listdir", "scandir",
    "walk", "remove", "unlink", "rmdir", "removedirs", "stat",
}
OS_PATH_CALLS = {"isdir", "isfile", "exists", "lexists", "getsize", "getmtime"}


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return node.id if isinstance(node, ast.Name) else "?"


def _violations(source: str) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found += [f"import {a.name}" for a in node.names if a.name == "shutil"]
        elif isinstance(node, ast.ImportFrom) and node.module == "shutil":
            found.append("from shutil import ...")
        elif isinstance(node, ast.Call):
            name = _dotted(node.func)
            mod, _, attr = name.rpartition(".")
            if (
                name == "open"
                or (mod == "os" and attr in OS_CALLS)
                or (mod == "os.path" and attr in OS_PATH_CALLS)
            ):
                found.append(f"{name}() at line {node.lineno}")
    return found


@pytest.mark.parametrize(
    "module",
    sorted(p.name for p in STREAMING.glob("*.py") if p.name not in EXEMPT),
)
def test_streaming_module_uses_no_local_filesystem_calls(module):
    assert _violations((STREAMING / module).read_text()) == []


def test_guard_flags_each_forbidden_form():
    src = (
        "import os, shutil\n"
        "from shutil import rmtree\n"
        "os.rename('a', 'b')\n"
        "os.path.isdir('a')\n"
        "open('a')\n"
        "os.path.join('a', 'b')\n"
        "os.getpid()\n"
    )
    assert _violations(src) == [
        "import shutil",
        "from shutil import ...",
        "os.rename() at line 3",
        "os.path.isdir() at line 4",
        "open() at line 5",
    ]


def _merge_schema_uses(source: str) -> list[str]:
    """The enclosing ``Class.function`` of each ``mergeSchema`` option: a
    string literal naming it (option key, conf key, dict key) or a
    keyword argument."""
    found = []

    def named(node: ast.AST) -> bool:
        if isinstance(node, ast.keyword):
            return (node.arg or "").lower() == "mergeschema"
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            v = node.value.lower()
            return v == "mergeschema" or v.endswith(".mergeschema")
        return False

    def visit(node: ast.AST, scope: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = [*scope, child.name]
            elif named(child):
                found.append(".".join(scope) or "<module>")
            visit(child, inner)

    visit(ast.parse(source), [])
    return found


def test_merge_schema_only_in_the_no_record_fallback():
    uses = {
        p.name: u for p in sorted(STREAMING.glob("*.py"))
        if (u := _merge_schema_uses(p.read_text()))
    }
    assert uses == {"buckets.py": ["BucketedState.read"]}


def test_merge_schema_guard_flags_each_form():
    src = (
        '"""Prose about ``mergeSchema`` is fine."""\n'
        "def f(spark, p):\n"
        "    spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "class C:\n"
        "    def g(self, p):\n"
        "        self.spark.read.parquet(p, mergeSchema=True)\n"
        "        self.spark.conf.set('spark.sql.parquet.mergeSchema', 'true')\n"
        "        self.spark.read.options(**{'MERGESCHEMA': 'true'}).parquet(p)\n"
    )
    assert _merge_schema_uses(src) == ["f", "C.g", "C.g", "C.g"]


def _foreach_batch_lines(source: str) -> list[int]:
    """The line of each ``.foreachBatch`` attribute: a stream started by
    hand."""
    return sorted(
        node.lineno for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute) and node.attr == "foreachBatch"
    )


def test_every_foreach_batch_stream_starts_in_parts():
    uses = {
        p.relative_to(PACKAGE).as_posix(): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _foreach_batch_lines(p.read_text()))
    }
    assert list(uses) == ["streaming/parts.py"] and len(uses["streaming/parts.py"]) == 1, uses


def test_foreach_batch_guard_flags_each_form():
    src = (
        '"""Prose about ``writeStream.foreachBatch`` is fine."""\n'
        "q = df.writeStream.foreachBatch(f).start()\n"
        "w = df.writeStream\n"
        "w.foreachBatch(f)\n"
    )
    assert _foreach_batch_lines(src) == [2, 4]
