"""Sink state goes through the Hadoop FileSystem API, never the local one.

A local-filesystem call on a state path breaks the moment the state dir is
a ``file://`` URI or a remote store: ``os.rename`` raises on a URI, and
``os.makedirs`` creates a stray ``./file:/...`` directory under the working
directory. This scans ``streaming/*.py`` for ``shutil`` imports, ``os``
filesystem calls and the builtin ``open``. ``filestream.py`` is exempt: it
is the broker-less stand-in that writes source files to a local directory.
``os.path.join`` is plain string work and stays allowed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

STREAMING = Path(__file__).resolve().parent.parent / (
    "python_cdc_postgres_to_clickhouse_spark/streaming"
)
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
