"""No dead definitions in the package: every top-level function or class
must be referenced somewhere in the code that runs it — the package,
its tests and tools, bench.py, __spark_entry__.py and perfbench/.

A reference is a Name, an Attribute or an import alias; string
constants do not count. ``@query`` functions are exempt: the decorator
registers them, and the registry is their caller. Stdlib-only (ast), so
it runs where no dead-code linter is installed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hadoop_trans_spark")
SOURCES = [
    PACKAGE,
    os.path.join(REPO, "tests"),
    os.path.join(REPO, "tools"),
    os.path.join(REPO, "perfbench"),
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
]


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _is_query(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "query":
            return True
    return False


def _definitions() -> dict[str, str]:
    """Top-level def/class name -> the file defining it."""
    defs = {}
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _is_query(node)
                and not node.name.startswith("__")
            ):
                defs[node.name] = os.path.relpath(path, REPO)
    return defs


def _references() -> set[str]:
    names = set()
    for src in SOURCES:
        for path in _py_files(src):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_top_level_definition_is_referenced():
    refs = _references()
    dead = sorted(
        f"{path}: {name}"
        for name, path in _definitions().items()
        if name not in refs
    )
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
