"""One start site for every streaming run: across the package and
tools/, ``awaitTermination`` and a streaming writer's ``.start()``
appear only inside ``streaming.jobs.run_stream`` — the one place that
sets the availableNow trigger and checkpoint, pins the state
partitions and stops a run that outlives its timeout. A second start
site would skip at least one of those. Stdlib-only (ast), no Spark."""

from __future__ import annotations

import ast
import os

from tools.resolver import REPO, py_files

ROOTS = ["hadoop_trans_spark", "tools"]
START_SITE = (os.path.join("hadoop_trans_spark", "streaming", "jobs.py"), "run_stream")
# A ``.start()`` whose receiver chain names one of these is a streaming
# query start (regex matches and threads have a ``.start()`` too).
WRITER_ATTRS = {"writeStream", "trigger", "foreachBatch", "outputMode"}


def _chain_attrs(node: ast.AST) -> set[str]:
    """Attribute names along a method-call chain ``a.b(...).c.d(...)``."""
    names = set()
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _stream_starts(path: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every awaitTermination reference
    and streaming ``.start()`` call in one file."""
    tree = ast.parse(open(path).read(), filename=path)
    found = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) and node.attr == "awaitTermination":
            found.append((func, node.lineno))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "start"
            and _chain_attrs(node.func.value) & WRITER_ATTRS
        ):
            found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def _sites() -> dict[tuple[str, str], list[int]]:
    sites: dict[tuple[str, str], list[int]] = {}
    for root in ROOTS:
        for path in py_files(os.path.join(REPO, root)):
            rel = os.path.relpath(path, REPO)
            for func, line in _stream_starts(path):
                sites.setdefault((rel, func), []).append(line)
    return sites


def test_streaming_queries_start_only_in_run_stream():
    sites = _sites()
    assert set(sites) == {START_SITE}, (
        "streaming start outside run_stream (route it through "
        f"streaming.jobs.run_stream): {sites}"
    )
    # the one site both starts and awaits
    assert len(sites[START_SITE]) == 2

