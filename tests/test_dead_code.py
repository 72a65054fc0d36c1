"""No dead definitions in the package: every top-level function or class
must have a caller in production code — the package, bench.py,
__spark_entry__.py, perfbench/ and tools/. Tests do not count: a
definition only tests call is a second path the queries never run.

References are resolved by ``tools/resolver.py`` (the resolver
``tools/rotate_sweep.py`` digests queries with). A definition's uses
inside its own statement do not count.

``@query`` functions are exempt: the decorator registers them, and the
registry is their caller. The test-support packages (``testing/``,
``plans/``) are exempt as a whole, and their uses are not production
callers. Stdlib-only (ast), so it runs where no dead-code linter is
installed.
"""

from __future__ import annotations

import os
import shutil

from tools.resolver import DEFS, PACKAGE, REPO, Package, parse, py_files
from tools.resolver import query_name, references

TEST_SUPPORT = (f"{PACKAGE}.testing", f"{PACKAGE}.plans")
SCRIPTS = ["bench.py", "__spark_entry__.py", "perfbench", "tools"]


def _is_test_support(module: str) -> bool:
    return any(module == p or module.startswith(p + ".") for p in TEST_SUPPORT)


def dead_definitions(root: str = REPO) -> list[str]:
    """``path: name`` of each top-level function or class under ``root``
    that no production code references."""
    pkg = Package(root)
    scripts = [
        parse(path, root)
        for p in SCRIPTS
        for path in py_files(os.path.join(root, p))
    ]
    refs = set()
    for src in list(pkg.sources.values()) + scripts:
        if not _is_test_support(src.module):
            refs |= {used for user, used in references(src, pkg) if user != used}
    return [
        f"{os.path.relpath(pkg.sources[m].path, root)}: {name}"
        for (m, name), nodes in sorted(pkg.defs.items())
        if any(isinstance(n, DEFS) for n in nodes)
        and not _is_test_support(m)
        and not any(query_name(n) is not None for n in nodes)
        and not name.startswith("__")
        and (m, name) not in refs
    ]


def test_every_top_level_definition_is_referenced():
    dead = dead_definitions()
    assert not dead, "definitions with no production caller:\n" + "\n".join(dead)


def test_gate_reports_a_synthetic_unreferenced_function(tmp_path):
    """The gate still sees dead code: a function nothing calls, added to
    a copy of the tree, is the one definition it reports."""
    ignore = shutil.ignore_patterns("__pycache__")
    for p in [PACKAGE] + SCRIPTS:
        src = os.path.join(REPO, p)
        if os.path.isdir(src):
            shutil.copytree(src, tmp_path / p, ignore=ignore)
        else:
            shutil.copy(src, tmp_path / p)
    target = tmp_path / PACKAGE / "operators" / "cooccur.py"
    target.write_text(
        target.read_text() + "\n\ndef _never_called(df):\n    return df\n"
    )
    assert dead_definitions(str(tmp_path)) == [
        f"{PACKAGE}/operators/cooccur.py: _never_called"
    ]
