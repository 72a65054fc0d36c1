"""No dead definitions in the package: every top-level function or class
must have a caller in production code — the package, bench.py,
__spark_entry__.py, perfbench/ and tools/. Tests do not count: a
definition only tests call is a second path the queries never run.

A reference is a use of a name that resolves to the module defining it:
a bare name defined in the same module, a name bound by ``import`` /
``from … import`` (absolute or relative, followed through re-exports),
or an attribute of a module alias (``fs.data_files``). A definition's
uses inside its own body do not count. A production file that names a
package module in a dotted string (perfbench/layers.py imports the
modules it traces by name and patches them with ``getattr``) also
references each definition of those modules that it names in a string
constant, or as an attribute of a variable named like the module
(``health.data_files``).

``@query`` functions are exempt: the decorator registers them, and the
registry is their caller. The test-support packages (``testing/``,
``plans/``) are exempt as a whole, and their uses are not production
callers. Stdlib-only (ast), so it runs where no dead-code linter is
installed.
"""

from __future__ import annotations

import ast
import os
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hadoop_trans_spark"
TEST_SUPPORT = (f"{PACKAGE}.testing", f"{PACKAGE}.plans")
SCRIPTS = ["bench.py", "__spark_entry__.py", "perfbench", "tools"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _is_query(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "query":
            return True
    return False


def _is_test_support(module: str) -> bool:
    return any(module == p or module.startswith(p + ".") for p in TEST_SUPPORT)


@dataclass
class Source:
    """One parsed file: its module name, whether it is a package
    (``__init__``), and what each imported name is bound to —
    ``("module", dotted)`` for ``import``, ``("from", (module, name))``
    for ``from … import``."""

    path: str
    module: str
    is_pkg: bool
    tree: ast.Module
    bindings: dict[str, tuple] = field(default_factory=dict)


def _import_base(src: Source, node: ast.ImportFrom) -> str:
    if node.level == 0:
        return node.module
    parts = src.module.split(".")
    if not src.is_pkg:
        parts = parts[:-1]
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def _bind_imports(src: Source) -> None:
    """Every import in the file, wherever it sits (function-local imports
    included), binds its local name."""
    for node in ast.walk(src.tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    src.bindings[a.asname] = ("module", a.name)
                else:
                    head = a.name.split(".")[0]
                    src.bindings[head] = ("module", head)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(src, node)
            for a in node.names:
                src.bindings[a.asname or a.name] = ("from", (base, a.name))


def _parse(path: str) -> Source:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    src = Source(path, _module_name(path), path.endswith("__init__.py"), tree)
    _bind_imports(src)
    return src


class Package:
    """The package's modules, their top-level definitions, and name
    resolution across them."""

    def __init__(self) -> None:
        self.sources = {
            s.module: s
            for s in map(_parse, _py_files(os.path.join(REPO, PACKAGE)))
        }
        self.modules = set(self.sources)
        self.defs: dict[tuple[str, str], ast.AST] = {}
        for s in self.sources.values():
            for node in s.tree.body:
                if isinstance(node, DEFS):
                    self.defs[(s.module, node.name)] = node

    def lookup(self, module: str, name: str, seen=()) -> tuple | None:
        """What ``module.name`` denotes, as Python's import system finds
        it: ``("def", (module, name))`` for a package definition (after
        re-exports), ``("module", dotted)`` for a package module, None
        otherwise. A name the module binds wins over a submodule of the
        same name (``pipelines.migrate`` is the re-exported function)."""
        if (module, name) in self.defs:
            return "def", (module, name)
        src = self.sources.get(module)
        bound = src.bindings.get(name) if src else None
        if bound and (module, name) not in seen:
            return self.target(bound, seen + ((module, name),))
        if f"{module}.{name}" in self.modules:
            return "module", f"{module}.{name}"
        return None

    def target(self, bound: tuple, seen=()) -> tuple | None:
        """What an import binding denotes (see `lookup`)."""
        kind, what = bound
        if kind == "from":
            return self.lookup(*what, seen=seen)
        return ("module", what) if what in self.modules else None

    def resolve(self, module: str, name: str) -> tuple[str, str] | None:
        """The definition ``module.name`` denotes; None if none."""
        hit = self.lookup(module, name)
        return hit[1] if hit and hit[0] == "def" else None

    def checked(self) -> list[tuple[str, str]]:
        """Definitions that need a production caller."""
        return sorted(
            key
            for key, node in self.defs.items()
            if not _is_test_support(key[0])
            and not _is_query(node)
            and not key[1].startswith("__")
        )


def _attr_chain(node: ast.Attribute) -> list[str] | None:
    """``a.b.c`` as ["a", "b", "c"]; None when the base is not a name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id] + parts[::-1]


def _owners(src: Source) -> dict[int, str]:
    """id(node) -> name of the top-level definition whose body holds it."""
    owner = {}
    for top in src.tree.body:
        if isinstance(top, DEFS):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    return owner


def _named_modules(src: Source, pkg: Package) -> set[str]:
    """Package modules the file names in a dotted string constant."""
    named = set()
    for node in ast.walk(src.tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            s = node.value.strip(".")
            if "." in s:
                named |= {
                    m for m in pkg.modules if m == s or m.endswith("." + s)
                }
    return named


def _references(src: Source, pkg: Package) -> set[tuple[str, str]]:
    """The package definitions this file uses, minus each definition's
    uses of itself."""
    in_pkg = src.module in pkg.sources
    owner = _owners(src) if in_pkg else {}
    named = _named_modules(src, pkg)
    refs = set()

    def add(hit, node) -> None:
        if hit and not (hit[0] == src.module and owner.get(id(node)) == hit[1]):
            refs.add(hit)

    for node in ast.walk(src.tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if in_pkg and (src.module, node.id) in pkg.defs:
                add((src.module, node.id), node)
                continue
            bound = src.bindings.get(node.id)
            hit = pkg.target(bound) if bound else None
            if hit and hit[0] == "def":
                add(hit[1], node)
        elif isinstance(node, ast.Attribute):
            base = getattr(node.value, "id", None)
            for m in named:
                if m.rsplit(".", 1)[-1] == base:
                    add(pkg.resolve(m, node.attr), node)
            chain = _attr_chain(node)
            if not chain or chain[0] not in src.bindings:
                continue
            hit = pkg.target(src.bindings[chain[0]])
            for attr in chain[1:]:
                if not hit or hit[0] != "module":
                    break
                hit = pkg.lookup(hit[1], attr)
            if hit and hit[0] == "def":
                add(hit[1], node)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for m in named:
                add(pkg.resolve(m, node.value), node)
    return refs


def _production() -> tuple[Package, set[tuple[str, str]]]:
    pkg = Package()
    scripts = [
        _parse(path)
        for p in SCRIPTS
        for path in _py_files(os.path.join(REPO, p))
    ]
    refs = set()
    for src in list(pkg.sources.values()) + scripts:
        if not _is_test_support(src.module):
            refs |= _references(src, pkg)
    return pkg, refs


def test_every_top_level_definition_is_referenced():
    pkg, refs = _production()
    dead = [
        f"{os.path.relpath(pkg.sources[m].path, REPO)}: {name}"
        for m, name in pkg.checked()
        if (m, name) not in refs
    ]
    assert not dead, "definitions with no production caller:\n" + "\n".join(dead)
