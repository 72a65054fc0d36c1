"""Name resolution across the ``hadoop_trans_spark`` package, stdlib
ast only. The dead-code gate (tests/test_dead_code.py) and the sweep
digests (tools/rotate_sweep.py) share it.

A definition is a top-level function, class or module-level assignment
of a package module. A reference is a use of a name that resolves to the
module defining it: a bare name defined in the same module, a name bound
by ``import`` / ``from … import`` (absolute or relative, followed
through re-exports), or an attribute of a module alias
(``fs.data_files``). A file that names a package module in a dotted
string (perfbench/layers.py patches the modules it traces by name)
also references each definition of those modules that it names in a
string constant, or as an attribute of a variable named like the module
(``health.data_files``).
"""

from __future__ import annotations

import ast
import os
from collections.abc import Iterator
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hadoop_trans_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

Key = tuple[str, str]  # (module, top-level name)


def py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def query_name(node: ast.stmt) -> str | None:
    """The registered name of a ``@query("qNN_…", …)`` definition ("" if
    not a literal); None if ``node`` is not one."""
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "attr", getattr(fn, "id", None)) == "query":
            arg = dec.args[0] if isinstance(dec, ast.Call) and dec.args else None
            return arg.value if isinstance(arg, ast.Constant) else ""
    return None


def top_names(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines."""
    if isinstance(node, DEFS):
        return [node.name]
    if not isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        return []
    targets = getattr(node, "targets", [getattr(node, "target", None)])
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


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


def parse(path: str, root: str = REPO) -> Source:
    """``path`` parsed, named as a module relative to ``root``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    src = Source(path, ".".join(rel), path.endswith("__init__.py"), tree)
    _bind_imports(src)
    return src


class Package:
    """The package's modules, their top-level definitions, and name
    resolution across them."""

    def __init__(self, root: str = REPO) -> None:
        srcs = [parse(p, root) for p in py_files(os.path.join(root, PACKAGE))]
        self.sources = {s.module: s for s in srcs}
        self.modules = set(self.sources)
        # every statement defining a name, in source order
        self.defs: dict[Key, list[ast.stmt]] = {}
        for s in self.sources.values():
            for node in s.tree.body:
                for name in top_names(node):
                    self.defs.setdefault((s.module, name), []).append(node)

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

    def resolve(self, module: str, name: str) -> Key | None:
        """The definition ``module.name`` denotes; None if none."""
        hit = self.lookup(module, name)
        return hit[1] if hit and hit[0] == "def" else None


def _attr_chain(node: ast.Attribute) -> list[str] | None:
    """``a.b.c`` as ["a", "b", "c"]; None when the base is not a name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id] + parts[::-1]


def _owners(src: Source) -> dict[int, list[Key]]:
    """id(node) -> the definitions whose top-level statement holds it."""
    owner = {}
    for top in src.tree.body:
        keys = [(src.module, name) for name in top_names(top)]
        if keys:
            for node in ast.walk(top):
                owner[id(node)] = keys
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


def references(src: Source, pkg: Package) -> Iterator[tuple[Key | None, Key]]:
    """(user, used) for each use of a package definition in the file:
    ``user`` is a package definition whose statement holds the use
    (None outside one, or outside the package)."""
    in_pkg = src.module in pkg.sources
    owner = _owners(src) if in_pkg else {}
    named = _named_modules(src, pkg)

    def uses(node: ast.AST) -> Iterator[Key | None]:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if in_pkg and (src.module, node.id) in pkg.defs:
                yield src.module, node.id
            elif node.id in src.bindings:
                hit = pkg.target(src.bindings[node.id])
                yield hit[1] if hit and hit[0] == "def" else None
        elif isinstance(node, ast.Attribute):
            base = getattr(node.value, "id", None)
            for m in named:
                if m.rsplit(".", 1)[-1] == base:
                    yield pkg.resolve(m, node.attr)
            chain = _attr_chain(node)
            if not chain or chain[0] not in src.bindings:
                return
            hit = pkg.target(src.bindings[chain[0]])
            for attr in chain[1:]:
                if not hit or hit[0] != "module":
                    break
                hit = pkg.lookup(hit[1], attr)
            yield hit[1] if hit and hit[0] == "def" else None
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for m in named:
                yield pkg.resolve(m, node.value)

    for node in ast.walk(src.tree):
        for used in filter(None, uses(node)):
            for user in owner.get(id(node), [None]):
                yield user, used
