"""Every top-level function and class in the package is reached by a
program, not only by tests.

The scan parses the package, ``scripts/``, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/`` with ``ast`` and looks for a
reference to each top-level definition. A reference counts only where
the name can resolve to the defining module:

- inside that module, outside the definition's own body;
- as ``from <module> import <name>``, or as ``<name>`` in a file that did so;
- as ``<alias>.<name>``, where ``<alias>`` was bound to the module by an
  import;
- as ``<expr>.<name>`` of any other form, in a file that imports the module.

So a same-named function elsewhere, or a mention in a docstring, does not
keep a function alive. Registered query keys (``@q(...)``) and the entry
modules (``__main__``, ``worker_daemon``) are exempt. A function that only
tests call belongs in ``tests/`` as a reference or fixture, or goes.

The same pass fails on a top-level import a package module never uses.
Only imports made for their side effect or to re-export are exempt: the
package ``__init__``s and the names in ``REEXPORTS``.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_data_processor_spark"
ENTRY_MODULES = {f"{PKG}.__main__", f"{PKG}.worker_daemon"}
# registry dicts re-exported by ``queries``; query modules imported to
# register their ``@q`` keys
REEXPORTS = {
    f"{PKG}.queries": {"QUERIES", "ORACLE"},
    f"{PKG}.queries_r8": {"_ext3"},
    f"{PKG}.queries_r9": {"_r8"},
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _program_files() -> list[str]:
    out = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for top in (PKG, "scripts", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _is_package(module: str) -> bool:
    return os.path.isdir(os.path.join(REPO, *module.split(".")))


def _absolute(module: str, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    parts = module.split(".")
    if not _is_package(module):
        parts = parts[:-1]
    base = parts[: len(parts) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _dotted(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return f"{head}.{node.attr}" if head else None
    return None


class _File:
    """Imports and name uses of one program file."""

    def __init__(self, path: str, modules: set[str]):
        self.module = _module_name(path)
        self.tree = ast.parse(open(path, encoding="utf-8").read(), path)
        self.aliases: dict[str, str] = {}  # local name -> module it binds
        self.names: dict[str, set[str]] = {}  # module -> names imported from it
        self.seen: set[str] = {self.module}  # modules this file imports
        self.uses: dict[str, list[ast.AST]] = {}  # name -> Name/Attribute nodes
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Name):
                self.uses.setdefault(node.id, []).append(node)
            elif isinstance(node, ast.Attribute):
                self.uses.setdefault(node.attr, []).append(node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    self.seen.add(a.name)
                    if a.asname:
                        self.aliases[a.asname] = a.name
                    else:
                        self.aliases[a.name.split(".")[0]] = a.name.split(".")[0]
            elif isinstance(node, ast.ImportFrom):
                src = _absolute(self.module, node)
                self.seen.add(src)
                for a in node.names:
                    sub = f"{src}.{a.name}"
                    if sub in modules:
                        self.seen.add(sub)
                        self.aliases[a.asname or a.name] = sub
                    else:
                        self.names.setdefault(src, set()).add(a.name)

    def references(self, module: str, name: str, skip: ast.AST | None) -> bool:
        imported = name in self.names.get(module, ()) or (
            "*" in self.names.get(module, ())
        )
        if imported and skip is None:
            return True
        if module not in self.seen:
            return False
        uses = self.uses.get(name, [])
        if skip is not None and uses:
            inside = set(map(id, ast.walk(skip)))
            uses = [n for n in uses if id(n) not in inside]
        for node in uses:
            if isinstance(node, ast.Name):
                if module == self.module or imported:
                    return True
            else:
                head = _dotted(node.value)
                bound = self.aliases.get(head.split(".")[0]) if head else None
                if bound is None:
                    return True
                if ".".join([bound, *head.split(".")[1:]]) == module:
                    return True
        return False


def _registered(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", ()):
        call = d.func if isinstance(d, ast.Call) else d
        if (_dotted(call) or "").split(".")[-1] == "q":
            return True
    return False


def test_every_package_definition_is_reached_by_a_program():
    paths = _program_files()
    modules = {_module_name(p) for p in paths}
    files = [_File(p, modules) for p in paths]
    unreached = []
    for f in files:
        if not f.module.startswith(PKG) or f.module in ENTRY_MODULES:
            continue
        for node in f.tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _registered(node):
                continue
            if not any(
                g.references(f.module, node.name, node if g is f else None)
                for g in files
            ):
                unreached.append(f"{f.module}.{node.name}")
    assert unreached == [], (
        "top-level definitions no program reaches (move each into tests/ "
        f"as a reference or fixture, or delete it): {unreached}"
    )


def test_every_package_import_is_used():
    paths = _program_files()
    modules = {_module_name(p) for p in paths}
    unused = []
    for path in paths:
        f = _File(path, modules)
        if not f.module.startswith(PKG) or path.endswith("__init__.py"):
            continue
        for node in f.tree.body:
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            for name in bound:
                if name in REEXPORTS.get(f.module, ()):
                    continue
                if not any(isinstance(n, ast.Name) for n in f.uses.get(name, ())):
                    unused.append(f"{f.module}: {name}")
    assert unused == [], f"top-level imports the module never uses: {unused}"
