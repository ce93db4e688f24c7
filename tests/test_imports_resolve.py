"""Every import of a repo-local module resolves, lazy ones included.

A lazy ``import`` inside a function fails only when that function runs,
so deleting a module can leave a script that breaks on first use while
every other test passes. This walks every ``import`` / ``from … import``
in the root scripts, ``jobs/``, ``aisdb_spark/``, ``perfbench/`` and
``tests/`` (function bodies too) and checks each one statically. Every
top-level name must resolve with ``importlib.util.find_spec`` (a deleted
local module is no longer on disk, so it resolves nowhere). Under a
top-level name that lives in this repo, the whole module must resolve,
and a name taken ``from`` it must be a submodule or bound at the
module's top level. No module is executed beyond its packages'
``__init__`` files.
"""

from __future__ import annotations

import ast
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("jobs", "aisdb_spark", "perfbench", "tests")
SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources() -> list[str]:
    out = [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")]
    for d in DIRS:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _bound_names(origin: str) -> set[str] | None:
    """Names bound at the top level of a module's source, None when any
    name may be (a star import or a module ``__getattr__``)."""
    with open(origin) as f:
        tree = ast.parse(f.read(), origin)
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, SCOPES):
                names.add(node.name)
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(a.asname or a.name.split(".")[0] for a in node.names)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                for t in targets:
                    names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            for field in ("body", "orelse", "finalbody", "handlers"):
                visit(getattr(node, field, None) or [])

    visit(tree.body)
    return None if {"*", "__getattr__"} & names else names


def _is_local(spec) -> bool:
    places = [spec.origin or "", *(spec.submodule_search_locations or [])]
    return any(p.startswith(ROOT + os.sep) for p in places)


def _unresolved(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            wanted = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):  # the repo has no relative imports
            wanted = [(node.module, a.name) for a in node.names]
        else:
            continue
        for mod, name in wanted:
            where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            top = importlib.util.find_spec(mod.split(".")[0])
            if top is not None and not _is_local(top):
                continue
            spec = top and importlib.util.find_spec(mod)
            if spec is None:
                bad.append(f"{where} {mod}")
            elif name not in (None, "*"):
                is_pkg = spec.submodule_search_locations is not None
                if is_pkg and importlib.util.find_spec(f"{mod}.{name}"):
                    continue
                origin = spec.origin or ""
                bound = _bound_names(origin) if origin.endswith(".py") else set()
                if bound is not None and name not in bound:
                    bad.append(f"{where} {mod}.{name}")
    return bad


def test_every_local_import_resolves(monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    files = _sources()
    bad = [b for path in files for b in _unresolved(path)]
    assert len(files) > 50
    assert not bad, "unresolved local imports:\n" + "\n".join(bad)
