"""Only ``aisdb_spark/streaming/fsio.py`` branches on the path kind.

Deciding "plain path → ``os``/``shutil``, URI → Hadoop ``FileSystem``"
outside ``fsio`` gives a second storage path per module, and one of the
two goes untested (tests run on plain paths, deployments on URIs). This
parses every module under ``aisdb_spark/`` and ``jobs/`` with ``ast``
(nothing is imported, no JVM starts) and fails on any module other than
``fsio`` that

- imports ``shutil``;
- calls ``has_scheme``;
- compares ``session_for(...)`` with None, directly or through a name
  bound to it in the same scope;
- calls ``os.path.isdir``, ``os.listdir`` or ``os.replace``.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FSIO = os.path.join("aisdb_spark", "streaming", "fsio.py")
BANNED_CALLS = {"os.path.isdir", "os.listdir", "os.replace"}
# (module, call): uses of a banned call on paths that are not tier storage
EXEMPT = {
    # drops zip/jar entries from the worker's sys.path
    (os.path.join("aisdb_spark", "worker_daemon.py"), "os.path.isdir"),
}
SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _calls(node: ast.AST, name: str) -> bool:
    return isinstance(node, ast.Call) and _dotted(node.func).split(".")[-1] == name


def _is_none(node: ast.AST) -> bool:
    return isinstance(node, ast.Constant) and node.value is None


def _scope_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside its nested functions and classes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def violations(path: str, rel: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bad = []
    for node in ast.walk(tree):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Import) and any(
            a.name.split(".")[0] == "shutil" for a in node.names
        ):
            bad.append(f"{where} imports shutil")
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.split(".")[0] == "shutil":
                bad.append(f"{where} imports shutil")
            for a in node.names:
                call = f"{node.module}.{a.name}"
                if call in BANNED_CALLS and (rel, call) not in EXEMPT:
                    bad.append(f"{where} imports {call}")
        elif isinstance(node, ast.Call):
            call = _dotted(node.func)
            if _calls(node, "has_scheme"):
                bad.append(f"{where} calls has_scheme")
            elif call in BANNED_CALLS and (rel, call) not in EXEMPT:
                bad.append(f"{where} calls {call}")
    for scope in ast.walk(tree):
        if not isinstance(scope, SCOPES):
            continue
        nodes = list(_scope_nodes(scope))
        sessions = {
            t.id
            for n in nodes
            if isinstance(n, ast.Assign) and _calls(n.value, "session_for")
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in nodes:
            if not isinstance(n, ast.Compare):
                continue
            sides = [n.left, *n.comparators]
            if any(map(_is_none, sides)) and any(
                _calls(s, "session_for")
                or (isinstance(s, ast.Name) and s.id in sessions)
                for s in sides
            ):
                bad.append(f"{rel}:{n.lineno} compares session_for(...) with None")
    return bad


def _modules() -> list[str]:
    out = []
    for d in ("aisdb_spark", "jobs"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def test_only_fsio_branches_on_path_kind():
    files = _modules()
    assert os.path.join(ROOT, FSIO) in files and len(files) > 30
    bad = [
        b
        for path in files
        if (rel := os.path.relpath(path, ROOT)) != FSIO
        for b in violations(path, rel)
    ]
    assert not bad, "path-kind branches outside fsio:\n" + "\n".join(bad)


def test_guard_catches_each_rule(tmp_path):
    """Each rule fires on a minimal module, and fsio's own idiom of
    passing ``session_for(path)`` straight through does not."""
    cases = {
        "import shutil\n": "imports shutil",
        "from shutil import rmtree\n": "imports shutil",
        "def f(p):\n    return fsio.has_scheme(p)\n": "calls has_scheme",
        "def f(p):\n    return os.listdir(p)\n": "calls os.listdir",
        "def f(p):\n    return os.path.isdir(p)\n": "calls os.path.isdir",
        "def f(a, b):\n    os.replace(a, b)\n": "calls os.replace",
        "def f(p):\n    return fsio.session_for(p) is None\n": "with None",
        "def f(p):\n    s = fsio.session_for(p)\n    if s is not None:\n"
        "        return 1\n": "with None",
        "def f(p):\n    return fsio.exists(fsio.session_for(p), p)\n": None,
        "def f(p):\n    s = g(p)\n    return s is None\n": None,
    }
    for i, (src, rule) in enumerate(cases.items()):
        path = tmp_path / f"m{i}.py"
        path.write_text(src)
        got = violations(str(path), path.name)
        if rule is None:
            assert got == [], (src, got)
        else:
            assert len(got) == 1 and rule in got[0], (src, got)
