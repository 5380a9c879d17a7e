"""Every internal import resolves.

``bench.py``, the CLI and the workload registry reach most operators
through imports inside function bodies, so a dangling one fails only
when that code path runs.  This walks the AST of every ``.py`` file in
the package, ``bench.py``, ``tools/`` and ``tests/`` — function bodies
included — and checks that each ``rainforest_spark.*`` module exists
and that each name imported from it is defined there.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "rainforest_spark"


def _sources() -> list[str]:
    files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(REPO, "tools", "**", "*.py"),
                       recursive=True)
    files += glob.glob(os.path.join(REPO, "tests", "*.py"))
    files.append(os.path.join(REPO, "bench.py"))
    return sorted(files)


def _internal_imports(path: str):
    """Yield ``(lineno, module, name_or_None)`` for every import of a
    ``rainforest_spark`` module in ``path``."""
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if mod == PKG or mod.startswith(PKG + "."):
                for a in node.names:
                    yield node.lineno, mod, a.name


def _defines(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    return importlib.util.find_spec(f"{module}.{name}") is not None


def test_internal_imports_resolve():
    bad = []
    for path in _sources():
        where = os.path.relpath(path, REPO)
        for lineno, module, name in _internal_imports(path):
            try:
                if name is None:
                    importlib.import_module(module)
                elif not _defines(module, name):
                    bad.append(f"{where}:{lineno}: {module} defines no "
                               f"{name!r}")
            except ImportError as exc:
                bad.append(f"{where}:{lineno}: {module}: {exc}")
    assert not bad, "\n".join(bad)


def test_walk_sees_lazy_imports():
    """The walk must reach imports inside function bodies, where bench
    and the CLI keep theirs."""
    cli = os.path.join(REPO, PKG, "cli.py")
    lazy = [m for _, m, _ in _internal_imports(cli)
            if m == f"{PKG}.grid.qpe"]
    assert lazy, "no function-body import of grid.qpe found in cli.py"
