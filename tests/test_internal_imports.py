"""Every internal import resolves.

``bench.py``, the CLI and the workload registry reach most operators
through imports inside function bodies, so a dangling one fails only
when that code path runs.  This walks the AST of every ``.py`` file in
the package, ``bench.py``, ``__spark_entry__.py``, ``perfbench/``,
``tools/`` and ``tests/`` — function bodies included — and checks that
each ``rainforest_spark.*`` module exists and that each name imported
from it is defined there.

It also keeps the paper engine a closed core: the research database,
training-set preparation and the RF model, the polar→grid product
chain and its real-time stream import nothing beyond a short
allow-list, so the rest of the package stays a set of leaves.
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
    files += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    files.append(os.path.join(REPO, "bench.py"))
    files.append(os.path.join(REPO, "__spark_entry__.py"))
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


#: the engine modules: session, catalog, sources, grid (less the JPEG
#: and WAV codecs), ml and the RT stream
ENGINE = {f"{PKG}.{m}" for m in (
    "session", "catalog",
    "sources.polar_ingest", "sources.readers", "sources.writers",
    "ml.rf", "ml.dataset", "ml.intercomparison", "streaming.rt")} | {
    f"{PKG}.grid.{os.path.basename(p)[:-3]}"
    for p in glob.glob(os.path.join(REPO, PKG, "grid", "*.py"))
    if os.path.basename(p) not in ("__init__.py", "jpeg.py", "wav.py")}

#: what the engine may import besides itself and package ``__init__``s
ENGINE_DEPS = {f"{PKG}.{m}" for m in (
    "functions.db", "functions.physics",
    "operators.filters", "operators.scores")}


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def test_engine_import_closure():
    """Every module the engine imports, transitively and from function
    bodies too, is an engine module, an allowed dependency or a
    package ``__init__``."""
    seen, todo = set(), sorted(ENGINE)
    while todo:
        module = todo.pop()
        if module in seen:
            continue
        seen.add(module)
        parts = module.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        path = _module_file(module)
        for _, mod, name in _internal_imports(path) if path else ():
            todo.append(mod)
            if name and _module_file(f"{mod}.{name}"):
                todo.append(f"{mod}.{name}")
    outside = sorted(
        m for m in seen - ENGINE - ENGINE_DEPS
        if not (_module_file(m) or "").endswith("__init__.py"))
    assert not outside, f"engine imports outside its core: {outside}"
