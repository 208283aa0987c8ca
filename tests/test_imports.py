"""Every ``klog_spark`` import in the product, tools and bench scripts
resolves, function-local ones included, and is used.

Datapipe imports are function-local, and most rows, ``tools/`` and
``bench*.py`` never run under pytest, so a removed module or name would
otherwise fail only when its row runs. Parses with ``ast`` and imports
``klog_spark`` modules; starts no Spark session."""

from __future__ import annotations

import ast
import functools
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted((ROOT / "klog_spark").rglob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
]


def _missing(module: str, names: list[str]) -> list[str]:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return [module]
    out = []
    for name in names:
        if name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            out.append(f"{module}.{name}")
    return out


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _klog_imports(path: Path):
    """Yield ``(lineno, module, alias)`` for every name ``path`` imports
    from ``klog_spark``; ``module`` is the resolved module of a ``from``
    import and None for a plain ``import``."""
    package = ".".join(path.relative_to(ROOT).parts[:-1])  # where a relative import starts
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "klog_spark":
                    yield node.lineno, None, alias
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name("." * node.level + module, package)
            if module.split(".")[0] == "klog_spark":
                for alias in node.names:
                    yield node.lineno, module, alias


def _problems(path: Path) -> list[str]:
    where = path.relative_to(ROOT)
    problems, eq_bound = [], False
    for lineno, module, alias in _klog_imports(path):
        if module is None:
            missing = _missing(alias.name, [])
        else:
            missing = _missing(module, [alias.name])
            eq_bound |= (alias.asname == "eq"
                         and f"{module}.{alias.name}" == "klog_spark.entry_queries")
        problems += [f"{where}:{lineno}: {m}" for m in missing]
    if eq_bound:
        from klog_spark import entry_queries

        for node in ast.walk(_parse(path)):
            if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                    and node.value.id == "eq" and not hasattr(entry_queries, node.attr)):
                problems.append(f"{where}:{node.lineno}: eq.{node.attr}")
    return problems


def test_klog_spark_imports_resolve():
    assert len(SOURCES) > 40
    problems = [p for path in SOURCES for p in _problems(path)]
    assert problems == []


def test_klog_spark_imports_are_used():
    """Every name a file imports from ``klog_spark`` is referenced somewhere
    in that file (package ``__init__`` re-exports exempt), so a cut that
    deletes a caller cannot leave its import behind."""
    unused = []
    for path in SOURCES:
        if path.name == "__init__.py":
            continue
        used = {n.id for n in ast.walk(_parse(path)) if isinstance(n, ast.Name)}
        for lineno, _, alias in _klog_imports(path):
            if (alias.asname or alias.name.split(".")[0]) not in used:
                unused.append(f"{path.relative_to(ROOT)}:{lineno}: {alias.name}")
    assert unused == []
