"""Every ``klog_spark`` import in the product, tools and bench scripts
resolves, function-local ones included.

Datapipe imports are function-local, and most rows, ``tools/`` and
``bench*.py`` never run under pytest, so a removed module or name would
otherwise fail only when its row runs. Parses with ``ast`` and imports
``klog_spark`` modules; starts no Spark session."""

from __future__ import annotations

import ast
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


def _problems(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    where = path.relative_to(ROOT)
    package = ".".join(where.parts[:-1])  # where a relative import starts
    problems, eq_bound = [], False
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "klog_spark":
                    problems += [f"{where}:{node.lineno}: {m}" for m in _missing(alias.name, [])]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name("." * node.level + module, package)
            if module.split(".")[0] != "klog_spark":
                continue
            names = [a.name for a in node.names]
            problems += [f"{where}:{node.lineno}: {m}" for m in _missing(module, names)]
            eq_bound |= any(
                a.asname == "eq" and f"{module}.{a.name}" == "klog_spark.entry_queries"
                for a in node.names
            )
    if eq_bound:
        from klog_spark import entry_queries

        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                    and node.value.id == "eq" and not hasattr(entry_queries, node.attr)):
                problems.append(f"{where}:{node.lineno}: eq.{node.attr}")
    return problems


def test_klog_spark_imports_resolve():
    assert len(SOURCES) > 40
    problems = [p for path in SOURCES for p in _problems(path)]
    assert problems == []
