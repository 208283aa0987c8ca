"""Every ``klog_spark`` import in the product, tools and bench scripts
resolves, function-local ones included, and is used; every module-level
name in ``entry_queries`` is reachable from a row or a script; only
``Pipeline`` (and the incremental and streaming writers) parses input.

Rows import their operators function-locally, and most rows, ``tools/``
and ``bench*.py`` never run under pytest, so a removed module or name would
otherwise fail only when its row runs or its script starts. Parses with
``ast`` and imports ``klog_spark`` modules; starts no Spark session."""

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


def _eq_attributes(path: Path) -> list[ast.Attribute]:
    """The ``eq.<name>`` nodes in ``path``, if it binds ``eq`` to
    ``klog_spark.entry_queries``."""
    if not any(alias.asname == "eq" and f"{module}.{alias.name}" == "klog_spark.entry_queries"
               for _, module, alias in _klog_imports(path)):
        return []
    return [node for node in ast.walk(_parse(path))
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
            and node.value.id == "eq"]


def _problems(path: Path) -> list[str]:
    where = path.relative_to(ROOT)
    problems = []
    for lineno, module, alias in _klog_imports(path):
        if module is None:
            missing = _missing(alias.name, [])
        else:
            missing = _missing(module, [alias.name])
        problems += [f"{where}:{lineno}: {m}" for m in missing]
    if eq_attributes := _eq_attributes(path):
        from klog_spark import entry_queries

        problems += [f"{where}:{node.lineno}: eq.{node.attr}" for node in eq_attributes
                     if not hasattr(entry_queries, node.attr)]
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


def _entry_queries_graph() -> dict[str, set[str]]:
    """Map each module-level name ``entry_queries.py`` binds (imports
    aside) to the module-level names its definition references."""
    tree = _parse(ROOT / "klog_spark" / "entry_queries.py")
    bound: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            bound[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        bound[n.id] = node
    return {name: {n.id for n in ast.walk(node)
                   if isinstance(n, ast.Name) and n.id in bound and n.id != name}
            for name, node in bound.items()}


def _entry_queries_roots() -> set[str]:
    """Names of ``entry_queries`` used outside it: ``eq.<name>`` where
    ``eq`` is the module, and ``from klog_spark.entry_queries import``."""
    users = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
             *sorted((ROOT / "tests").glob("*.py")), *sorted((ROOT / "tools").glob("*.py")),
             *sorted((ROOT / "perfbench").rglob("*.py"))]
    roots = set()
    for path in users:
        roots |= {alias.name for _, module, alias in _klog_imports(path)
                  if module == "klog_spark.entry_queries"}
        roots |= {node.attr for node in _eq_attributes(path)}
    return roots


def test_entry_queries_names_are_reachable():
    """Every module-level name in ``entry_queries.py`` is reachable from a
    driver row, an oracle or a test, tool or bench script that names it,
    so a cut that retires rows cannot leave their SQL helpers, constants or
    SQL behind."""
    graph = _entry_queries_graph()
    seen, todo = set(), [n for n in _entry_queries_roots() if n in graph]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += graph[name]
    assert len(graph) > 90
    assert sorted(set(graph) - seen) == []


def test_only_pipeline_parses():
    """``Pipeline`` is the one place that loads and parses input: no other
    ``klog_spark`` module calls ``parse_sequences`` or
    ``apply_validity_routing``, so the CLI, the SQL views and the
    ``entry_queries`` rows cannot fork a load path of their own again. ``checkpoint.py``
    (the incremental route-write) and ``streaming.py`` (the file-stream
    sink) parse the new input of their own runs."""
    allowed = {"pipeline.py", "checkpoint.py", "streaming.py"}
    calls = []
    for path in sorted((ROOT / "klog_spark").rglob("*.py")):
        if path.relative_to(ROOT / "klog_spark").as_posix() in allowed:
            continue
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if name in {"parse_sequences", "apply_validity_routing"}:
                    calls.append(f"{path.relative_to(ROOT)}:{node.lineno}: {name}")
    assert calls == []
