"""Every ``klog_spark`` import in the product, tools and bench scripts
resolves, function-local ones included, and is used; every module-level
name in ``klog_spark`` is reachable from the product or a script; only
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


def _klog_imports(path: Path, nodes=None):
    """Yield ``(lineno, module, alias)`` for every name ``path`` imports
    from ``klog_spark`` (within ``nodes``, default the whole file);
    ``module`` is the resolved module of a ``from`` import and None for a
    plain ``import``."""
    package = ".".join(path.relative_to(ROOT).parts[:-1])  # where a relative import starts
    for node in (n for top in (nodes or [_parse(path)]) for n in ast.walk(top)):
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


@functools.cache
def _modules() -> dict[str, Path]:
    """Every ``klog_spark`` module by dotted name."""
    out = {}
    for path in sorted((ROOT / "klog_spark").rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return out


def _bindings(path: Path, nodes=None) -> dict[str, tuple[str, str | None]]:
    """Map each local name the ``klog_spark`` imports in ``nodes`` bind to
    ``(module, name)``; ``name`` is None where the binding is a module."""
    out = {}
    for _, module, alias in _klog_imports(path, nodes):
        if module is None:  # ``import klog_spark.x`` binds the package, ``... as y`` the module
            out[alias.asname or "klog_spark"] = (alias.name if alias.asname else "klog_spark", None)
        elif f"{module}.{alias.name}" in _modules():
            out[alias.asname or alias.name] = (f"{module}.{alias.name}", None)
        else:
            out[alias.asname or alias.name] = (module, alias.name)
    return out


def _references(node: ast.AST, bindings: dict[str, tuple[str, str | None]]):
    """Yield ``(lineno, module, name)`` for each ``klog_spark`` name
    ``node`` uses through ``bindings``: an imported name, or
    ``mod.name`` where ``mod`` is an imported module. Bare identifiers
    that no import binds are not matched."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id in bindings and bindings[n.id][1] is not None:
            yield n.lineno, *bindings[n.id]
        elif isinstance(n, ast.Attribute):
            chain, value = [n.attr], n.value
            while isinstance(value, ast.Attribute):
                chain, value = [value.attr, *chain], value.value
            if isinstance(value, ast.Name) and value.id in bindings and bindings[value.id][1] is None:
                module = bindings[value.id][0]
                while chain and f"{module}.{chain[0]}" in _modules():
                    module = f"{module}.{chain.pop(0)}"
                if chain:
                    yield n.lineno, module, chain[0]


def _problems(path: Path) -> list[str]:
    where = path.relative_to(ROOT)
    problems = []
    for lineno, module, alias in _klog_imports(path):
        if module is None:
            missing = _missing(alias.name, [])
        else:
            missing = _missing(module, [alias.name])
        problems += [f"{where}:{lineno}: {m}" for m in missing]
    attributes = {(lineno, module, name) for lineno, module, name in
                  _references(_parse(path), _bindings(path)) if module in _modules()}
    for lineno, module, name in sorted(attributes):
        problems += [f"{where}:{lineno}: {m}" for m in _missing(module, [name])]
    return problems


def test_klog_spark_imports_resolve():
    assert len(SOURCES) > 30
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


#: The product's entry points: the CLI, the query API, the SQL views and
#: the incremental route-write.
PRODUCT_ROOTS = (
    ("klog_spark.__main__", "main"),
    ("klog_spark.pipeline", "Pipeline"),
    ("klog_spark.sql", "register_views"),
    ("klog_spark.checkpoint", "run_incremental"),
)

#: Names kept with no caller in the product or a script, each for a reason.
KEPT_ROOTS = (
    ("klog_spark.oracle", "*"),  # the tests' reference implementation
    ("klog_spark.streaming", "read_sequence_stream"),  # the file-stream sink resume is to move onto
    ("klog_spark.streaming", "start_routed_sink"),  # the same sink's writer
    ("klog_spark.cachereg", "track"),  # the other half of perfbench's release_tracked
)

#: Scripts whose ``klog_spark`` uses are roots (tests are not).
SCRIPTS = [
    ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
    *sorted((ROOT / "tools").glob("*.py")), *sorted((ROOT / "perfbench").rglob("*.py")),
]


def _package_graph() -> tuple[dict[tuple[str, str], set[tuple[str, str]]], set[tuple[str, str]]]:
    """Map each ``(module, name)`` that a ``klog_spark`` module binds at
    module level to the ``(module, name)`` pairs its definition uses: names
    of its own module, and names reached through its imports, function-local
    ones included. Module-level import aliases are nodes too, with an edge
    to what they import, so a name re-exported through a module is
    followed. Returns the graph and the defined (non-import) names."""
    graph, defined = {}, set()
    for module, path in _modules().items():
        tree = _parse(path)
        imports = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))]
        top = _bindings(path, imports)
        local: dict[str, ast.AST] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                local[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for target in targets:
                    for n in ast.walk(target):
                        if isinstance(n, ast.Name):
                            local[n.id] = node
        for name, node in local.items():
            bindings = {**top, **_bindings(path, [node])}
            graph[module, name] = (
                {(m, n) for _, m, n in _references(node, bindings)}
                | {(module, n.id) for n in ast.walk(node)
                   if isinstance(n, ast.Name) and n.id in local and n.id != name}
            )
            defined.add((module, name))
        for alias, target in top.items():
            graph.setdefault((module, alias), set()).add(target)
    return graph, defined


def _script_roots() -> set[tuple[str, str]]:
    """The ``klog_spark`` names the driver contract, tools, bench and
    perfbench scripts import or use."""
    roots = set()
    for path in SCRIPTS:
        bindings = _bindings(path)
        roots |= {target for target in bindings.values() if target[1] is not None}
        roots |= {(m, n) for _, m, n in _references(_parse(path), bindings)}
    return roots


def test_package_names_are_reachable():
    """Every module-level name in ``klog_spark`` is reachable from the
    product (the CLI, ``Pipeline``, the SQL views, ``run_incremental``), a
    script that uses it (the driver contract, ``tools/``, ``bench*.py``,
    ``perfbench/``) or ``KEPT_ROOTS``, so an operator only tests reach, or
    a helper a retired row leaves behind, fails here."""
    graph, defined = _package_graph()
    roots = {*PRODUCT_ROOTS, *_script_roots()}
    roots |= {key for key in defined if key[1].startswith("__")}  # read by Python, not called
    roots |= {key for key in defined
              if (key[0], "*") in KEPT_ROOTS or key in KEPT_ROOTS}
    seen, todo = set(), [key for key in roots if key in graph]
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += graph.get(key, ())
    assert len(defined) > 250
    stale = [f"{m}.{n}" for m, n in PRODUCT_ROOTS + KEPT_ROOTS if n != "*" and (m, n) not in defined]
    assert stale == []
    unreachable = sorted(f"{m}.{n}" for m, n in defined - seen)
    assert unreachable == [], "no product or script reaches:\n" + "\n".join(unreachable)


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
