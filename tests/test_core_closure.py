"""The options pipeline's import closure is pinned.

The modules the pipeline runs on — the jobs, sources, sinks, the candle
stream and the session/option plans — must reach exactly the modules
listed here, found by a static walk of their imports (function-level
imports included).  An extension module that leaks into the core (a
sink or job importing a query family) fails this test; so does a core
module that stops being reached.
"""

from __future__ import annotations

import ast
import os

PKG = "options_data_pipeline_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOTS = [
    "jobs.incremental",
    "jobs.aggregation",
    "sources.rest",
    "sources.tables",
    "sources.datasource",
    "streaming.candles",
    "sinks.upsert",
    "sinks.commit",
    "session",
    "operators.session_ohlc",
    "operators.option_ohlc",
    "plans.sessions",
    "plans.options",
]

CORE = {
    "",
    "functions",
    "functions.instruments",
    "functions.litconst",
    "functions.rounding",
    "functions.timeutil",
    "jobs",
    "jobs.aggregation",
    "jobs.incremental",
    "operators",
    "operators.gaps",
    "operators.materialize",
    "operators.option_ohlc",
    "operators.session_ohlc",
    "plans",
    "plans.options",
    "plans.sessions",
    "session",
    "sinks",
    "sinks.commit",
    "sinks.upsert",
    "sources",
    "sources.datasource",
    "sources.rest",
    "sources.tables",
    "streaming",
    "streaming.candles",
}


def _modules() -> dict[str, str]:
    """Dotted name -> source file of every module in the package."""
    out = {}
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
                out[name.removesuffix(".__init__")] = path
    return out


def _imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Package modules ``name`` imports, with the packages that contain
    them (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            # `from pkg import mod` imports a module; `from mod import fn` does not
            found |= {base} | {f"{base}.{a.name}" for a in node.names}
    out = set()
    for dotted in found:
        parts = dotted.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)} & mods.keys()
    return out


def test_pipeline_import_closure_is_the_core():
    mods = _modules()
    seen, todo = set(), []
    for root in ROOTS:  # each root with the packages that contain it
        parts = f"{PKG}.{root}".split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _imports(name, mods[name], mods) - seen
    got = {n.removeprefix(PKG).removeprefix(".") for n in seen}
    assert got == CORE, (
        f"reached beyond the core: {sorted(got - CORE)}; "
        f"no longer reached: {sorted(CORE - got)}"
    )
