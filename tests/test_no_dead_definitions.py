"""Every top-level definition of the engine's library modules has a
caller: a function, class or (non-dunder) module-level name defined in
``operators/``, ``sources/``, ``sinks/``, ``functions/``, ``plans/`` or
``streaming/`` must be loaded by name somewhere outside its own
definition — in the package, ``tools/``, ``perfbench/``, ``bench.py`` or
``tests/``. A name, an attribute access or a ``from ... import`` counts;
a mention in a docstring or comment does not (the name matching of
``tools/round_gate.loads``). Pure ``ast``: no Spark.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

from tools.round_gate import LIBRARY_DIRS, loads

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "quantum_rag_data_pipeline_spark"


def _py_files() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in (PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.is_file()]


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def unreferenced() -> list[str]:
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _py_files()}
    loaded: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for f, tree in trees.items():
        for name, line in loads(tree):
            loaded[name].append((f, line))
    dead = []
    for f, tree in trees.items():
        rel = f.relative_to(PKG) if f.is_relative_to(PKG) else None
        if rel is None or rel.parts[0] not in LIBRARY_DIRS:
            continue
        for stmt in tree.body:
            span = range(stmt.lineno, stmt.end_lineno + 1)
            for name in _defined_names(stmt):
                if not any(g != f or line not in span for g, line in loaded[name]):
                    dead.append(f"{rel}:{stmt.lineno} {name}")
    return dead


def test_every_library_definition_has_a_caller():
    dead = unreferenced()
    assert not dead, "defined but never loaded outside their definition:\n" + "\n".join(dead)
