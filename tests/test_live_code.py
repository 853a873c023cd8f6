"""Every top-level package definition has a caller outside the tests.

Code that only tests call is tested but never run: it costs test time
and review time and drifts from the paths the engine really takes. This
check finds it without Spark, from the source alone.

A definition is a top-level function, class or assigned name in a
package module. The live roots are the registered ``@query`` builders,
the package's module-level statements that run on import (loops that
fill tables, for example), and every reference in ``tools/``,
``perfbench/`` (not its tests) and ``__spark_entry__.py``. A reached
definition reaches every definition it names, repeated to a fixed
point. Names resolve through each file's imports: a bare name to its
own module's definition or to what the file imported under that name,
``M.f`` to ``f`` in module ``M``. An attribute on anything else (``self.f``,
``df.f``) counts for every definition named ``f``, which can keep dead
code alive but never flags live code. Strings, docstrings and comments
are not references.

``ALLOWED`` names the definitions that are kept on purpose although no
live root reaches them, each with its reason. The list only shrinks: an
entry whose definition is gone or has become live fails the test.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "climate_anomaly_bigdata_pipeline_spark"

_REFERENCE = "a reference implementation that tests compare the live path against"

#: ``module.name`` (module relative to the package) -> why it stays.
ALLOWED = {
    "operators.jpegcodec.encode_jpeg_progressive_sa": (
        "the only source of successive-approximation JPEG streams (PIL is not a "
        "dependency), so the live decoder's DC/AC refinement scans stay tested"
    ),
    "operators.jpegcodec._fdct_quant": "the forward DCT of encode_jpeg_progressive_sa",
    "operators.dedup.edit_distance_pairs": _REFERENCE,
    "operators.dedup.segment_candidates": _REFERENCE,
    "operators.similarity._cell_assign_structs": _REFERENCE,
    "sources.acquire.acquire": (
        "the paper's download step with its synthetic fallback (SURVEY §2.1 S1/S2)"
    ),
    "operators.observability.observed_write_parquet": (
        "the observed write the medallion writes are to be routed through "
        "(ROADMAP aim 4)"
    ),
}


def _py_files(top: str, skip: str | None = None) -> list[str]:
    out = []
    for d, dirs, files in os.walk(os.path.join(REPO, top)):
        dirs[:] = sorted(x for x in dirs if os.path.join(d, x) != skip)
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _module_of(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


class _File:
    """One parsed file: its import aliases and, for package modules, its
    top-level definitions."""

    def __init__(self, path: str) -> None:
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), path)
        self.module = _module_of(path)
        self.names: dict[str, tuple[str, str]] = {}  # local name -> (module, name)
        self.modules: dict[str, str] = {}  # local name -> module
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.modules[a.asname] = a.name
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    local = a.asname or a.name
                    self.names[local] = (node.module, a.name)
                    self.modules[local] = f"{node.module}.{a.name}"

    def top_level(self):
        """Yield ``(name or None, node)``; ``None`` marks a statement that
        runs on import without defining a name."""
        for s in self.tree.body:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield s.name, s
            elif isinstance(s, (ast.Assign, ast.AnnAssign)):
                targets = s.targets if isinstance(s, ast.Assign) else [s.target]
                names = [
                    n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
                ]
                for n in names:
                    yield n, s.value
                if not names:
                    yield None, s
            elif not isinstance(s, (ast.Import, ast.ImportFrom)) and not (
                # a docstring
                isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)
            ):
                yield None, s


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "query") or (
            isinstance(f, ast.Attribute) and f.attr == "query"
        ):
            return True
    return False


def scan() -> tuple[set[str], ...]:
    """Return every definition, the live ones, the ones tests reach and
    the ones ``ALLOWED`` keeps, each as ``module.name`` relative to the
    package."""
    pkg_files = [_File(p) for p in _py_files(PKG)]
    defs: dict[str, list] = {}  # "module.name" -> its nodes, with their file
    by_name: dict[str, set[str]] = defaultdict(set)
    roots: list[tuple[_File, ast.AST]] = []  # statements that run on import
    queries: list[str] = []
    for f in pkg_files:
        for name, node in f.top_level():
            if name is None:
                roots.append((f, node))
                continue
            if name.startswith("__") and name.endswith("__"):
                continue  # module protocol (__all__, …), read by Python itself
            key = f"{f.module}.{name}"
            defs.setdefault(key, []).append((f, node))
            by_name[name].add(key)
            if _is_query(node):
                queries.append(key)

    def refs(f: _File, node: ast.AST) -> set[str]:
        out: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                own = f"{f.module}.{n.id}"
                if own in defs:
                    out.add(own)
                elif n.id in f.names:
                    out.add(".".join(f.names[n.id]))
            elif isinstance(n, ast.Attribute):
                base = n.value
                mod = f.modules.get(base.id) if isinstance(base, ast.Name) else None
                if mod is not None and mod.startswith(PKG + "."):
                    out.add(f"{mod}.{n.attr}")
                elif not (isinstance(base, ast.Name) and base.id in f.modules):
                    out |= by_name.get(n.attr, set())
        return out & defs.keys()

    def reach(keys: list[str], nodes: list[tuple[_File, ast.AST]]) -> set[str]:
        seen: set[str] = set()
        todo = list(keys) + [r for f, node in nodes for r in refs(f, node)]
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo += [r for f, node in defs[key] for r in refs(f, node)]
        return seen

    def whole(paths: list[str]) -> list[tuple[_File, ast.AST]]:
        return [(f, f.tree) for f in map(_File, paths)]

    live = reach(
        queries,
        roots
        + whole(_py_files("tools"))
        + whole(_py_files("perfbench", skip=os.path.join(REPO, "perfbench", "tests")))
        + whole([os.path.join(REPO, "__spark_entry__.py")])
    )
    tested = reach([], whole(_py_files("tests")))
    kept = reach([f"{PKG}.{k}" for k in ALLOWED if f"{PKG}.{k}" in defs], [])
    strip = len(PKG) + 1
    return tuple({k[strip:] for k in s} for s in (defs.keys(), live, tested, kept))


def test_no_package_code_that_only_tests_reach():
    every, live, tested, kept = scan()
    dead = sorted(every - live - kept)
    assert not dead, (
        "package definitions no live root reaches (delete them with their tests, "
        "or give a live path a use for them): "
        + ", ".join(
            f"{d} ({'tests only' if d in tested else 'unreferenced'})" for d in dead
        )
    )
    stale = sorted(k for k in ALLOWED if k not in every or k in live)
    assert not stale, f"remove these ALLOWED entries, they are gone or live: {stale}"
