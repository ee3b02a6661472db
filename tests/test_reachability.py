"""Every public name in the package has a production caller.

An AST walk over the package finds each public module-level ``def`` and
``class`` and each ``PipelineConfig`` field, then looks for a load of it
in the caller sources: the package itself, ``jobs/``, ``__spark_entry__.py``,
``perfbench/``, ``bench.py``, ``bench_extra.py`` and ``tools/``. A load
inside the name's own body does not count, nor does a load from a
function that is itself unreachable (the scan repeats until no new name
drops out). ``__init__`` re-exports and ``__all__`` strings are imports,
not loads, and ``tests/`` is not a caller: an alternative implementation
that only tests run belongs in ``tests/oracles.py``.

Name loads count when the file imports the name (through an alias too)
or defines it; attribute loads (``module.name``, ``cfg.field``) count by
attribute name.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "quant_feature_pipeline_spark"
CALLERS = [
    PKG,
    ROOT / "jobs",
    ROOT / "perfbench",
    ROOT / "tools",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
]

# The contract-sink entry points (COVERAGE.md S7): the packaged API a
# consumer calls to build, health-check and export the 45-feature NPZ
# artifact. No production code calls them; tests/test_flagship.py does.
SINK_ENTRY_POINTS = {"run_flagship_contract", "flagship_health", "export_npz_contract"}


def _py_files(paths: list[Path]) -> list[Path]:
    out = []
    for p in paths:
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _public_defs() -> dict[str, list[tuple[Path, int, int]]]:
    """name -> [(module, first line, last line)] of public module-level
    defs and classes outside ``__init__.py``."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path in _py_files([PKG]):
        if path.name == "__init__.py":
            continue
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defs.setdefault(node.name, []).append(
                    (path, node.lineno, node.end_lineno)
                )
    return defs


def _config_fields() -> tuple[list[str], tuple[Path, int, int]]:
    path = PKG / "config.py"
    for node in _parse(path).body:
        if isinstance(node, ast.ClassDef) and node.name == "PipelineConfig":
            fields = [
                s.target.id for s in node.body
                if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
            ]
            return fields, (path, node.lineno, node.end_lineno)
    raise AssertionError("PipelineConfig not found in config.py")


def _loads() -> list[tuple[Path, int, str, bool]]:
    """(file, line, name, is_attribute) for every load in the callers."""
    out = []
    for path in _py_files(CALLERS):
        tree = _parse(path)
        alias: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    alias[a.asname or a.name] = a.name
        own = {
            n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                if node.id in alias:
                    out.append((path, node.lineno, alias[node.id], False))
                elif node.id in own:
                    out.append((path, node.lineno, node.id, False))
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                out.append((path, node.lineno, node.attr, True))
    return out


def _inside(spans, path: Path, line: int) -> bool:
    return any(p == path and a <= line <= b for p, a, b in spans)


def _reachability():
    """(unreachable public defs, unread config fields, callers of each
    def): a load counts when it is outside the name's own body and
    outside every unreachable def."""
    defs = _public_defs()
    fields, cfg_span = _config_fields()
    loads = _loads()
    dead: set[str] = set()
    while True:
        dead_spans = [s for n in dead for s in defs[n]]
        live = [
            ld for ld in loads if not _inside(dead_spans, ld[0], ld[1])
        ]
        callers = {
            name: [
                ld for ld in live
                if ld[2] == name and not _inside(spans, ld[0], ld[1])
            ]
            for name, spans in defs.items()
        }
        now_dead = {
            n for n, c in callers.items()
            if not c and n not in SINK_ENTRY_POINTS
        }
        if now_dead == dead:
            break
        dead = now_dead
    unread = [
        f for f in fields
        if not any(
            ld[3] and ld[2] == f and not _inside([cfg_span], ld[0], ld[1])
            for ld in live
        )
    ]
    return sorted(dead), unread, callers


def test_every_public_def_has_a_caller():
    dead, _, callers = _reachability()
    where = {
        n: sorted({str(p.relative_to(ROOT)) for p, _, _ in _public_defs()[n]})
        for n in dead
    }
    assert not dead, f"public package names with no production caller: {where}"
    assert callers  # the scan found the package


def test_every_config_field_is_read():
    fields, _ = _config_fields()
    _, unread, _ = _reachability()
    assert fields and not unread, f"PipelineConfig fields nothing reads: {unread}"


def test_sink_entry_point_allowlist_is_exact():
    """Each allowlisted entry point exists and still has no caller; one
    that gains a caller leaves the allowlist."""
    _, _, callers = _reachability()
    for name in sorted(SINK_ENTRY_POINTS):
        assert name in callers, f"allowlisted {name} no longer exists"
        assert not callers[name], (
            f"allowlisted {name} now has callers {callers[name]}; "
            "drop it from SINK_ENTRY_POINTS"
        )


_CITE = re.compile(r"`qfps/([\w/]+\.py)(?:::([^`]+))?`")


def _cited_names(spec: str) -> list[str]:
    """'a', 'C.{m,n}', '{a,b}' -> ['a'], ['C.m', 'C.n'], ['a', 'b']."""
    m = re.fullmatch(r"([\w.]*?)\{([\w,\s]+)\}", spec)
    if m:
        return [m.group(1) + n.strip() for n in m.group(2).split(",")]
    return [spec]


def _module_names(tree: ast.Module) -> dict[str, ast.AST]:
    names: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    names[t.id] = node
    return names


def test_coverage_citations_exist():
    """Every `qfps/<module>::<name>` COVERAGE.md cites is in the code."""
    cites = _CITE.findall((ROOT / "COVERAGE.md").read_text())
    assert cites
    missing = []
    for rel, spec in cites:
        path = PKG / rel
        if not path.exists():
            missing.append(rel)
            continue
        if not spec:
            continue
        top = _module_names(_parse(path))
        for name in _cited_names(spec):
            head, _, member = name.partition(".")
            node = top.get(head)
            if node is None:
                missing.append(f"{rel}::{name}")
            elif member and not (
                isinstance(node, ast.ClassDef)
                and any(
                    getattr(b, "name", None) == member for b in node.body
                )
            ):
                missing.append(f"{rel}::{name}")
    assert not missing, f"COVERAGE.md cites names that do not exist: {missing}"
