"""Every public name in the package has a production caller.

An AST walk over the package finds each public module-level ``def`` and
``class``, each public method of such a class and each ``PipelineConfig``
field, then looks for a load of it
in the caller sources: the package itself, ``jobs/``, ``__spark_entry__.py``,
``perfbench/``, ``bench.py``, ``bench_extra.py`` and ``tools/``. A load
inside the name's own body does not count, nor does a load from a
function that is itself unreachable (the scan repeats until no new name
drops out). ``__init__`` re-exports and ``__all__`` strings are imports,
not loads, and ``tests/`` is not a caller: an alternative implementation
that only tests run belongs in ``tests/oracles.py``.

Name loads count when the file imports the name (through an alias too)
or defines it; attribute loads (``module.name``, ``cfg.field``) count by
attribute name, and for a method ``Class.method`` only in a file that
imports or defines ``Class`` or imports its module. A load inside a type
annotation is not a caller.

A field is also an option: some production ``PipelineConfig(...)`` call
must set it to something other than its default, or else it is a
constant in ``config.py``.

Parameters get the same treatment: every defaulted parameter of a public
package function or method is set by some production call (by keyword,
by position or through a ``*``/``**`` splat) to something other than a
literal equal to its default, or else it is a constant. A package
module-level literal constant (imported by name, or read as
``module.NAME``) counts as its value. A ``**name``
splat sets only the keys of the dict literals (or keyword-only
``dict(...)`` calls) ``name`` is bound to in the enclosing function. An
argument that is the enclosing public package function's own defaulted
parameter sets the callee's parameter only when that parameter is itself
set. The frozen ``bench.py`` counts only through ``FROZEN_BENCH_KWARGS``.
And every keyword any caller passes, ``tests/`` included, names a real
parameter.
"""

from __future__ import annotations

import ast
import functools
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
# artifact, with the manifest's dict view; and the serve-mode restore of
# frozen training stats from their JSON artifact (S7b). No production
# code calls them; tests/test_flagship.py does.
SINK_ENTRY_POINTS = {
    "run_flagship_contract", "flagship_health", "export_npz_contract",
    "FeatureManifest.to_dict", "FlagshipStats.from_json",
}

# Parameters production code leaves at their default on purpose: the sink
# entry points above, and run_flagship's serve mode (COVERAGE.md S7b),
# which applies frozen training stats and is reached through
# run_flagship_contract.
PARAM_ALLOWLIST = {
    **{name: {"*"} for name in SINK_ENTRY_POINTS},
    "run_flagship": {"stats"},
}

# Parameters kept only because the frozen bench.py passes them, each
# with the bench.py line of the call that does: the deletion list of the
# next change to bench.py. The census does not count bench.py as a
# caller; it counts these instead. ``iters`` and ``sort_cols`` are
# passed at their defaults; both ``cfg`` are ignored (the indicator
# parameters are config.py constants).
FROZEN_BENCH_KWARGS = {
    "run_pipeline.input_partitioned": 139,
    "write_bucketed_table.path": 126,
    "write_bucketed_table.sort_cols": 126,
    "indicator_table.cfg": 257,
    "run_flagship.approx_percentiles": 514,
    "compute_recurrence_indicators.cfg": 621,
    "compute_recurrence_indicators.chunk_rows": 621,
    "compute_recurrence_indicators.warmup_rows": 621,
    "asof_join.bucket_s": 685,
    "ivf_train_or_load.iters": 731,
}
BENCH = ROOT / "bench.py"

# Parameters that name a column or an output, and a CLI's argv: their
# default is a schema or process fact, not a configuration.
_EXEMPT_PARAM = re.compile(r"by|on|src|out|prefix|argv|\w+_col|\w+_prefix")


def _py_files(paths: list[Path]) -> list[Path]:
    out = []
    for p in paths:
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _public_defs() -> dict[str, list[tuple[Path, int, int]]]:
    """name -> [(module, first line, last line)] of public module-level
    defs and classes outside ``__init__.py``, and of the public methods
    of those classes as ``Class.method``."""
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
                for m in _methods(node):
                    defs.setdefault(f"{node.name}.{m.name}", []).append(
                        (path, m.lineno, m.end_lineno)
                    )
    return defs


def _methods(node: ast.AST) -> list[ast.FunctionDef]:
    """The public methods of a class; [] for anything else."""
    if not isinstance(node, ast.ClassDef):
        return []
    return [
        m for m in node.body
        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not m.name.startswith("_")
    ]


@functools.lru_cache(maxsize=None)
def _known_names(path: Path) -> set[str]:
    """The names a file imports (``from ... import``, modules included,
    by their own name, not an alias) or defines at module level."""
    tree = _parse(path)
    names = {
        a.name for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) for a in n.names
    }
    return names | set(_module_names(tree))


def _names_load(name: str, home: Path, path: Path, attr: str, is_attr: bool) -> bool:
    """Whether a load of ``attr`` in ``path`` is a load of the public
    name ``name`` defined in module ``home``: a module-level name by its
    own name; a method ``Class.method`` by an attribute load of
    ``method`` in a file that imports or defines ``Class`` or imports
    ``home`` as a module. ``obj.method`` cannot be typed, so a file that
    names neither cannot call the method (``df.write.save()`` is not
    ``FlagshipStats.save``)."""
    cls, _, method = name.rpartition(".")
    if attr != method:
        return False
    if not cls:
        return True
    known = _known_names(path)
    return is_attr and (cls in known or home.stem in known)


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
        ann = _annotation_nodes(tree)
        for node in ast.walk(tree):
            if id(node) in ann:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                if node.id in alias:
                    out.append((path, node.lineno, alias[node.id], False))
                elif node.id in own:
                    out.append((path, node.lineno, node.id, False))
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                out.append((path, node.lineno, node.attr, True))
    return out


def _package_functions(
    public: bool = True,
) -> dict[str, list[tuple[Path, ast.FunctionDef]]]:
    """name -> [(module, def)] of module-level package functions; with
    ``public``, only the public ones, plus the public methods of public
    classes as ``Class.method``."""
    out: dict[str, list[tuple[Path, ast.FunctionDef]]] = {}
    for path in _py_files([PKG]):
        for node in _parse(path).body:
            if public and (
                getattr(node, "name", "_").startswith("_")
                or path.name == "__init__.py"
            ):
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.setdefault(node.name, []).append((path, node))
            elif public:
                for m in _methods(node):
                    out.setdefault(f"{node.name}.{m.name}", []).append((path, m))
    return out


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """parameter -> its default expression, for the defaulted ones."""
    pos = fn.args.posonlyargs + fn.args.args
    out = {
        a.arg: d for a, d in zip(pos[len(pos) - len(fn.args.defaults):], fn.args.defaults)
    }
    out.update(
        (a.arg, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    )
    return out


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    return list(_defaults(fn))


def _is_default(arg: ast.expr | None, default: ast.expr, path: Path) -> bool:
    """Whether a call argument in ``path`` is the parameter's default: the
    same expression, or a literal equal to it, once a name of a package
    module-level literal constant is read as its value
    (``_constant_value``). An unknown argument is not."""
    if arg is None:
        return False
    arg = _constant_value(arg, path)
    if ast.dump(arg) == ast.dump(default):
        return True
    try:
        return ast.literal_eval(arg) == ast.literal_eval(default)
    except (ValueError, TypeError, SyntaxError):  # not a literal
        return False


def _module_file(parts: tuple[str, ...]) -> Path | None:
    """The source file of the dotted module ``parts`` under the repo."""
    base = ROOT.joinpath(*parts)
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


@functools.lru_cache(maxsize=None)
def _package_imports(path: Path) -> dict[str, tuple[Path, str | None]]:
    """local name -> (package module, imported name) for each name a file
    imports from a package module, and -> (module, None) for a package
    module it imports as a whole (``from .. import config``,
    ``import quant_feature_pipeline_spark.config as c``)."""
    out: dict[str, tuple[Path, str | None]] = {}
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.ImportFrom):
            base = path.parents[node.level - 1].relative_to(ROOT).parts if node.level else ()
            mod = base + tuple(node.module.split(".") if node.module else ())
            if not mod or mod[0] != PKG.name:
                continue
            for a in node.names:
                sub, home = _module_file(mod + (a.name,)), _module_file(mod)
                if sub or home:
                    out[a.asname or a.name] = (sub, None) if sub else (home, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                f = _module_file(tuple(a.name.split(".")))
                if a.asname and a.name.startswith(f"{PKG.name}.") and f:
                    out[a.asname] = (f, None)
    return out


@functools.lru_cache(maxsize=None)
def _literal_constants(path: Path) -> dict[str, ast.expr]:
    """NAME -> value of a module's module-level ``NAME = <literal>``."""
    out = {}
    for node in _parse(path).body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(
            node.targets[0], ast.Name
        ):
            try:
                ast.literal_eval(node.value)
            except (ValueError, TypeError, SyntaxError):
                continue
            out[node.targets[0].id] = node.value
    return out


def _constant_value(arg: ast.expr, path: Path) -> ast.expr:
    """The literal a package module-level constant names when ``arg`` is
    a bare name ``path`` imports from the package or ``module.NAME`` on a
    package module it imports; else ``arg`` itself."""
    imports = _package_imports(path)
    if isinstance(arg, ast.Name) and arg.id in imports:
        home, name = imports[arg.id]
    elif (
        isinstance(arg, ast.Attribute) and isinstance(arg.value, ast.Name)
        and imports.get(arg.value.id, (None, ""))[1] is None
    ):
        home, name = imports[arg.value.id][0], arg.attr
    else:
        return arg
    return _literal_constants(home).get(name, arg) if name else arg


def _annotation_nodes(tree: ast.Module) -> set[int]:
    """ids of every node inside a type annotation."""
    roots = []
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = n.args
            args = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
            roots += [x.annotation for x in args if x is not None] + [n.returns]
        elif isinstance(n, ast.AnnAssign):
            roots.append(n.annotation)
    return {id(x) for r in roots if r is not None for x in ast.walk(r)}


def _scopes(tree: ast.Module) -> dict[int, tuple[ast.AST, ast.AST | None]]:
    """node id -> (innermost enclosing def or the module, enclosing
    module-level def or method of a module-level class, or None)."""
    out: dict[int, tuple[ast.AST, ast.AST | None]] = {}

    top = {id(tree)} | {id(n) for n in tree.body if isinstance(n, ast.ClassDef)}

    def visit(node, inner, outer):
        for child in ast.iter_child_nodes(node):
            out[id(child)] = (inner, outer)
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child, outer or (child if id(node) in top else None))
            else:
                visit(child, inner, outer)

    visit(tree, tree, None)
    return out


def _call_sites(paths: list[Path], package_only: bool = False):
    """(file, line, name, call, scopes) for every load of a name outside
    an annotation; ``call`` is the ``ast.Call`` when the load is the
    callee, else None, and ``scopes`` is the load's ``_scopes`` entry.
    Names resolve as in ``_loads``; with ``package_only`` an import counts
    only when it is from the package, and an attribute only on such an
    import."""
    out = []
    for path in _py_files(paths):
        tree = _parse(path)
        in_pkg = PKG in path.parents
        alias: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                not package_only
                or (node.level and in_pkg)
                or (node.module or "").startswith(PKG.name)
            ):
                for a in node.names:
                    alias[a.asname or a.name] = a.name
        own = {
            n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        } if in_pkg or not package_only else set()
        callee = {
            id(n.func): n for n in ast.walk(tree) if isinstance(n, ast.Call)
        }
        ann, scopes = _annotation_nodes(tree), _scopes(tree)
        for node in ast.walk(tree):
            if id(node) in ann:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                name = alias.get(node.id) or (node.id if node.id in own else None)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                base = node.value
                name = node.attr if not package_only or (
                    isinstance(base, ast.Name) and base.id in alias
                ) else None
            else:
                continue
            if name:
                out.append(
                    (path, node.lineno, name, callee.get(id(node)), scopes[id(node)])
                )
    return out


def _splat_pairs(value: ast.expr, scope: ast.AST) -> list | None:
    """(key, value) pairs a ``**value`` splat passes: the keys of the dict
    literals and keyword-only ``dict(...)`` calls the name is bound to in
    ``scope``, by assignment or as the target of a ``for`` over a literal
    tuple. None when any binding or use of the name is something else
    (a parameter, a call result, a mutation)."""
    if not isinstance(value, ast.Name):
        return None
    name = value.id
    stores = {
        id(n) for n in ast.walk(scope)
        if isinstance(n, ast.Name) and n.id == name and isinstance(n.ctx, ast.Store)
    }
    bound, seen = [], set()
    for n in ast.walk(scope):
        if isinstance(n, ast.arg) and n.arg == name:
            return None
        if isinstance(n, (ast.Attribute, ast.Subscript)) and (
            isinstance(n.value, ast.Name) and n.value.id == name
        ):
            return None  # kw.update(...), kw["k"] = ...
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if id(t) in stores:
                    seen.add(id(t))
                    bound.append(n.value)
        elif isinstance(n, ast.For) and isinstance(n.iter, (ast.Tuple, ast.List)):
            t = n.target
            if id(t) in stores:
                seen.add(id(t))
                bound += n.iter.elts
            elif isinstance(t, ast.Tuple):
                for j, e in enumerate(t.elts):
                    if id(e) in stores:
                        seen.add(id(e))
                        bound += [
                            x.elts[j] if isinstance(x, ast.Tuple)
                            and len(x.elts) == len(t.elts) else None
                            for x in n.iter.elts
                        ]
    if seen != stores:
        return None
    pairs = []
    for v in bound:
        if isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
        ):
            pairs += [(k.value, x) for k, x in zip(v.keys, v.values)]
        elif (
            isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
            and v.func.id == "dict" and not v.args
            and all(k.arg is not None for k in v.keywords)
        ):
            pairs += [(k.arg, k.value) for k in v.keywords]
        else:
            return None
    return pairs


def _set_params(
    fn: ast.FunctionDef, call: ast.Call | None, scope: ast.AST, bound: bool
) -> list[tuple[str, ast.expr | None]]:
    """(parameter, argument) pairs a call sets; the argument is None when
    it is not known. With ``bound`` (a method; the package has no public
    staticmethod), the first parameter is ``self``/``cls`` and takes no
    argument. A load that is not a call (a dispatch table, a callback),
    a ``*`` splat and a ``**`` splat whose keys are not known
    (``_splat_pairs``) set every parameter they can reach."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args][int(bound):]
    every = [(a, None) for a in pos + [a.arg for a in fn.args.kwonlyargs]]
    if call is None:
        return every
    out = []
    for k in call.keywords:
        pairs = [(k.arg, k.value)] if k.arg else _splat_pairs(k.value, scope)
        if pairs is None:
            return every
        out += pairs
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            return out + [(p, None) for p in pos[i:]]
        if i < len(pos):
            out.append((pos[i], a))
    return out


def _param_census(
    callers: list[Path] = CALLERS, assume: tuple[str, ...] = ()
) -> tuple[list[str], dict[str, set[str]]]:
    """(defaulted parameters no call in ``callers`` sets, as
    ``fn.param``; name -> parameters those calls set). A call from
    inside the function's own body does not count, nor does an argument
    that is the parameter's default (``_is_default``). An argument that
    is a defaulted parameter of the enclosing public package function or
    method sets the callee's parameter only once that parameter is set
    (iterated to a fixed point). The ``fn.param`` names in ``assume``
    count as set from the start."""
    fns = _package_functions()
    by_def = {(p, f.lineno): (n, f) for n, defs in fns.items() for p, f in defs}
    sites = _call_sites(callers)
    # (callee, parameter, None | (enclosing function, its parameter))
    edges = set()
    for name, defs in sorted(fns.items()):
        spans = [(p, f.lineno, f.end_lineno) for p, f in defs]
        for path, line, n, call, (inner, outer) in sites:
            if not _names_load(name, spans[0][0], path, n, True) or _inside(
                spans, path, line
            ):
                continue
            host, hfn = by_def.get((path, getattr(outer, "lineno", None)), (None, None))
            for _, fn in defs:
                default = _defaults(fn)
                for a, arg in _set_params(fn, call, inner, "." in name):
                    if a in default and _is_default(arg, default[a], path):
                        continue
                    via = None
                    if (
                        hfn is not None and isinstance(arg, ast.Name)
                        and arg.id in _defaulted(hfn)
                        and not _EXEMPT_PARAM.fullmatch(arg.id)
                    ):
                        via = (host, arg.id)
                    edges.add((name, a, via))
    setters: dict[str, set[str]] = {name: set() for name in fns}
    for name, _, a in (x.rpartition(".") for x in assume):
        setters[name].add(a)
    grew = True
    while grew:
        grew = False
        for name, a, via in edges:
            if a not in setters[name] and (via is None or via[1] in setters[via[0]]):
                setters[name].add(a)
                grew = True
    unset = [
        f"{name}.{a}" for name, defs in sorted(fns.items()) for _, fn in defs
        for a in _defaulted(fn)
        if a not in setters[name] and not _EXEMPT_PARAM.fullmatch(a)
    ]
    return unset, setters


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
                if _names_load(name, spans[0][0], ld[0], ld[2], ld[3])
                and not _inside(spans, ld[0], ld[1])
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


def _config_setters() -> set[str]:
    """The ``PipelineConfig`` fields some production call sets (by
    keyword, by position or through a splat) to a value that is not a
    literal equal to the field's default."""
    cls = next(
        n for n in _parse(PKG / "config.py").body
        if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig"
    )
    default = {
        s.target.id: ast.literal_eval(s.value) for s in cls.body
        if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
        and s.value is not None
    }
    fields = list(default)

    def differs(field: str, value: ast.expr) -> bool:
        try:
            return ast.literal_eval(value) != default[field]
        except ValueError:  # not a literal: a variable, an expression
            return True

    got: set[str] = set()
    for _, _, name, call, _ in _call_sites(CALLERS):
        if name != "PipelineConfig" or call is None:
            continue
        for i, a in enumerate(call.args):
            if isinstance(a, ast.Starred):
                got |= set(fields[i:])
                break
            if i < len(fields) and differs(fields[i], a):
                got.add(fields[i])
        for k in call.keywords:
            if k.arg is None:
                got |= set(fields)
            elif k.arg in default and differs(k.arg, k.value):
                got.add(k.arg)
    return got


def test_every_config_field_is_set_by_production():
    """A field production never sets (or sets only to its default) is
    a constant in disguise: move it to a config.py constant and delete
    the code paths only its other values reached."""
    fields, _ = _config_fields()
    unset = [f for f in fields if f not in _config_setters()]
    assert fields and not unset, (
        f"{len(unset)} PipelineConfig fields no production call sets: {unset}"
    )


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


def _production_census() -> tuple[list[str], dict[str, set[str]]]:
    """The parameter census over the callers except bench.py, with
    ``FROZEN_BENCH_KWARGS`` set."""
    return _param_census(
        [c for c in CALLERS if c != BENCH], tuple(FROZEN_BENCH_KWARGS)
    )


def test_every_parameter_is_set_by_a_production_caller():
    """A defaulted parameter only tests set, or production sets only to
    its default, is a constant in disguise: inline its default and
    delete the branches behind the other values."""
    unset, _ = _production_census()
    allowed = {
        f"{n}.{a}" for n, params in PARAM_ALLOWLIST.items()
        for _, fn in _package_functions().get(n, [])
        for a in _defaulted(fn) if "*" in params or a in params
    }
    left = sorted(set(unset) - allowed)
    assert not left, (
        f"{len(left)} parameters no production caller sets: {left}"
    )


def test_frozen_bench_kwargs_are_exact():
    """Each listed parameter exists, the cited bench.py line passes it,
    and (when it has a default) no other production call sets it; one
    that gains another setter leaves the list."""
    fns = _package_functions()
    _, others = _param_census([c for c in CALLERS if c != BENCH])
    calls = {
        (line, name): (call, scope)
        for _, line, name, call, (scope, _) in _call_sites([BENCH])
        if call is not None
    }
    for key, line in sorted(FROZEN_BENCH_KWARGS.items()):
        name, _, a = key.rpartition(".")
        assert name in fns, f"{key}: no public package function {name}"
        fn = fns[name][0][1]
        assert (line, name) in calls, f"{key}: bench.py:{line} does not call {name}"
        passed = {p for p, _ in _set_params(fn, *calls[line, name], False)}
        assert a in passed, f"{key}: bench.py:{line} does not pass {a}"
        assert a not in _defaulted(fn) or a not in others[name], (
            f"{key} now has a production setter besides bench.py; "
            "drop it from FROZEN_BENCH_KWARGS"
        )


def test_parameter_allowlist_is_exact():
    """Each allowlisted parameter exists and still has no production
    setter; one that gains a setter leaves the allowlist."""
    fns = _package_functions()
    _, setters = _production_census()
    for name, params in sorted(PARAM_ALLOWLIST.items()):
        assert name in fns, f"allowlisted {name} no longer exists"
        named = params - {"*"} or {
            a for _, fn in fns[name] for a in _defaulted(fn)
        }
        for a in sorted(named):
            assert any(a in _defaulted(fn) for _, fn in fns[name]), (
                f"allowlisted {name}.{a} is not a defaulted parameter"
            )
            assert a not in setters[name], (
                f"allowlisted {name}.{a} now has a production setter; "
                "drop it from PARAM_ALLOWLIST"
            )


def test_every_keyword_names_a_parameter():
    """A keyword a function does not take is a typo; with no ``**`` sink
    to swallow it, Python would raise only when the call runs."""
    fns = _package_functions(public=False)
    bad = []
    for path, line, name, call, _ in _call_sites(
        CALLERS + [ROOT / "tests"], package_only=True
    ):
        if call is None or name not in fns:
            continue
        ok = set()
        for _, fn in fns[name]:
            if fn.args.kwarg is not None:
                ok = None
                break
            ok |= {a.arg for a in fn.args.args + fn.args.kwonlyargs}
        if ok is None:
            continue
        bad += [
            f"{path.relative_to(ROOT)}:{line} {name}({k.arg}=)"
            for k in call.keywords if k.arg is not None and k.arg not in ok
        ]
    assert not bad, f"keywords that name no parameter: {bad}"
