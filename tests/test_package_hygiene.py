"""Spark-free static checks over the package source."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "sales_azure_data_engineer_project_spark"
)


def _module_defs(tree: ast.Module) -> dict[str, ast.AST]:
    """Module-level functions, classes and constants (dunders such as
    ``__all__`` excluded), each with its defining node."""
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            # ``a, b = ...`` binds each name in the tuple
            names = [
                n.id
                for t in node.targets
                for n in (t.elts if isinstance(t, ast.Tuple) else [t])
                if isinstance(n, ast.Name)
            ]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        out.update((n, node) for n in names if not n.startswith("__"))
    return out


def _loads(node: ast.AST) -> set[str]:
    """Names read anywhere under ``node``: bare names, attributes
    (``module._name``) and ``from .x import _name``."""
    seen: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            seen.add(n.id)
        elif isinstance(n, ast.Attribute):
            seen.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            seen.update(a.name for a in n.names)
    return seen


def test_every_private_module_name_is_referenced():
    """A module-level ``_`` helper that nothing in the package reads is
    dead code: each one must be referenced outside its own definition."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PACKAGE.rglob("*.py"))}
    loads = {id(stmt): _loads(stmt) for tree in trees.values() for stmt in tree.body}
    dead = []
    for path, tree in trees.items():
        for name, node in _module_defs(tree).items():
            if not name.startswith("_"):
                continue
            used = any(
                name in names for key, names in loads.items() if key != id(node)
            )
            if not used:
                dead.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {name}")
    assert not dead, "unreferenced private names:\n" + "\n".join(dead)


REPO = PACKAGE.parent

# Code outside the package whose reads make a package name reachable.
ENTRY_CODE = [REPO / "__spark_entry__.py", REPO / "tools", REPO / "perfbench"]

# Public names, methods (``Class.method``) and defaulted parameters
# (``function:param``) kept although no entry point reads or passes them;
# each with the test that references it or the ROADMAP item that will
# call it.  The parameters of a kept function or method are kept with it.
KEEP_UNREACHABLE = {
    "operators/asof.py:asof_join": (
        "the generic reference that test_properties::"
        "test_asof_same_source_equals_generic compares asof_join_same_source "
        "(which a registered query calls) against"
    ),
    "streaming/incremental.py:windowed_event_counts": (
        "the streaming twin that test_streaming::"
        "test_hopping_window_stream_equals_registered_batch_twin checks the "
        "registered events_hopping_window_rate against"
    ),
    "streaming/incremental.py:stream_incremental_merge": (
        "the foreachBatch MERGE stream whose fate ROADMAP item 9 decides"
    ),
    "operators/versioned.py:VersionedTable.read_where": (
        "the gold range scan that ROADMAP item 8's gold-read workload calls"
    ),
    "operators/versioned.py:VersionedTable.vacuum": (
        "the retention policy of ROADMAP item 4"
    ),
    "operators/versioned.py:VersionedTable.overwrite:stats_columns": (
        "the per-file min/max (operators/skipping.py) that ROADMAP item 4's "
        "manifest commit writes"
    ),
    "session.py:get_spark:shuffle_partitions": (
        "the tier-1 session (tests/conftest.py) fixes 8 shuffle partitions "
        "whatever SPARK_GRAFT_CPUS is"
    ),
}


def _is_registered(node: ast.AST) -> bool:
    """A query builder decorated with ``@register(...)``: an entry point."""
    for deco in getattr(node, "decorator_list", []):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(fn, "id", None) == "register" or getattr(fn, "attr", None) == "register":
            return True
    return False


def _reads(node: ast.AST, attributes_only: bool = False) -> set[str]:
    """Names read under ``node`` as bare names or attributes (only as
    attributes with ``attributes_only``); imports, ``__all__`` strings and
    other string literals do not count."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if (
            isinstance(n, ast.Name)
            and not isinstance(n.ctx, ast.Store)
            and not attributes_only
        )
        or isinstance(n, ast.Attribute)
    }


def _parts(stmt: ast.stmt) -> list[ast.AST]:
    """The units a module-level statement is scanned as: a class is split
    into its header and its body statements, so that each method's reads
    can be told apart from the rest of its class."""
    if isinstance(stmt, ast.ClassDef):
        return [*stmt.decorator_list, *stmt.bases, *stmt.keywords, *stmt.body]
    return [stmt]


def _calls(node: ast.AST, aliases: dict[str, str]) -> list[tuple[str, int, set[str]]]:
    """``(called name, positional args, keywords)`` of each call under
    ``node``, with ``from m import f as g`` undone.  ``*args`` counts as
    every position and ``**kwargs`` as every keyword (``"**"``)."""
    out = []
    for n in ast.walk(node):
        if not isinstance(n, ast.Call):
            continue
        if isinstance(n.func, ast.Name):
            name = aliases.get(n.func.id, n.func.id)
        elif isinstance(n.func, ast.Attribute):
            name = n.func.attr
        else:
            continue
        starred = any(isinstance(a, ast.Starred) for a in n.args)
        out.append((
            name,
            10**6 if starred else len(n.args),
            {k.arg or "**" for k in n.keywords},
        ))
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """``(name, position)`` of each parameter with a default; keyword-only
    ones have no position."""
    pos = [*fn.args.posonlyargs, *fn.args.args]
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= len(pos) - len(fn.args.defaults)]
    out += [
        (a.arg, None)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _reachability() -> tuple[list[str], list[str], set[str]]:
    """Apply the reachability rule until nothing more goes.

    A public package name (a module-level function, class or constant) is
    reachable if code outside its own definition reads it: package code,
    ``tools/``, ``perfbench/`` or ``__spark_entry__.py``, but not
    ``tests/``.  A public method ``Class.method`` is reachable if such
    code outside the method's own body reads an attribute of that name.
    Reads from inside an unreachable definition do not count, so the scan
    repeats until no further name drops out.  The keep-list counts as live
    code for names.  A defaulted parameter of a reachable function or
    method (``__init__`` is called by its class name) is passed when a
    call from that code, outside the function's own body and outside the
    keep-list, passes it by keyword or by position.  Names are matched by
    spelling, so a common name such as ``read`` is always reached.
    Returns the unreachable names, the unpassed parameters
    (``module:function:param``), both keep-list excluded, and the
    keep-list entries that are gone or that live code reaches or passes."""
    outside = [
        p for root in ENTRY_CODE for p in ([root] if root.is_file() else sorted(root.rglob("*.py")))
    ]
    outside_reads: set[str] = set()
    outside_attrs: set[str] = set()
    calls: list[tuple[int | None, tuple[str, int, set[str]]]] = []
    for p in outside:
        tree = ast.parse(p.read_text())
        outside_reads |= _reads(tree)
        outside_attrs |= _reads(tree, attributes_only=True)
        calls += [(None, c) for c in _calls(tree, {})]
    # defs: key -> (spelling, owned units, reached by attribute reads only)
    # fns: key -> (function node, called name, positional offset, owned units)
    defs: dict[str, tuple[str, list[ast.AST], bool]] = {}
    fns: dict[str, tuple[ast.FunctionDef, str, int, list[ast.AST]]] = {}
    units: list[ast.AST] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        for stmt in tree.body:
            for unit in _parts(stmt):
                units.append(unit)
                calls += [(id(unit), c) for c in _calls(unit, aliases)]
        rel = path.relative_to(PACKAGE).as_posix()
        for name, node in _module_defs(tree).items():
            if name.startswith("_") or _is_registered(node):
                continue
            key = f"{rel}:{name}"
            defs[key] = (name, _parts(node), False)
            if isinstance(node, ast.FunctionDef):
                fns[key] = (node, name, 0, [node])
            if not isinstance(node, ast.ClassDef):
                continue
            for m in node.body:
                if not isinstance(m, ast.FunctionDef):
                    continue
                if m.name == "__init__":
                    fns[f"{key}.__init__"] = (m, name, 1, [m])
                elif not m.name.startswith("_"):
                    defs[f"{key}.{m.name}"] = (m.name, [m], True)
                    static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                    fns[f"{key}.{m.name}"] = (m, m.name, 0 if static else 1, [m])
    unit_reads = {id(u): (_reads(u), _reads(u, attributes_only=True)) for u in units}
    dead: set[str] = set()

    def skipped(*keys: str) -> set[int]:
        return {id(u) for k in (*keys, *dead) for u in defs[k][1]}

    def reached(key: str) -> bool:
        name, _, method = defs[key]
        skip = skipped(key)
        return name in (outside_attrs if method else outside_reads) or any(
            name in unit_reads[id(u)][method] for u in units if id(u) not in skip
        )

    while newly := {k for k in defs.keys() - dead - KEEP_UNREACHABLE.keys() if not reached(k)}:
        dead |= newly

    kept_units = {id(u) for k in KEEP_UNREACHABLE if k in defs for u in defs[k][1]}

    def passed(fn_key: str, param: str, pos: int | None) -> bool:
        _, called, offset, own = fns[fn_key]
        skip = skipped() | kept_units | {id(u) for u in own}
        return any(
            name == called and (param in kws or "**" in kws or (pos is not None and npos + offset > pos))
            for unit, (name, npos, kws) in calls
            if unit not in skip
        )

    status: dict[str, bool] = {}
    for fn_key, (fn, *_) in fns.items():
        owner = fn_key.rsplit(".", 1)[0] if "." in fn_key.split(":")[1] else fn_key
        if {owner, fn_key} & (dead | KEEP_UNREACHABLE.keys()):
            continue
        for param, pos in _defaulted(fn):
            status[f"{fn_key}:{param}"] = passed(fn_key, param, pos)
    unpassed = sorted(k for k, ok in status.items() if not ok and k not in KEEP_UNREACHABLE)
    stale_keeps = {
        k for k in KEEP_UNREACHABLE
        if ((k not in status or status[k]) if k.count(":") == 2
            else (k not in defs or reached(k)))
    }
    return sorted(dead), unpassed, stale_keeps


def test_every_public_package_name_is_reachable():
    """No public package code survives only because a test calls it.

    Every public module-level function, class or constant, and every
    public method, must be read by an entry point or by code they reach,
    and every defaulted parameter of such a function or method must be
    passed by one of their calls (see ``_reachability``).  The keep-list
    is checked too: a kept name or parameter that gains a real caller, or
    no longer exists, must leave it."""
    dead, unpassed, stale_keeps = _reachability()
    assert not dead and not unpassed and not stale_keeps, (
        "public names no entry point reaches:\n" + "\n".join(dead)
        + "\ndefaulted parameters no entry-point call passes:\n" + "\n".join(unpassed)
        + "\nkeep-list entries that are gone or now have a caller (drop them "
        "from KEEP_UNREACHABLE):\n" + "\n".join(sorted(stale_keeps))
    )
