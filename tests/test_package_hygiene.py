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

# Public names kept although no entry point reads them; each with why.
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
}


def _is_registered(node: ast.AST) -> bool:
    """A query builder decorated with ``@register(...)``: an entry point."""
    for deco in getattr(node, "decorator_list", []):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(fn, "id", None) == "register" or getattr(fn, "attr", None) == "register":
            return True
    return False


def _reads(node: ast.AST) -> set[str]:
    """Names read under ``node`` as bare names or attributes; imports,
    ``__all__`` strings and other string literals do not count."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if (isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store))
        or isinstance(n, ast.Attribute)
    }


def _unreachable_public_names() -> tuple[list[str], set[str]]:
    """Apply the reachability rule until nothing more goes.

    A public package name is reachable if code outside its own definition
    reads it: package code, ``tools/``, ``perfbench/`` or
    ``__spark_entry__.py``, but not ``tests/``.  Reads from inside an
    unreachable definition do not count, so the scan repeats until no
    further name drops out.  The keep-list names count as live code.
    Returns the unreachable names (``module:name``, keep-list excluded)
    and the keep-list names that are gone or that live code reads."""
    outside = [
        p for root in ENTRY_CODE for p in ([root] if root.is_file() else sorted(root.rglob("*.py")))
    ]
    outside_reads = set().union(*(_reads(ast.parse(p.read_text())) for p in outside))
    defs: dict[str, ast.AST] = {}
    stmts: list[ast.stmt] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        stmts.extend(tree.body)
        rel = path.relative_to(PACKAGE).as_posix()
        defs.update(
            (f"{rel}:{n}", node)
            for n, node in _module_defs(tree).items()
            if not n.startswith("_") and not _is_registered(node)
        )
    stmt_reads = {id(s): _reads(s) for s in stmts}
    dead: set[str] = set()

    def reached(key: str) -> bool:
        name, own = key.split(":")[1], defs[key]
        skip = {id(own)} | {id(defs[k]) for k in dead}
        return name in outside_reads or any(
            name in stmt_reads[id(s)] for s in stmts if id(s) not in skip
        )

    while newly := {k for k in defs.keys() - dead - KEEP_UNREACHABLE.keys() if not reached(k)}:
        dead |= newly
    stale_keeps = {k for k in KEEP_UNREACHABLE if k not in defs or reached(k)}
    return sorted(dead), stale_keeps


def test_every_public_package_name_is_reachable():
    """No public package code survives only because a test calls it.

    Every public module-level function, class or constant must be read by
    an entry point or by code they reach (see
    ``_unreachable_public_names``).  The keep-list is checked too: a kept
    name that gains a real caller, or no longer exists, must leave it."""
    dead, stale_keeps = _unreachable_public_names()
    assert not dead and not stale_keeps, (
        "public names no entry point reaches:\n" + "\n".join(dead)
        + "\nkeep-list names that are gone or now have a caller (drop them "
        "from KEEP_UNREACHABLE):\n" + "\n".join(sorted(stale_keeps))
    )
