"""Spark-free static checks over the package source."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "sales_azure_data_engineer_project_spark"
)


def _private_defs(tree: ast.Module) -> dict[str, ast.AST]:
    """Module-level ``_``-prefixed functions, classes and constants
    (dunders such as ``__all__`` excluded), each with its defining node."""
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if name.startswith("_") and not name.startswith("__"):
                out[name] = node
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
        for name, node in _private_defs(tree).items():
            used = any(
                name in names for key, names in loads.items() if key != id(node)
            )
            if not used:
                dead.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {name}")
    assert not dead, "unreferenced private names:\n" + "\n".join(dead)
