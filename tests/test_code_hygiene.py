"""Static checks on the registry modules — stdlib ``ast`` only, no
Spark, so they cost milliseconds."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "nosql_join_stream_spark")


def _unused_local_imports(path: str) -> list[str]:
    """``file:line name`` for every name a function-local import binds
    that the function body (nested functions included) never reads."""
    tree = ast.parse(open(path).read(), path)
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        # only imports in this function's own scope: nested defs are
        # visited as functions of their own
        stack = list(fn.body)
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef, ast.Lambda)):
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in used:
                        hits.append(f"{os.path.basename(path)}:"
                                    f"{node.lineno} {bound}")
            stack.extend(ast.iter_child_nodes(node))
    return hits


def test_registry_functions_have_no_unused_local_imports():
    files = sorted(glob.glob(os.path.join(PKG, "queries*.py")))
    assert files
    hits = [h for f in files for h in _unused_local_imports(f)]
    assert not hits, f"{len(hits)} unused function-local imports: {hits}"
