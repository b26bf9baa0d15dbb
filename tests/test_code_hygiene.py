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


def _calls_in_default_locations(path: str) -> list[tuple[str, str]]:
    """(function, called name) for each call in an ``if location is
    None:`` block — how an operator picks its default standing dir."""
    tree = ast.parse(open(path).read(), path)
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.If)
                    and isinstance(node.test, ast.Compare)
                    and isinstance(node.test.left, ast.Name)
                    and node.test.left.id == "location"):
                for c in ast.walk(node):
                    if isinstance(c, ast.Call):
                        f = c.func
                        out.append((fn.name, getattr(f, "attr", None)
                                    or getattr(f, "id", None)))
    return out


def test_default_standing_locations_use_artifact_dir():
    calls = [(os.path.basename(f), fn, name)
             for f in glob.glob(os.path.join(PKG, "operators", "*.py"))
             for fn, name in _calls_in_default_locations(f)]
    assert len([c for c in calls if c[2] == "artifact_dir"]) >= 5, calls
    assert not [c for c in calls if c[2] == "getpid"], calls


def test_default_parallelism_is_read_only_by_spread():
    """One narrow-input spread rule: ``defaultParallelism`` is read only
    inside ``operators.spread``, so inlined repartition copies cannot
    grow back."""
    hits = []
    for f in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        tree = ast.parse(open(f).read(), f)
        allowed = set()
        if f.endswith(os.path.join("operators", "__init__.py")):
            allowed = {id(n) for fn in tree.body
                       if isinstance(fn, ast.FunctionDef)
                       and fn.name == "spread" for n in ast.walk(fn)}
        hits += [f"{os.path.relpath(f, PKG)}:{n.lineno}"
                 for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)
                 and n.attr == "defaultParallelism"
                 and id(n) not in allowed]
    assert not hits, hits


def test_tombstone_swap_lives_only_in_sinks():
    """One tombstone set for every standing index: the names of its
    swap's side dirs appear only in ``sinks``, so a second copy of the
    crash-safe swap cannot grow back."""
    hits = []
    for f in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        if os.path.relpath(f, PKG) == "sinks.py":
            continue
        hits += [f"{os.path.relpath(f, PKG)}:{n.lineno}"
                 for n in ast.walk(ast.parse(open(f).read(), f))
                 if isinstance(n, ast.Constant) and isinstance(n.value, str)
                 and ("tombstones_old" in n.value
                      or "tombstones_staging" in n.value)]
    assert not hits, hits


def _top_level_functions_with(path: str, text: str) -> set[str]:
    """Names of the module-level functions whose source holds ``text``."""
    src = open(path).read()
    lines = src.splitlines()
    return {fn.name for fn in ast.parse(src, path).body
            if isinstance(fn, ast.FunctionDef)
            and text in "\n".join(lines[fn.lineno - 1:fn.end_lineno])}


def test_ivf_decisions_have_one_home():
    """One IVF kernel set: the missing-index error is written once, the
    nprobe row fan-out lives in one kernel, and the rounded-cosine rank
    window is spelled only by the shared rank tail and the standing
    probe's GEMM rerank."""
    path = os.path.join(PKG, "operators", "similarity.py")
    assert open(path).read().count("no standing IVF index") == 1
    assert _top_level_functions_with(path, "index.repeat(") == \
        {"_probe_kernel"}
    assert _top_level_functions_with(path, 'orderBy(F.col("sim").desc()') \
        == {"_rank_topk", "ann_ivf_probe"}


def _duplicate_bodies(root: str, min_lines: int = 8) -> list[list[str]]:
    """Groups of ``file:line name`` whose function bodies (docstring
    left out, nested functions included) are AST-identical and span at
    least ``min_lines`` lines."""
    seen: dict[str, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(root, "**", "*.py"),
                              recursive=True)):
        for fn in ast.walk(ast.parse(open(f).read(), f)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = fn.body
            if (isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            if not body or \
                    body[-1].end_lineno - body[0].lineno + 1 < min_lines:
                continue
            key = "\n".join(ast.dump(s) for s in body)
            seen.setdefault(key, []).append(
                f"{os.path.relpath(f, root)}:{fn.lineno} {fn.name}")
    return [v for v in seen.values() if len(v) > 1]


def test_no_two_function_bodies_are_identical():
    """One body per twin: a batch/stream/standing twin calls the shared
    helper instead of carrying a hand copy of its plant or transform."""
    dups = _duplicate_bodies(PKG)
    assert not dups, f"AST-identical function bodies: {dups}"
