"""Two ``ast``-only guards over the package source (no imports, no Spark).

Reachability: every top-level def/class in the package, and every
non-dunder method of a top-level class, is reachable from a real entry
point: the CLI, the registry, ``__spark_entry__``, the benchmarks or the
tools. The walk is name-based: a reached definition makes every name it
mentions reachable, and a method is reached when live code names it
(``obj.method`` or a string). Dunder methods are reached with their
class. Docstrings do not count as mentions; other string literals do, so
a name built from a string stays live. Names listed in ``__all__`` and
bare imports are not callers.

One kernel per computation: no two function bodies in the package,
nested functions included, are verbatim copies of each other, and no run
of one to three consecutive statements of kernel size appears verbatim in
two functions. The runs are taken from every statement list of a
function (its body and the bodies of its ``if``/``for``/``while``/
``with``/``try`` blocks); nested functions are scanned as functions of
their own."""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "map_reduce_in_go_spark"
ENTRY_MODULES = {"cli.py", "registry.py", "__main__.py"}
EXTRA_ROOTS = ["__spark_entry__.py", "bench.py", "perfbench/*.py", "tools/*.py"]

# Reached only from tests, kept on purpose: each is a reference or a check.
ALLOWED_UNREACHED = {
    "operators/pq.py::ann_ivf_pq": "in-flight reference for the served PqIvfIndex probe",
    "operators/pipeline.py::corpus_clean_composed": "unfused reference for corpus_clean",
    "sources/replicate.py::catalog_divergence": "replica/branch/MOR content check",
    "sources/replicate.py::_content_fingerprint": "helper of catalog_divergence",
    "functions/caching.py::n_persistent_rdds": "check that release_persisted frees caches",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.Module) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, *_DEFS))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _mentions(node: ast.AST, docs: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            out.update(re.findall(r"\w+", n.value))
    return out


def _is_all(st: ast.stmt) -> bool:
    return isinstance(st, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in st.targets
    )


def _is_method(st: ast.stmt) -> bool:
    return isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
        st.name.startswith("__") and st.name.endswith("__")
    )


def _definitions(st: ast.stmt):
    """(name, label, nodes) for each definition a top-level statement makes.
    A class's own nodes leave out its non-dunder methods, which are
    definitions of their own."""
    if isinstance(st, ast.ClassDef):
        methods = [m for m in st.body if _is_method(m)]
        for m in methods:
            yield m.name, f"{st.name}.{m.name}", [m]
        own = [b for b in st.body if b not in methods]
        yield st.name, st.name, [*st.decorator_list, *st.bases, *st.keywords, *own]
    elif isinstance(st, _DEFS):
        yield st.name, st.name, [st]


def unreached() -> set[str]:
    defs: dict[str, list[tuple[str, list[ast.AST], set[int]]]] = {}
    live: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        rel = path.relative_to(PKG).as_posix()
        if rel in ENTRY_MODULES:
            live |= _mentions(tree, docs)
            continue
        for st in tree.body:
            if isinstance(st, _DEFS):
                for name, label, nodes in _definitions(st):
                    defs.setdefault(name, []).append((f"{rel}::{label}", nodes, docs))
            elif not isinstance(st, (ast.Import, ast.ImportFrom)) and not _is_all(st):
                live |= _mentions(st, docs)
    for pattern in EXTRA_ROOTS:
        for path in REPO.glob(pattern):
            tree = ast.parse(path.read_text())
            live |= _mentions(tree, _docstrings(tree))
    todo = list(live & defs.keys())
    while todo:
        for _where, nodes, docs in defs[todo.pop()]:
            mentioned = set().union(*(_mentions(n, docs) for n in nodes))
            new = (mentioned & defs.keys()) - live
            live |= new
            todo.extend(new)
    return {where for name, ds in defs.items() if name not in live for where, *_ in ds}


def test_only_allowlisted_definitions_are_unreached():
    assert unreached() == set(ALLOWED_UNREACHED)


# Bodies smaller than this are idioms (a one-line delegation, a guard),
# not copied kernels.
MIN_COPY_NODES = 25


def _functions(node: ast.AST, prefix: str):
    for child in ast.iter_child_nodes(node):
        if isinstance(child, _DEFS):
            name = f"{prefix}{child.name}"
            if not isinstance(child, ast.ClassDef):
                yield name, child
            yield from _functions(child, f"{name}.")
        else:
            yield from _functions(child, prefix)


def verbatim_copies() -> list[list[str]]:
    """Groups of package functions whose bodies, docstring stripped, dump
    to the same ``ast`` (names, literals and structure all equal)."""
    by_body: dict[str, list[str]] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for name, fn in _functions(ast.parse(path.read_text()), ""):
            body = fn.body
            if ast.get_docstring(fn, clean=False) is not None:
                body = body[1:]
            if sum(1 for st in body for _ in ast.walk(st)) >= MIN_COPY_NODES:
                dump = ast.dump(ast.Module(body=body, type_ignores=[]))
                by_body[dump].append(f"{rel}::{name}")
    return sorted(names for names in by_body.values() if len(names) > 1)


def test_no_function_body_is_a_verbatim_copy():
    assert verbatim_copies() == []


# A run of this many nodes is a kernel step (a scoring block, a commit
# loop); the largest shared runs below it are single statements: one
# table load, one schema lookup, one column expression.
MIN_RUN_NODES = 60
MAX_RUN_STATEMENTS = 3


def _statement_lists(fn: ast.AST):
    """The body of ``fn`` and every block nested in it, nested defs left out."""
    todo = [fn.body]
    while todo:
        body = todo.pop()
        yield body
        for st in body:
            if isinstance(st, _DEFS):
                continue
            for field in ("body", "orelse", "finalbody"):
                todo.append(getattr(st, field, []))
            todo.extend(h.body for h in getattr(st, "handlers", []))


def copied_statement_runs() -> list[tuple[str, ...]]:
    """Sets of package functions that share a verbatim run of 1 to
    ``MAX_RUN_STATEMENTS`` consecutive statements (no def among them) of
    at least ``MIN_RUN_NODES`` ``ast`` nodes."""
    by_run: dict[str, set[str]] = defaultdict(set)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for name, fn in _functions(ast.parse(path.read_text()), ""):
            for body in _statement_lists(fn):
                for i in range(len(body)):
                    for k in range(1, MAX_RUN_STATEMENTS + 1):
                        run = body[i : i + k]
                        if len(run) < k or isinstance(run[-1], _DEFS):
                            break
                        if sum(1 for st in run for _ in ast.walk(st)) >= MIN_RUN_NODES:
                            dump = ast.dump(ast.Module(body=run, type_ignores=[]))
                            by_run[dump].add(f"{rel}::{name}")
    return sorted({tuple(sorted(names)) for names in by_run.values() if len(names) > 1})


def test_no_statement_run_is_a_verbatim_copy():
    assert copied_statement_runs() == []
