"""Reachability census: every top-level function, class and module-level
constant in ``ocr_spark/`` must be reached from a production root, not
only from tests.

Roots are ``__spark_entry__.py``, ``bench.py`` and ``perfbench/*.py``. A
definition is reachable when its name is used in a root, in module-level
code of the package (which runs on import), or in the body of a reachable
definition; reachability is iterated to a fixpoint. Matching is by name,
so the census errs towards "reachable": it never reports a definition
that some reachable code names.

A definition kept on purpose without a production caller goes in
ALLOWED with the reason it stays.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOWED = {
    "ocr_spark/streaming/pipeline.py:stream_extraction":
        "streaming form of the reference's job queue: the foreachBatch "
        "caller of extraction and of merge_upsert with overlapping keys",
    "ocr_spark/streaming/pipeline.py:read_document_stream":
        "the inbox reader that feeds stream_extraction",
    "ocr_spark/__init__.py:__version__":
        "package metadata, read by packaging tools and users, not by code",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)  # getattr / registry lookups by name
    return out


def _defined_name(st: ast.stmt) -> str | None:
    """The name a top-level statement defines: a function, a class, or a
    constant bound by ``NAME = ...`` or ``NAME: T = ...``."""
    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return st.name
    if (isinstance(st, ast.Assign) and len(st.targets) == 1
            and isinstance(st.targets[0], ast.Name)):
        return st.targets[0].id
    if (isinstance(st, ast.AnnAssign) and st.value is not None
            and isinstance(st.target, ast.Name)):
        return st.target.id
    return None


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def census() -> tuple[dict[str, int], set[str]]:
    """(definition -> line count, reachable definitions); definitions are
    keyed ``<path>:<name>`` with the path relative to the repo root."""
    bodies: dict[str, tuple[str, set[str]]] = {}
    sizes: dict[str, int] = {}
    live: set[str] = set()
    pkg = os.path.join(REPO, "ocr_spark", "**", "*.py")
    for path in sorted(glob.glob(pkg, recursive=True)):
        rel = os.path.relpath(path, REPO)
        for st in _parse(path).body:
            name = _defined_name(st)
            if name is None:
                live |= _names(st)
                continue
            key = f"{rel}:{name}"
            bodies[key] = (name, _names(st))
            sizes[key] = st.end_lineno - st.lineno + 1
    roots = [os.path.join(REPO, "__spark_entry__.py"),
             os.path.join(REPO, "bench.py"),
             *glob.glob(os.path.join(REPO, "perfbench", "*.py"))]
    for path in roots:
        live |= _names(_parse(path))
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, body) in bodies.items():
            if key not in reached and name in live:
                reached.add(key)
                live |= body
                grew = True
    return sizes, reached


def test_no_test_only_definitions():
    sizes, reached = census()
    orphans = sorted(k for k in sizes if k not in reached and k not in ALLOWED)
    assert not orphans, (
        "reached only from tests (delete, move under tests/, or allow with "
        "a reason):\n" + "\n".join(f"  {k} ({sizes[k]} lines)"
                                  for k in orphans)
    )


def test_allowlist_is_current():
    sizes, reached = census()
    stale = sorted(k for k in ALLOWED if k not in sizes or k in reached)
    assert not stale, f"allowlist entries gone or now reachable: {stale}"
    defaulted, unpassed = knob_census()
    stale = sorted(k for k in KNOB_ALLOWED
                   if k not in defaulted or k not in unpassed)
    assert not stale, f"knob allowlist entries gone or now passed: {stale}"


# Knob guard: a defaulted parameter that no call in the repo passes has
# one value in use and should be a constant. Definitions are top-level
# functions and methods of top-level classes in the package and the two
# roots; calls are read from the package, the roots, perfbench, the tests
# and the verify skill. Calls are matched by name (a class call counts
# for its ``__init__``) and the guard errs towards "passed": a name some
# call invokes with ``*args``/``**kwargs``, or that appears outside call
# position (a callback), is skipped. A name that a file binds as a
# variable or parameter is that variable there, not a callback.

KNOB_ALLOWED = {
    "ocr_spark/datagen.py:corpus_dir.base":
        "deployment path of the cached corpora",
}


def _knob_sources() -> tuple[list[str], list[str]]:
    """(files whose definitions are checked, files whose calls count)."""
    pkg = sorted(glob.glob(os.path.join(REPO, "ocr_spark", "**", "*.py"),
                           recursive=True))
    roots = [os.path.join(REPO, "__spark_entry__.py"),
             os.path.join(REPO, "bench.py")]
    callers = [*pkg, *roots,
               *sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py"))),
               *sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))),
               *sorted(glob.glob(os.path.join(
                   REPO, ".claude", "skills", "verify", "*.py")))]
    return pkg + roots, callers


def _defaulted(fn: ast.FunctionDef,
               method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of each parameter with a default;
    the index counts from the first argument a call passes."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    skip = 1 if method and not static else 0
    first_default = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(positional)
           if i >= first_default]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def knob_census() -> tuple[set[str], list[str]]:
    """(every defaulted parameter, those that no call passes by position
    or by keyword), each keyed ``<path>:<function>.<parameter>``."""
    defs, callers = _knob_sources()
    params: list[tuple[str, str, str, int | None]] = []
    for path in defs:
        rel = os.path.relpath(path, REPO)
        for st in _parse(path).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                params += [(rel, st.name, st.name, p)
                           for p in _defaulted(st, False)]
            elif isinstance(st, ast.ClassDef):
                for m in st.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        called = st.name if m.name == "__init__" else m.name
                        params += [(rel, m.name, called, p)
                                   for p in _defaulted(m, True)]
    n_pos: dict[str, int] = {}
    keywords: dict[str, set[str]] = {}
    opaque: set[str] = set()
    for path in callers:
        tree = _parse(path)
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            callees.add(id(f))
            if (any(isinstance(x, ast.Starred) for x in node.args)
                    or any(k.arg is None for k in node.keywords)):
                opaque.add(name)
            n_pos[name] = max(n_pos.get(name, 0), len(node.args))
            keywords.setdefault(name, set()).update(
                k.arg for k in node.keywords)
        bound = {n.id for n in ast.walk(tree)
                 if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        bound |= {n.arg for n in ast.walk(tree) if isinstance(n, ast.arg)}
        for node in ast.walk(tree):
            if id(node) in callees:
                continue
            if (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                    and node.id not in bound):
                opaque.add(node.id)
            elif isinstance(node, ast.Attribute):
                opaque.add(node.attr)
    unpassed = []
    defaulted = {f"{rel}:{fn}.{param}" for rel, fn, _, (param, _) in params}
    for rel, fn, called, (param, index) in params:
        if called in opaque:
            continue
        if param in keywords.get(called, ()):
            continue
        if index is not None and index < n_pos.get(called, 0):
            continue
        unpassed.append(f"{rel}:{fn}.{param}")
    return defaulted, unpassed


def test_no_unpassed_defaults():
    _, unpassed = knob_census()
    unpassed = [k for k in unpassed if k not in KNOB_ALLOWED]
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters that no call passes (make "
        "each a constant, or allow it with a reason):\n"
        + "\n".join(f"  {k}" for k in unpassed))
