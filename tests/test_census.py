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
