"""Every top-level function, class and assigned name (dunders such as
``__version__`` aside) under kgeng/ is named somewhere outside its own
definition: in code (a call, an import, an attribute, a re-export) of
any .py file in the checkout. Parsed with ``ast``, so a mention in a
comment or docstring does not count."""

from __future__ import annotations

import ast
import os

from tests.conftest import REPO

SKIP_DIRS = {".perfbench_out", ".fixtures", ".git"}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _names(node: ast.AST, skip: range | None = None):
    """Identifiers a tree names, outside the line range ``skip``."""
    for n in ast.walk(node):
        if skip is not None and getattr(n, "lineno", -1) in skip:
            continue
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _defined(stmt: ast.stmt):
    """Names a top-level statement defines: a def or class, or the
    plain names an assignment binds (dunders excluded)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        yield stmt.name
    elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name) and not n.id.startswith("__"):
                    yield n.id


def test_no_unreferenced_top_level_definitions():
    trees = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), filename=path)
    names = {path: set(_names(tree)) for path, tree in trees.items()}
    pkg = os.path.join(REPO, "kgeng") + os.sep
    unused = []
    for path, tree in trees.items():
        if not path.startswith(pkg):
            continue
        elsewhere = set().union(*(n for p, n in names.items() if p != path))
        for d in tree.body:
            for name in _defined(d):
                if name in elsewhere:
                    continue
                own = range(d.lineno, d.end_lineno + 1)
                if name not in set(_names(tree, skip=own)):
                    unused.append(f"{os.path.relpath(path, REPO)}:{d.lineno} {name}")
    assert unused == [], unused
