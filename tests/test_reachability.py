"""Every top-level definition in the package is named somewhere.

A static guard, Spark-free: parse each Python file of the package, the
tests, ``perfbench/``, ``scripts/`` and the root entry files once with
``ast``, count the identifiers they use (names, attribute names, import
aliases; strings and comments do not count), and require each top-level
non-dunder function or class of the package to be named at least once
outside its own body. A definition nothing names is dead code: delete it,
or give it the caller or test that needs it.
"""

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gpq_tiles_spark"
SOURCES = (PACKAGE, "tests", "perfbench", "scripts",
           "bench.py", "bench_extra.py", "__spark_entry__.py")
DEFINITIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _python_files():
    for src in SOURCES:
        path = os.path.join(REPO, src)
        if os.path.isfile(path):
            yield path
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            yield from (os.path.join(root, f) for f in sorted(files)
                        if f.endswith(".py"))


def _identifiers(node) -> Counter:
    names = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names.update(n.name.split("."))
            if n.asname:
                names[n.asname] += 1
    return names


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def test_every_package_definition_is_named_outside_its_body():
    named = Counter()
    definitions = []  # (relpath, node)
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        named.update(_identifiers(tree))
        rel = os.path.relpath(path, REPO)
        if rel.startswith(PACKAGE + os.sep):
            definitions += [(rel, st) for st in tree.body
                            if isinstance(st, DEFINITIONS)
                            and not _is_dunder(st.name)]
    assert definitions, "no package definitions found"
    unnamed = [f"{rel}::{node.name}" for rel, node in definitions
               if named[node.name] <= _identifiers(node)[node.name]]
    assert not unnamed, f"named nowhere outside their own body: {unnamed}"
