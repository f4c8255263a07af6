"""Guard against unreachable package code.

Every module-level ``def``/``class`` in the package must be named
somewhere besides its own definition: in another package module, a
test, a script, the benchmark, ``bench.py`` or ``__spark_entry__.py``,
or elsewhere in its own module. A definition nothing names is dead and
should be deleted rather than carried.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "purpleair_data_logger_spark")


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _unreferenced() -> list[str]:
    package = _py_files(PACKAGE)
    searched = package + [
        *_py_files(os.path.join(ROOT, "tests")),
        *_py_files(os.path.join(ROOT, "scripts")),
        *_py_files(os.path.join(ROOT, "perfbench")),
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]
    # Whole-word occurrences of a name are exactly the \w+ runs equal
    # to it, so one count over every file answers each lookup.
    words: Counter = Counter()
    for path in searched:
        with open(path) as f:
            words.update(re.findall(r"\w+", f.read()))
    dead = []
    for path in package:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # the definition itself is one occurrence
            if words[node.name] == 1:
                dead.append(f"{os.path.relpath(path, ROOT)}::{node.name}")
    return dead


def test_every_package_definition_is_referenced():
    assert _unreferenced() == []
