"""Source lint: no runtime ``assert`` in the engine package.

``python -O`` strips ``assert`` statements, so a guard written as one
vanishes in optimized runs. Guards inside function bodies must raise
explicitly; module-level asserts are import-time self-checks on constants
and are allowed.
"""

from __future__ import annotations

import ast
import os

import dataflow_pubsub_message_encryption_spark as pkg

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _runtime_asserts(path: str) -> list[int]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    lines = set()
    for fn in ast.walk(tree):
        if isinstance(fn, _FUNCS):
            lines |= {n.lineno for n in ast.walk(fn) if isinstance(n, ast.Assert)}
    return sorted(lines)


def test_engine_has_no_runtime_asserts():
    root = os.path.dirname(pkg.__file__)
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, os.path.dirname(root))
                found += [f"{rel}:{n}" for n in _runtime_asserts(path)]
    assert not found, (
        "runtime asserts vanish under python -O; raise instead: "
        + ", ".join(found)
    )
