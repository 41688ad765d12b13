"""Source lints over the engine package.

- No runtime ``assert``: ``python -O`` strips ``assert`` statements, so a
  guard written as one vanishes in optimized runs. Guards inside function
  bodies must raise explicitly; module-level asserts are import-time
  self-checks on constants and are allowed.
- One fixed-point quantizer: the vector family is EXACT against DuckDB
  because every vector is quantized the same way, ``round(x *
  _CENT_SCALE)``. Only ``similarity._quantize`` multiplies by
  ``_CENT_SCALE``; every other site calls it. (The oracle SQL spells the
  format in f-strings, which are not ``BinOp`` nodes.)
"""

from __future__ import annotations

import ast
import os

import dataflow_pubsub_message_encryption_spark as pkg

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _runtime_asserts(path: str) -> list[int]:
    tree = _parse(path)
    lines = set()
    for fn in ast.walk(tree):
        if isinstance(fn, _FUNCS):
            lines |= {n.lineno for n in ast.walk(fn) if isinstance(n, ast.Assert)}
    return sorted(lines)


def _cent_scale_mults(path: str) -> list[int]:
    tree = _parse(path)
    allowed = set()
    for fn in ast.walk(tree):
        if isinstance(fn, _FUNCS) and fn.name == "_quantize":
            allowed |= {id(n) for n in ast.walk(fn)}
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Mult)
        and id(n) not in allowed
        and any(
            getattr(s, "id", getattr(s, "attr", None)) == "_CENT_SCALE"
            for s in (n.left, n.right)
        )
    )


def _scan(check) -> list[str]:
    root = os.path.dirname(pkg.__file__)
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, os.path.dirname(root))
                found += [f"{rel}:{n}" for n in check(path)]
    return found


def test_engine_has_no_runtime_asserts():
    found = _scan(_runtime_asserts)
    assert not found, (
        "runtime asserts vanish under python -O; raise instead: "
        + ", ".join(found)
    )


def test_cent_scale_only_multiplied_in_quantize():
    found = _scan(_cent_scale_mults)
    assert not found, (
        "spell the fixed-point format through similarity._quantize: "
        + ", ".join(found)
    )
