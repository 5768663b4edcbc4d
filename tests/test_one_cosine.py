"""The exact cosine and the exact Jaccard are each written once:
``ops.similarity.cos6`` is the round-6 quotient ``dot(a, b) / (|a| *
|b|)`` that every similarity oracle replays, ``ops.dedup.jaccard6`` the
round-6 quotient ``n / (a + b - n)`` that every Jaccard oracle replays,
and every other module scores through them. A second hand-written copy
can drift from the oracle rule (a different rounding, a per-pair norm),
so the package may hold exactly one of each. Static, so a new module
cannot bring a copy back."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_neotel_sql_automation_spark",
)


def _is_cosine_quotient(node: ast.AST) -> bool:
    """``dot(...) / (... * ...)``, however the call is spelled."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)):
        return False
    call = node.left
    if not isinstance(call, ast.Call):
        return False
    name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
    return name == "dot" and isinstance(node.right, ast.BinOp) and isinstance(
        node.right.op, ast.Mult
    )


def _is_jaccard_quotient(node: ast.AST) -> bool:
    """``x / (a + b - x)``, the same ``x`` on both sides."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)):
        return False
    den = node.right
    return (
        isinstance(den, ast.BinOp)
        and isinstance(den.op, ast.Sub)
        and isinstance(den.left, ast.BinOp)
        and isinstance(den.left.op, ast.Add)
        and ast.dump(den.right) == ast.dump(node.left)
    )


class _Finder(ast.NodeVisitor):
    """The enclosing function of every quotient ``is_quotient`` accepts
    in one module."""

    def __init__(self, is_quotient):
        self.is_quotient, self.scope, self.hits = is_quotient, ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_BinOp(self, node):
        if self.is_quotient(node):
            self.hits.append(self.scope[-1])
        self.generic_visit(node)


def _quotients(is_quotient) -> list[tuple[str, str]]:
    """(module path, enclosing function) of every quotient ``is_quotient``
    accepts."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                finder = _Finder(is_quotient)
                finder.visit(ast.parse(fh.read()))
            found += [(os.path.relpath(path, PACKAGE), fn) for fn in finder.hits]
    return found


def test_cosine_quotient_written_once_in_cos6():
    assert _quotients(_is_cosine_quotient) == [
        (os.path.join("ops", "similarity.py"), "cos6")
    ]


def test_jaccard_quotient_written_once_in_jaccard6():
    assert _quotients(_is_jaccard_quotient) == [(os.path.join("ops", "dedup.py"), "jaccard6")]
