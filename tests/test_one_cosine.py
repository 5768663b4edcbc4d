"""The exact cosine is written once: ``ops.similarity.cos6`` is the
round-6 quotient ``dot(a, b) / (|a| * |b|)`` that every similarity
oracle replays, and every other module scores through it. A second
hand-written copy can drift from the oracle rule (a different rounding,
a per-pair norm), so the package may hold exactly one. Static, so a new
module cannot bring a copy back."""

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


class _Finder(ast.NodeVisitor):
    """The enclosing function of every cosine quotient in one module."""

    def __init__(self):
        self.scope, self.hits = ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_BinOp(self, node):
        if _is_cosine_quotient(node):
            self.hits.append(self.scope[-1])
        self.generic_visit(node)


def _quotients() -> list[tuple[str, str]]:
    """(module path, enclosing function) of every cosine quotient."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                finder = _Finder()
                finder.visit(ast.parse(fh.read()))
            found += [(os.path.relpath(path, PACKAGE), fn) for fn in finder.hits]
    return found


def test_cosine_quotient_written_once_in_cos6():
    assert _quotients() == [(os.path.join("ops", "similarity.py"), "cos6")]
