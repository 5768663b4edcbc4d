"""The exact cosine, the exact Jaccard and the cross-engine hash are
each written once: ``ops.similarity.cos6`` is the round-6 quotient
``dot(a, b) / (|a| * |b|)`` that every similarity oracle replays,
``ops.dedup.jaccard6`` the round-6 quotient ``n / (a + b - n)`` that
every Jaccard oracle replays, ``ops.hashing`` the md5 -> 60-bit rule
(first 15 hex chars of md5) and the 60-bit word table on each engine,
``workload._SQL_CENTS`` the money-in-cents rule ``round(value * 100)``
(one SQL text both engines read), ``workload.experiments.sql_arm`` the
``user_id % k`` arm split, and every other module goes through them. A second hand-written copy
can drift from the oracle rule (a different rounding, a per-pair norm,
another prefix length), so the package may hold exactly one of each.
Static, so a new module cannot bring a copy back."""

from __future__ import annotations

import ast
import os
import re

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


_MD5_PREFIX = re.compile(r"substr(?:ing)?\(\s*(?:F\.)?md5\(")


def _md5_prefix_len(src: str, start: int) -> str | None:
    """Length argument of the ``substr(md5(...), 1, N)`` opened at
    ``start`` (just past ``md5(``), skipping the nested md5 argument."""
    depth, i = 1, start
    while depth and i < len(src):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        i += 1
    m = re.match(r"\s*,\s*1\s*,\s*(\d+)", src[i:])
    return m.group(1) if m else None


def _md5_rule_copies() -> list[tuple[str, str]]:
    """(module path, enclosing function) of every 15-char md5 prefix
    taken in Spark or DuckDB text — the md5 -> 60-bit rule spelled out.
    A 16-char prefix (``wave9``'s string digest) is a different rule."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            funcs = [
                n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)
            ]
            for m in _MD5_PREFIX.finditer(src):
                if _md5_prefix_len(src, m.end()) != "15":
                    continue
                line = src.count("\n", 0, m.start()) + 1
                scope = [fn.name for fn in funcs if fn.lineno <= line <= fn.end_lineno]
                found.append((os.path.relpath(path, PACKAGE), (["<module>"] + scope)[-1]))
    return found


def test_md5_rule_written_once_per_engine_in_hashing():
    hashing = os.path.join("ops", "hashing.py")
    assert _md5_rule_copies() == [(hashing, "md5_long"), (hashing, "sql_md5_long")]


def test_bit_table_built_only_in_hashing():
    """The 60-bit word table (``bit_or`` over one-bit masks) is built in
    one function per engine, ``ops.hashing.bit_words`` / ``sql_bit_words``."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f)) as fh:
                    if re.search(r"bit_or\(", fh.read()):
                        found.append(os.path.relpath(os.path.join(root, f), PACKAGE))
    assert found == [os.path.join("ops", "hashing.py")]


def _copies(pattern: str) -> dict[str, int]:
    """Package module path -> number of matches of ``pattern``."""
    found = {}
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    n = len(re.findall(pattern, fh.read()))
                if n:
                    found[os.path.relpath(path, PACKAGE)] = n
    return found


def test_cents_rule_written_once_in_workload_init():
    """``round(value * 100)``, as SQL text or over ``F.col("value")``,
    is written once: ``workload._SQL_CENTS``, which DuckDB oracles
    splice and ``workload.cents()`` parses for Spark."""
    rule = r"round\(\s*(?:F\.col\(\s*[\"']value[\"']\s*\)|value)\s*\*\s*100\s*\)"
    assert _copies(rule) == {os.path.join("workload", "__init__.py"): 1}


def test_arm_split_written_only_in_experiments():
    """The arm split, ``user_id`` modulo 2, 4 or a variable arm count,
    is written once, in ``workload.experiments.sql_arm``; the Spark
    ``arm`` parses that text. (``user_id % 5`` in ``temporal`` is a
    divide-by-zero guard, not an arm.)"""
    split = r"user_id[\"']?\)?\s*%\s*(?:[24]\b|\{)"
    assert _copies(split) == {os.path.join("workload", "experiments.py"): 1}
