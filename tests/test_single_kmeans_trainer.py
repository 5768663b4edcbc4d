"""The engine has one k-means trainer: ``ops.similarity._kmeans_local``
fits every IVF/PQ quantizer on a capped sample collected in one Spark
job. pyspark.ml's distributed ``KMeans`` runs ~20 tiny Spark jobs per
fit, so no module of the package may import ``pyspark.ml`` at all.
Static, so a new module cannot bring the per-iteration trainer back."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_neotel_sql_automation_spark",
)


def _imports_pyspark_ml(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        names = [a.name for a in node.names]
    elif isinstance(node, ast.ImportFrom) and node.module:
        names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    else:
        return False
    return any(n == "pyspark.ml" or n.startswith("pyspark.ml.") for n in names)


def test_package_never_imports_pyspark_ml():
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{os.path.relpath(path, PACKAGE)}:{n.lineno}"
                for n in ast.walk(tree)
                if _imports_pyspark_ml(n)
            ]
    assert not offenders, offenders
