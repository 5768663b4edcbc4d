"""Round-8 wave-52 workload: lineitem_ols_normal_eq — two-regressor
ordinary least squares with intercept, solved in closed form from the
normal equations. The regr_* family (SURVEY §2.4) covers SIMPLE
regression (one x); this is the multiple-regression step — revenue
cents on (quantity, discount basis points) — and it is the canonical
"sufficient statistics" workload: ONE combinable aggregate pass
produces the nine moment sums, and everything downstream is scalar
algebra on a 1-row frame. That shape is exactly what survives 100 TB:
no second pass, no per-coefficient iteration, map-side partial
aggregation all the way down.

Method: with centered moments scaled by n to stay integral —
A11 = n*Sx1x1 - Sx1^2, A22 = n*Sx2x2 - Sx2^2, A12 = n*Sx1x2 - Sx1*Sx2,
B1 = n*Sx1y - Sx1*Sy, B2 = n*Sx2y - Sx2*Sy — Cramer's rule gives
b1 = (A22*B1 - A12*B2)/det, b2 = (A11*B2 - A12*B1)/det,
b0 = (Sy - b1*Sx1 - b2*Sx2)/n, and R^2 = (b1*B1 + b2*B2)/SST_n with
SST_n = n*Syy - Sy^2.

Determinism: every moment sum is an exact integer (BIGINT first
moments, DECIMAL(38,0)/HUGEINT second moments — Syy alone passes
BIGINT range near sf1), so the aggregation is summation-order-proof.
The centered moments (~1e17..1e20 at sf0.1) are each cast to DOUBLE
once — round-to-nearest, identical on both engines — and the
coefficient formulas are the SAME fixed expression tree on both sides
(the wave-48 precedent: identical IEEE op sequence => bit-identical
doubles), finished with round(6). The cross-moment PRODUCTS
(A22*B1 ~ 6e37 at sf0.1) are formed in DOUBLE, not decimal — they
brush the DECIMAL(38,0) ceiling exactly where 100x more data would
overflow it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def ols_frame(li: DataFrame) -> DataFrame:
    """Frame core of lineitem_ols_normal_eq (scaling-probe entry):
    OLS of revenue cents on (quantity, discount bp) over any
    lineitem-shaped frame with integral quantities."""
    base = li.select(
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x1"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("x2"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    m = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x1 AS {_DEC}) * x1")).cast(_DEC).alias("sx1x1"),
        F.sum(F.expr(f"CAST(x2 AS {_DEC}) * x2")).cast(_DEC).alias("sx2x2"),
        F.sum(F.expr(f"CAST(x1 AS {_DEC}) * x2")).cast(_DEC).alias("sx1x2"),
        F.sum(F.expr(f"CAST(x1 AS {_DEC}) * y")).cast(_DEC).alias("sx1y"),
        F.sum(F.expr(f"CAST(x2 AS {_DEC}) * y")).cast(_DEC).alias("sx2y"),
        F.sum(F.expr(f"CAST(y AS {_DEC}) * y")).cast(_DEC).alias("syy"),
    )
    # exact centered moments (x n), then ONE decimal->double cast each
    a11 = f"CAST(n * sx1x1 - CAST(sx1 AS {_DEC}) * sx1 AS DOUBLE)"
    a22 = f"CAST(n * sx2x2 - CAST(sx2 AS {_DEC}) * sx2 AS DOUBLE)"
    a12 = f"CAST(n * sx1x2 - CAST(sx1 AS {_DEC}) * sx2 AS DOUBLE)"
    b1n = f"CAST(n * sx1y - CAST(sx1 AS {_DEC}) * sy AS DOUBLE)"
    b2n = f"CAST(n * sx2y - CAST(sx2 AS {_DEC}) * sy AS DOUBLE)"
    sst = f"CAST(n * syy - CAST(sy AS {_DEC}) * sy AS DOUBLE)"
    det = f"({a11} * {a22} - {a12} * {a12})"
    b1 = f"(({a22} * {b1n} - {a12} * {b2n}) / {det})"
    b2 = f"(({a11} * {b2n} - {a12} * {b1n}) / {det})"
    return m.select(
        "n",
        F.expr("round(sx1 * 1.0e0 / n, 6)").alias("mean_qty"),
        F.expr("round(sx2 * 1.0e0 / n, 6)").alias("mean_disc_bp"),
        F.expr("round(sy * 1.0e0 / n, 6)").alias("mean_rev_cents"),
        F.expr(f"round({b1}, 6)").alias("b_qty"),
        F.expr(f"round({b2}, 6)").alias("b_disc_bp"),
        F.expr(
            f"round((sy - {b1} * sx1 - {b2} * sx2) / n, 6)"
        ).alias("b_intercept"),
        F.expr(
            f"round(({b1} * {b1n} + {b2} * {b2n}) / {sst}, 6)"
        ).alias("r_squared"),
    )


_SQL_MOMENTS = """
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1,
             CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS sx1x1,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS sx2x2,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS sx1x2,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS sx1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS sx2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM base
"""

_A11 = "CAST(n * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS DOUBLE)"
_A22 = "CAST(n * sx2x2 - CAST(sx2 AS HUGEINT) * sx2 AS DOUBLE)"
_A12 = "CAST(n * sx1x2 - CAST(sx1 AS HUGEINT) * sx2 AS DOUBLE)"
_B1 = "CAST(n * sx1y - CAST(sx1 AS HUGEINT) * sy AS DOUBLE)"
_B2 = "CAST(n * sx2y - CAST(sx2 AS HUGEINT) * sy AS DOUBLE)"
_SST = "CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)"
_DET = f"({_A11} * {_A22} - {_A12} * {_A12})"
_B1F = f"(({_A22} * {_B1} - {_A12} * {_B2}) / {_DET})"
_B2F = f"(({_A11} * {_B2} - {_A12} * {_B1}) / {_DET})"


@query(
    "lineitem_ols_normal_eq",
    oracle=f"""
    WITH base AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS ({_SQL_MOMENTS})
    SELECT n,
           round(sx1 * 1.0e0 / n, 6) AS mean_qty,
           round(sx2 * 1.0e0 / n, 6) AS mean_disc_bp,
           round(sy * 1.0e0 / n, 6) AS mean_rev_cents,
           round({_B1F}, 6) AS b_qty,
           round({_B2F}, 6) AS b_disc_bp,
           round((sy - {_B1F} * sx1 - {_B2F} * sx2) / n, 6) AS b_intercept,
           round(({_B1F} * {_B1} + {_B2F} * {_B2}) / {_SST}, 6) AS r_squared
    FROM m
    """,
)
def lineitem_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS with intercept (revenue cents on quantity and
    discount basis points), solved in closed form from one pass of
    exact integer sufficient statistics: coefficient vector, intercept
    and R-squared via Cramer's rule on the centered normal equations."""
    return ols_frame(table(spark, sf_dir, "lineitem"))
