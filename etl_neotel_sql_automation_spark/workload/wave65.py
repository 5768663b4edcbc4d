"""Round-8 wave-65 workload: lineitem_within_estimator — the one-way
fixed-effects (within) regression, the panel-data estimator: slope of
revenue on quantity AFTER demeaning both within each supplier, so
every supplier-level confounder (pricing tier, product mix) drops
out. wave-52's pooled OLS answers "how do revenue and quantity covary
across the corpus"; the within estimator answers the causal-flavored
"within a given supplier". The contrast between the two slopes is the
classic panel diagnostic for entity-level confounding, and no other
registered query removes fixed effects.

Method (exact): demeaned cross-moments via the per-cluster identity
  Sxy_within = sum xy - sum_c (Sx_c * Sy_c div n_c)
  Sxx_within = sum x^2 - sum_c (Sx_c^2     div n_c)
with the per-cluster division taken as integer floor-div inside the
exact DECIMAL(38,0)/HUGEINT aggregate (the agg_kruskal_wallis
precedent: bias <= #clusters against components of order 1e13+, and
it buys summation-order-proof cross-engine exactness). Slope, the
pooled-OLS slope on the same units, and the within R^2 are fixed
double expressions over the exact integers, round(6).

Scale shape: one projection -> one supplier-keyed combinable
aggregate (cluster moments) -> one 1-row total. Two exchanges, no
joins, no windows over data-scaled frames; at 100 TB only the
cluster aggregate grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def within_frame(li: DataFrame) -> DataFrame:
    """Frame core of lineitem_within_estimator (scaling-probe entry):
    FE by l_suppkey, y = revenue cents, x = quantity."""
    base = li.select(
        F.col("l_suppkey").alias("c"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    cl = base.groupBy("c").agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("x").cast("bigint").alias("sx_c"),
        F.sum("y").cast("bigint").alias("sy_c"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * x")).cast(_DEC).alias("sxx_c"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * y")).cast(_DEC).alias("sxy_c"),
        F.sum(F.expr(f"CAST(y AS {_DEC}) * y")).cast(_DEC).alias("syy_c"),
    )
    t = cl.agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("g_suppliers"),
        F.sum("sx_c").cast("bigint").alias("sx"),
        F.sum("sy_c").cast("bigint").alias("sy"),
        F.sum("sxx_c").cast(_DEC).alias("sxx"),
        F.sum("sxy_c").cast(_DEC).alias("sxy"),
        F.sum("syy_c").cast(_DEC).alias("syy"),
        # Spark `div` returns BIGINT even on decimals: re-widen each
        # per-cluster term to DECIMAL before summing, or the SUM
        # accumulator overflows long near 1e19 (hit at sf0.1)
        F.sum(
            F.expr(f"CAST((CAST(sx_c AS {_DEC}) * sx_c) div n_c AS {_DEC})")
        ).cast(_DEC).alias("wxx"),
        F.sum(
            F.expr(f"CAST((CAST(sx_c AS {_DEC}) * sy_c) div n_c AS {_DEC})")
        ).cast(_DEC).alias("wxy"),
        F.sum(
            F.expr(f"CAST((CAST(sy_c AS {_DEC}) * sy_c) div n_c AS {_DEC})")
        ).cast(_DEC).alias("wyy"),
    )
    # within (demeaned-by-cluster) moments — exact decimals
    dxx = "(sxx - wxx)"
    dxy = "(sxy - wxy)"
    dyy = "(syy - wyy)"
    # pooled (grand-demeaned) moments for the contrast
    pxx = f"(n * sxx - CAST(sx AS {_DEC}) * sx)"
    pxy = f"(n * sxy - CAST(sx AS {_DEC}) * sy)"
    w_slope = f"(CAST({dxy} AS DOUBLE) / CAST({dxx} AS DOUBLE))"
    return t.select(
        "n",
        "g_suppliers",
        F.expr(f"round({w_slope}, 6)").alias("within_slope"),
        F.expr(
            f"round(CAST({pxy} AS DOUBLE) / CAST({pxx} AS DOUBLE), 6)"
        ).alias("pooled_slope"),
        F.expr(
            f"round(CAST({dxy} AS DOUBLE) * CAST({dxy} AS DOUBLE)"
            f" / (CAST({dxx} AS DOUBLE) * CAST({dyy} AS DOUBLE)), 6)"
        ).alias("within_r_squared"),
    )


@query(
    "lineitem_within_estimator",
    oracle="""
    WITH base AS (
      SELECT l_suppkey AS c,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    cl AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_c,
             CAST(sum(x) AS BIGINT) AS sx_c,
             CAST(sum(y) AS BIGINT) AS sy_c,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx_c,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy_c,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy_c
      FROM base GROUP BY c
    ),
    t AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS g_suppliers,
             CAST(sum(sx_c) AS BIGINT) AS sx,
             CAST(sum(sy_c) AS BIGINT) AS sy,
             CAST(sum(sxx_c) AS HUGEINT) AS sxx,
             CAST(sum(sxy_c) AS HUGEINT) AS sxy,
             CAST(sum(syy_c) AS HUGEINT) AS syy,
             CAST(sum((CAST(sx_c AS HUGEINT) * sx_c) // n_c) AS HUGEINT)
               AS wxx,
             CAST(sum((CAST(sx_c AS HUGEINT) * sy_c) // n_c) AS HUGEINT)
               AS wxy,
             CAST(sum((CAST(sy_c AS HUGEINT) * sy_c) // n_c) AS HUGEINT)
               AS wyy
      FROM cl
    )
    SELECT n, g_suppliers,
           round(CAST(sxy - wxy AS DOUBLE) / CAST(sxx - wxx AS DOUBLE), 6)
             AS within_slope,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
             AS pooled_slope,
           round(CAST(sxy - wxy AS DOUBLE) * CAST(sxy - wxy AS DOUBLE)
                 / (CAST(sxx - wxx AS DOUBLE) * CAST(syy - wyy AS DOUBLE)),
                 6) AS within_r_squared
    FROM t
    """,
)
def lineitem_within_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects (within) slope of revenue cents on
    quantity demeaned per supplier, beside the pooled OLS slope and
    the within R-squared — the panel confounding diagnostic."""
    return within_frame(table(spark, sf_dir, "lineitem"))
