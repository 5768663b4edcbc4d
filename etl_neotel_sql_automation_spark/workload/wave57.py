"""Round-8 wave-57 workload: lineitem_price_elasticity — per-brand
log-log price elasticity of demand: the OLS slope of ln(quantity) on
ln(unit price) within each part brand. wave-52 fits ONE plane on raw
units; this is the econometric transform workload — elasticity is THE
retail readout (a slope of -1.2 means "1% price cut buys 1.2% volume")
and the log-log transform is what makes a multiplicative demand model
linear. Nothing else in the registry regresses on a transformed
variable.

Determinism: ln is evaluated per row and immediately quantized to
integer MICRO-NATS (CAST(round(ln(..) * 1e6) AS BIGINT) — the
quality_info_gain idiom), so all six per-brand moment sums are exact
integers in BIGINT/DECIMAL(38,0)/HUGEINT and summation order cannot
flip anything; a last-ulp libm divergence would need to land within
1e-10 of a rounding boundary to matter. Slope / intercept / R^2 are
one fixed double expression each over the exact moments, round(6).

Scale shape: one projection (two ln's + rounding) into one
brand-keyed combinable aggregate — 25 output rows at any corpus size,
map-side partials all the way; no joins, no windows over data-scaled
frames. The degenerate guard (a brand whose x has zero variance)
returns NULL elasticity via a CASE on the exact integer determinant,
not a float epsilon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def elasticity_frame(li: DataFrame) -> DataFrame:
    """Frame core of lineitem_price_elasticity (scaling-probe entry):
    expects lineitem joined (or selectable) with p_brand."""
    base = li.select(
        "p_brand",
        F.expr(
            "CAST(round(ln(l_extendedprice / l_quantity) * 1000000)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr("CAST(round(ln(l_quantity) * 1000000) AS BIGINT)").alias("y"),
    )
    m = base.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * x")).cast(_DEC).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {_DEC}) * y")).cast(_DEC).alias("syy"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * y")).cast(_DEC).alias("sxy"),
    )
    det = f"(n * sxx - CAST(sx AS {_DEC}) * sx)"
    dey = f"(n * syy - CAST(sy AS {_DEC}) * sy)"
    cov = f"(n * sxy - CAST(sx AS {_DEC}) * sy)"
    slope = f"(CAST({cov} AS DOUBLE) / CAST({det} AS DOUBLE))"
    return m.select(
        "p_brand",
        "n",
        F.expr(
            f"CASE WHEN {det} = 0 THEN NULL"
            f" ELSE round({slope}, 6) END"
        ).alias("elasticity"),
        F.expr(
            f"CASE WHEN {det} = 0 THEN NULL"
            f" ELSE round((sy - {slope} * sx) / (n * 1.0e6), 6) END"
        ).alias("intercept_ln"),
        F.expr(
            f"CASE WHEN {det} = 0 OR {dey} = 0 THEN NULL"
            f" ELSE round(CAST({cov} AS DOUBLE) * CAST({cov} AS DOUBLE)"
            f" / (CAST({det} AS DOUBLE) * CAST({dey} AS DOUBLE)), 6) END"
        ).alias("r_squared"),
    ).orderBy("p_brand")


@query(
    "lineitem_price_elasticity",
    oracle="""
    WITH base AS (
      SELECT p_brand,
             CAST(round(ln(l_extendedprice / l_quantity) * 1000000)
                  AS BIGINT) AS x,
             CAST(round(ln(l_quantity) * 1000000) AS BIGINT) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    m AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM base GROUP BY p_brand
    )
    SELECT p_brand, n,
           CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
           END AS elasticity,
           CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round((sy - (CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                                       AS DOUBLE)
                                  / CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                                         AS DOUBLE)) * sx)
                           / (n * 1.0e6), 6)
           END AS intercept_ln,
           CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR n * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
                ELSE round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                           * CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                                  AS DOUBLE)
                      / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                         * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                                AS DOUBLE)), 6)
           END AS r_squared
    FROM m ORDER BY p_brand
    """,
)
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log price elasticity: OLS slope of ln(quantity)
    on ln(unit price) from micro-nat-quantized logs, with intercept
    (ln units) and R-squared, over the lineitem-part star."""
    li = table(spark, sf_dir, "lineitem").join(
        F.broadcast(table(spark, sf_dir, "part").select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return elasticity_frame(li)
