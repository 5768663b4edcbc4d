"""Round-6 wave-26 workload: the intra-week demand concentration
profile (which weekdays carry the revenue, with the max-share weekday
and its lift over uniform — the staffing/capacity readout beside the
seasonal decomposition), demand shares in integer ppm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table

# ---------------------------------------------------------------------------
# orders_weekday_concentration — where in the week the money lands:
# per-weekday revenue share (ppm), the max-share weekday, and its lift
# over the uniform 1/7 in ppm. The capacity-planning readout beside
# timeseries_seasonal_decompose (that one needs trend removal; this is
# the raw operational mix).
# ---------------------------------------------------------------------------


@query(
    "orders_weekday_concentration",
    oracle="""
    WITH w AS (
      SELECT CAST(dayofweek(CAST(date_trunc('day', o_orderdate) AS DATE)) + 1
                  AS INTEGER) AS day_of_week,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(cents) AS BIGINT) AS tot,
             CAST(max(cents) AS BIGINT) AS mx
      FROM w
    )
    SELECT w.day_of_week, w.n_orders, w.cents,
           CAST((1000000 * w.cents) // t.tot AS BIGINT) AS share_ppm,
           CASE WHEN w.cents = t.mx THEN 1 ELSE 0 END AS is_peak,
           CAST((7000000 * w.cents) // t.tot - 1000000 AS BIGINT)
             AS lift_vs_uniform_ppm
    FROM w CROSS JOIN t ORDER BY w.day_of_week
    """,
)
def orders_weekday_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday revenue mix: share ppm, peak flag, and lift over
    the uniform 1/7 in ppm."""
    return weekday_concentration_frame(table(spark, sf_dir, "orders"))


def weekday_concentration_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_weekday_concentration (scaling-probe
    entry)."""
    w = (
        orders.select(
            F.dayofweek(
                F.date_trunc("day", F.col("o_orderdate")).cast("date")
            )
            .cast("int")
            .alias("day_of_week"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("day_of_week")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    t = w.agg(
        F.sum("cents").cast("bigint").alias("tot"),
        F.max("cents").cast("bigint").alias("mx"),
    )
    return (
        w.crossJoin(F.broadcast(t))  # 1-row totals
        .select(
            "day_of_week",
            "n_orders",
            "cents",
            F.expr("CAST((1000000 * cents) div tot AS BIGINT)").alias(
                "share_ppm"
            ),
            F.when(F.col("cents") == F.col("mx"), 1).otherwise(0).alias(
                "is_peak"
            ),
            F.expr(
                "CAST((7000000 * cents) div tot - 1000000 AS BIGINT)"
            ).alias("lift_vs_uniform_ppm"),
        )
        .orderBy("day_of_week")
    )
