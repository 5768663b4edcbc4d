"""Round-8 wave-53 workload: timeseries_cross_corr — the lagged
cross-correlation function between two daily revenue series (two
nations' customer order revenue), lags 0..7. The time-series family
has the single-series ACF (timeseries_acf) and trend/seasonal
decompositions; cross-correlation is the BIVARIATE member — "does
series X lead series Y, and by how many days?" — the lead-lag readout
behind demand transfer, cannibalization and marketing-spillover
questions, and nothing else in the registry relates two series across
time.

Method: per-nation daily revenue in exact BIGINT cents, densified
onto the SHARED integer day-index grid (epoch-day ints, zero-filled —
the timeseries_gapfill spine pattern, but on ints so the lag shift is
plain integer addition on both engines). For each lag L the pairs
(x_t, y_{t+L}) come from one equi-join on day_index + L, and Pearson r
is computed from exact integer moments (n, Sx, Sy, Sxx, Syy, Sxy in
BIGINT/DECIMAL(38,0)/HUGEINT) in one fixed double expression, round 6.

Scale shape: the fact scan aggregates to (date, nation) — combinable,
map-side partial — and everything after lives on the DAY-GRID frame
(a few thousand rows regardless of corpus size): the 8-lag explode,
the shifted equi-joins and the per-lag moment aggregates are all
date-domain-bounded, the house pattern for every forecasting entry.
Dimension joins broadcast (customer/nation star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table

_NAT_X = "NATION_1"
_NAT_Y = "NATION_2"
_MAX_LAG = 7


def cross_corr_frame(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Frame core of timeseries_cross_corr (scaling-probe entry)."""
    # ONE fact pass: both series come out of a single (day) aggregate
    # via conditional sums — a per-nation filter-and-join would scan
    # the orders star once per series (the r7 recompute-per-consumer
    # lesson)
    rev = (
        orders.join(
            F.broadcast(
                customer.join(
                    F.broadcast(
                        nation.filter(
                            F.col("n_name").isin(_NAT_X, _NAT_Y)
                        ).select("n_nationkey", "n_name")
                    ),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                ).select("c_custkey", "n_name")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.expr("datediff(o_orderdate, DATE '1970-01-01')").alias("d"),
            "n_name",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("n_name") == _NAT_X, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("xv"),
            F.sum(F.when(F.col("n_name") == _NAT_Y, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("yv"),
        )
    )
    bounds = rev.agg(
        F.min("d").cast("int").alias("lo"), F.max("d").cast("int").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("d")
    )
    # the zero-filled day frame is date-domain-bounded (~10^3 rows at
    # any corpus size) and consumed twice by the lag self-join:
    # checkpoint it so the fact tree runs ONCE (the r8 CC lesson)
    day = (
        grid.join(rev, "d", "left")
        .select(
            "d",
            F.coalesce("xv", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("yv", F.lit(0)).cast("bigint").alias("y"),
        )
        .localCheckpoint()
    )
    lagged = (
        day.select("d", "x")
        .crossJoin(
            F.broadcast(
                day.sparkSession.range(_MAX_LAG + 1).select(
                    F.col("id").cast("int").alias("lag")
                )
            )
        )
        .join(
            day.select(F.col("d").alias("dy"), "y"),
            F.col("dy") == F.col("d") + F.col("lag"),
        )
    )
    m = lagged.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * x")).cast(_DEC).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {_DEC}) * y")).cast(_DEC).alias("syy"),
        F.sum(F.expr(f"CAST(x AS {_DEC}) * y")).cast(_DEC).alias("sxy"),
    )
    vx = f"CAST(n_days * sxx - CAST(sx AS {_DEC}) * sx AS DOUBLE)"
    vy = f"CAST(n_days * syy - CAST(sy AS {_DEC}) * sy AS DOUBLE)"
    cxy = f"CAST(n_days * sxy - CAST(sx AS {_DEC}) * sy AS DOUBLE)"
    return m.select(
        "lag",
        "n_days",
        F.expr("round(sx * 1.0e0 / n_days, 6)").alias("mean_x_cents"),
        F.expr("round(sy * 1.0e0 / n_days, 6)").alias("mean_y_cents"),
        F.expr(f"round({cxy} / sqrt({vx} * {vy}), 6)").alias("corr_xy"),
    ).orderBy("lag")


@query(
    "timeseries_cross_corr",
    oracle=f"""
    WITH rev AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             n_name,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name IN ('{_NAT_X}', '{_NAT_Y}')
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT CAST(min(d) AS INTEGER) AS lo, CAST(max(d) AS INTEGER) AS hi
      FROM rev
    ),
    grid AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
    xs AS (
      SELECT g.d, CAST(coalesce(r.v, 0) AS BIGINT) AS x
      FROM grid g LEFT JOIN rev r ON r.d = g.d AND r.n_name = '{_NAT_X}'
    ),
    ys AS (
      SELECT g.d, CAST(coalesce(r.v, 0) AS BIGINT) AS y
      FROM grid g LEFT JOIN rev r ON r.d = g.d AND r.n_name = '{_NAT_Y}'
    ),
    lags AS (SELECT unnest(generate_series(0, {_MAX_LAG})) AS lag),
    m AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM xs CROSS JOIN lags JOIN ys ON ys.d = xs.d + lag
      GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, n_days,
           round(sx * 1.0e0 / n_days, 6) AS mean_x_cents,
           round(sy * 1.0e0 / n_days, 6) AS mean_y_cents,
           round(CAST(n_days * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(n_days * sxx - CAST(sx AS HUGEINT) * sx
                             AS DOUBLE)
                        * CAST(n_days * syy - CAST(sy AS HUGEINT) * sy
                               AS DOUBLE)), 6) AS corr_xy
    FROM m ORDER BY lag
    """,
)
def timeseries_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation (lags 0..7) between two nations'
    zero-filled daily order-revenue series: per-lag aligned
    day count, series means, and the exact-moment Pearson r of
    (x_t, y_{t+lag})."""
    return cross_corr_frame(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
    )
