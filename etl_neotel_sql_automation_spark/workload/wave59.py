"""Round-8 wave-59 workload: orders_energy_distance — the exact
two-sample energy distance between the URGENT and LOW order-price
distributions. The drift family compares distributions through bins
(PSI), the sup-gap (KS) or the transport integral (Wasserstein-1);
energy distance D^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'| is the
L2/characteristic-function member — the statistic behind the energy
two-sample test and MMD's closest classical cousin — and it is
naively O(n*m) in pairwise absolute differences. The point of this
entry is the EXACT O(n log n) re-expression: every pairwise-|diff|
sum collapses to prefix sums over the distinct-value ladder.

Identities (integer cents, tie-safe because equal values contribute
zero):
  sum_{i,j}|x_i - x_j| = 2 * sum_v c_v * (v * C_<(v) - S_<(v))
  sum_{i,j}|x_i - y_j| = sum_v c_v * ((v * Cy_<=(v) - Sy_<=(v))
                          + (Sy_tot - Sy_<=(v)) - v * (m - Cy_<=(v)))
with C/S cumulative counts/sums over values ordered by v (RANGE
frames, so ties are included deterministically on both engines — the
agg_kruskal_wallis distinct-value precedent). All three sums are
exact BIGINTs (DECIMAL(38,0)/HUGEINT internally); only the final
D^2 = 2A/(nm) - B/n^2 - C/m^2 and D = sqrt(D^2) touch doubles, one
fixed expression, round(6).

Scale shape: one combinable (src, value) count aggregate, one
ORDER-BY-value window over the DISTINCT-value frame (bounded by the
price domain, not the row count — the kruskal rank ladder), and a
1-row total. No joins, nothing O(n^2) anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table

_PRIO_X = "1-URGENT"
_PRIO_Y = "5-LOW"


def energy_distance_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_energy_distance (scaling-probe entry)."""
    base = orders.filter(
        F.col("o_orderpriority").isin(_PRIO_X, _PRIO_Y)
    ).select(
        F.when(F.col("o_orderpriority") == _PRIO_X, 0)
        .otherwise(1)
        .alias("src"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    cv = base.groupBy("src", "v").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    # RANGE windows over the distinct-value ladder: strict-below for
    # the within sums, tie-inclusive for the cross sums
    below = "OVER (PARTITION BY src ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    le_y = (
        "OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    tot = "OVER ()"
    w = cv.select(
        "src",
        "v",
        "cnt",
        F.expr(f"coalesce(sum(cnt) {below}, 0)").cast("bigint").alias("c_lt"),
        F.expr(f"coalesce(sum(CAST(cnt AS {_DEC}) * v) {below}, CAST(0 AS {_DEC}))")
        .cast(_DEC)
        .alias("s_lt"),
        F.expr(
            f"coalesce(sum(CASE WHEN src = 1 THEN cnt END) {le_y}, 0)"
        ).cast("bigint").alias("cy_le"),
        F.expr(
            f"coalesce(sum(CASE WHEN src = 1 THEN CAST(cnt AS {_DEC}) * v END)"
            f" {le_y}, CAST(0 AS {_DEC}))"
        ).cast(_DEC).alias("sy_le"),
        F.expr(f"sum(CASE WHEN src = 1 THEN cnt END) {tot}")
        .cast("bigint")
        .alias("m_tot"),
        F.expr(
            f"sum(CASE WHEN src = 1 THEN CAST(cnt AS {_DEC}) * v END) {tot}"
        ).cast(_DEC).alias("sy_tot"),
    )
    agg = w.agg(
        F.sum(F.when(F.col("src") == 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_x"),
        F.sum(F.when(F.col("src") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_y"),
        F.sum(
            F.expr(
                f"CASE WHEN src = 0 THEN 2 * CAST(cnt AS {_DEC})"
                f" * (CAST(v AS {_DEC}) * c_lt - s_lt) END"
            )
        ).cast(_DEC).alias("b_within_x"),
        F.sum(
            F.expr(
                f"CASE WHEN src = 1 THEN 2 * CAST(cnt AS {_DEC})"
                f" * (CAST(v AS {_DEC}) * c_lt - s_lt) END"
            )
        ).cast(_DEC).alias("c_within_y"),
        F.sum(
            F.expr(
                f"CASE WHEN src = 0 THEN CAST(cnt AS {_DEC}) * ("
                f"(CAST(v AS {_DEC}) * cy_le - sy_le)"
                f" + (sy_tot - sy_le)"
                f" - CAST(v AS {_DEC}) * (m_tot - cy_le)) END"
            )
        ).cast(_DEC).alias("a_cross"),
    )
    dsq = (
        "(2.0e0 * CAST(a_cross AS DOUBLE) / (CAST(n_x AS DOUBLE) * n_y)"
        " - CAST(b_within_x AS DOUBLE) / (CAST(n_x AS DOUBLE) * n_x)"
        " - CAST(c_within_y AS DOUBLE) / (CAST(n_y AS DOUBLE) * n_y))"
    )
    return agg.select(
        "n_x",
        "n_y",
        F.expr("CAST(a_cross AS BIGINT)").alias("sum_cross_abs"),
        F.expr("CAST(b_within_x AS BIGINT)").alias("sum_within_x"),
        F.expr("CAST(c_within_y AS BIGINT)").alias("sum_within_y"),
        F.expr(f"round({dsq}, 6)").alias("energy_dsq"),
        F.expr(f"round(sqrt(greatest({dsq}, 0.0e0)), 6)").alias("energy_d"),
    )


@query(
    "orders_energy_distance",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN o_orderpriority = '{_PRIO_X}' THEN 0 ELSE 1 END
               AS src,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderpriority IN ('{_PRIO_X}', '{_PRIO_Y}')
    ),
    cv AS (
      SELECT src, v, CAST(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY src, v
    ),
    w AS (
      SELECT src, v, cnt,
             CAST(coalesce(sum(cnt) OVER (PARTITION BY src ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS c_lt,
             CAST(coalesce(sum(CAST(cnt AS HUGEINT) * v)
               OVER (PARTITION BY src ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS HUGEINT) AS s_lt,
             CAST(coalesce(sum(CASE WHEN src = 1 THEN cnt END)
               OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), 0) AS BIGINT) AS cy_le,
             CAST(coalesce(sum(CASE WHEN src = 1
                  THEN CAST(cnt AS HUGEINT) * v END)
               OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), 0) AS HUGEINT) AS sy_le,
             CAST(sum(CASE WHEN src = 1 THEN cnt END) OVER () AS BIGINT)
               AS m_tot,
             CAST(sum(CASE WHEN src = 1 THEN CAST(cnt AS HUGEINT) * v END)
               OVER () AS HUGEINT) AS sy_tot
      FROM cv
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN src = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_x,
        CAST(sum(CASE WHEN src = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_y,
        CAST(sum(CASE WHEN src = 0 THEN 2 * CAST(cnt AS HUGEINT)
             * (CAST(v AS HUGEINT) * c_lt - s_lt) END) AS HUGEINT)
          AS b_within_x,
        CAST(sum(CASE WHEN src = 1 THEN 2 * CAST(cnt AS HUGEINT)
             * (CAST(v AS HUGEINT) * c_lt - s_lt) END) AS HUGEINT)
          AS c_within_y,
        CAST(sum(CASE WHEN src = 0 THEN CAST(cnt AS HUGEINT) * (
             (CAST(v AS HUGEINT) * cy_le - sy_le)
             + (sy_tot - sy_le)
             - CAST(v AS HUGEINT) * (m_tot - cy_le)) END) AS HUGEINT)
          AS a_cross
      FROM w
    )
    SELECT n_x, n_y,
           CAST(a_cross AS BIGINT) AS sum_cross_abs,
           CAST(b_within_x AS BIGINT) AS sum_within_x,
           CAST(c_within_y AS BIGINT) AS sum_within_y,
           round(2.0e0 * CAST(a_cross AS DOUBLE)
                   / (CAST(n_x AS DOUBLE) * n_y)
                 - CAST(b_within_x AS DOUBLE) / (CAST(n_x AS DOUBLE) * n_x)
                 - CAST(c_within_y AS DOUBLE) / (CAST(n_y AS DOUBLE) * n_y),
                 6) AS energy_dsq,
           round(sqrt(greatest(
                 2.0e0 * CAST(a_cross AS DOUBLE)
                   / (CAST(n_x AS DOUBLE) * n_y)
                 - CAST(b_within_x AS DOUBLE) / (CAST(n_x AS DOUBLE) * n_x)
                 - CAST(c_within_y AS DOUBLE) / (CAST(n_y AS DOUBLE) * n_y),
                 0.0e0)), 6) AS energy_d
    FROM agg
    """,
)
def orders_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample energy distance between the URGENT and LOW
    total-price distributions: the three pairwise |diff| sums as exact
    integers (via distinct-value prefix ladders) and the energy
    statistic D^2 / D."""
    return energy_distance_frame(table(spark, sf_dir, "orders"))
