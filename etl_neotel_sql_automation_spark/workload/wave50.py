"""Round-8 wave-50 workload: events_anova_f — one-way ANOVA across the
four hash arms of the events table, the k-group generalization that
completes the classical readout ladder (events_ab_test is the 2-arm
proportion z; events_welch_ttest the 2-arm unequal-variance mean;
agg_kruskal_wallis the k-group RANK test — this is its parametric
twin on the raw per-user means, and no other registered query
partitions variance into between/within components).

Determinism (house style, the kruskal precedent): per-user value in
exact BIGINT cents; per-arm moment sums (n, s, ss) in
BIGINT/DECIMAL(38,0)/HUGEINT; the cross-arm sum-of-squares term
A = sum_g(s_g^2 div n_g) uses INTEGER floor division inside the exact
aggregate — the floor bias is <= k (= 4) cents^2 against components of
order 1e14, and it buys bit-exact cross-engine agreement where a float
sum over groups would be summation-order-hostage. The variance
components (ss_between / ss_within / ss_total) are therefore exact
integers emitted as BIGINT; only the final F and eta^2 touch doubles,
each a fixed closed form over those integers, round(6).

Scale shape: one user-keyed combinable aggregate into a 4-row arm
frame; every pooled scalar (N, S, T, A, k) is an unpartitioned window
over those 4 rows (the r7 pooled-window lesson — no 1-row crossJoin
recompute). At 100 TB the only shuffle is the per-user groupBy; the
arm frame is k rows regardless of corpus size. BIGINT components hold
to ~9e18 cents^2 (sf0.1 sits at ~1e14); past that the same frame
re-emits the components as DECIMAL(38,0) without changing the F.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def anova_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_anova_f (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .alias("v")
    ).select((F.col("user_id") % 4).cast("int").alias("arm"), "v")
    arm = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(v AS {_DEC}) * v")).cast(_DEC).alias("ss"),
    )
    armw = arm.select(
        "*",
        F.expr("sum(n_users) OVER ()").alias("n_total"),
        F.expr(f"sum(CAST(s AS {_DEC})) OVER ()").alias("s_tot"),
        F.expr("sum(ss) OVER ()").alias("t_tot"),
        # integer floor-div inside the exact sum (kruskal precedent):
        # bias <= k cents^2, bit-exact on both engines
        F.expr(
            f"sum((CAST(s AS {_DEC}) * s) div n_users) OVER ()"
        ).alias("a_tot"),
        F.expr("count(*) OVER ()").alias("k_groups"),
    )
    ssb = "(a_tot - (s_tot * s_tot) div n_total)"
    ssw = "(t_tot - a_tot)"
    sst = "(t_tot - (s_tot * s_tot) div n_total)"
    return armw.select(
        "arm",
        "n_users",
        F.expr("round(s * 1.0e0 / n_users, 6)").alias("mean_cents"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("k_groups").cast("bigint").alias("k_groups"),
        F.expr(f"CAST({ssb} AS BIGINT)").alias("ss_between"),
        F.expr(f"CAST({ssw} AS BIGINT)").alias("ss_within"),
        F.expr("CAST(k_groups - 1 AS BIGINT)").alias("df_between"),
        F.expr("CAST(n_total - k_groups AS BIGINT)").alias("df_within"),
        F.expr(
            f"round(CAST({ssb} AS DOUBLE) * (n_total - k_groups)"
            f" / ((k_groups - 1.0e0) * CAST({ssw} AS DOUBLE)), 6)"
        ).alias("f_stat"),
        F.expr(
            f"round(CAST({ssb} AS DOUBLE) / CAST({sst} AS DOUBLE), 6)"
        ).alias("eta_sq"),
    ).orderBy("arm")


@query(
    "events_anova_f",
    oracle="""
    WITH u AS (
      SELECT CAST(user_id % 4 AS INTEGER) AS arm,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ),
    arm AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
      FROM u GROUP BY 1
    ),
    armw AS (
      SELECT *,
             sum(n_users) OVER () AS n_total,
             sum(CAST(s AS HUGEINT)) OVER () AS s_tot,
             sum(ss) OVER () AS t_tot,
             sum((CAST(s AS HUGEINT) * s) // n_users) OVER () AS a_tot,
             count(*) OVER () AS k_groups
      FROM arm
    )
    SELECT arm, n_users,
           round(s * 1.0e0 / n_users, 6) AS mean_cents,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(k_groups AS BIGINT) AS k_groups,
           CAST(a_tot - (s_tot * s_tot) // n_total AS BIGINT) AS ss_between,
           CAST(t_tot - a_tot AS BIGINT) AS ss_within,
           CAST(k_groups - 1 AS BIGINT) AS df_between,
           CAST(n_total - k_groups AS BIGINT) AS df_within,
           round(CAST(a_tot - (s_tot * s_tot) // n_total AS DOUBLE)
                 * (n_total - k_groups)
                 / ((k_groups - 1.0e0) * CAST(t_tot - a_tot AS DOUBLE)), 6)
             AS f_stat,
           round(CAST(a_tot - (s_tot * s_tot) // n_total AS DOUBLE)
                 / CAST(t_tot - (s_tot * s_tot) // n_total AS DOUBLE), 6)
             AS eta_sq
    FROM armw ORDER BY arm
    """,
)
def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA on per-user total value across four hash arms:
    per-arm n/mean, exact between/within sum-of-squares partition,
    degrees of freedom, the F statistic and eta-squared effect size."""
    return anova_frame(table(spark, sf_dir, "events"))
