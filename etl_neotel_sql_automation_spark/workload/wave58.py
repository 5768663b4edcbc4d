"""Round-8 wave-58 workload: events_tukey_pairs — the post-hoc
pairwise readout that follows a significant ANOVA (wave-50): for every
pair of the four hash arms, the mean difference, its pooled-MSW
standard error, and the studentized-range statistic
q = |diff| / sqrt(MSW/2 * (1/n_i + 1/n_j)) — the Tukey-HSD quantity.
House policy for classical tests applies: the STATISTIC is computed
exactly and the critical-value lookup stays in the analyst's table
(the events_welch_ttest / kruskal precedent — no distribution CDFs in
the engine).

Determinism: reuses wave-50's exact integer machinery — per-user
BIGINT cents, per-arm (n, s, ss) in BIGINT/DECIMAL(38,0)/HUGEINT, the
within-group sum of squares from the same floor-div identity
(SSW = T - sum_g s_g^2 div n_g, bias <= k cents^2) computed as
unpartitioned windows over the 4-row arm frame. The pair frame is the
arm frame theta-joined to itself (6 rows — bounded by k(k-1)/2, never
by data). Every float is a fixed closed form over exact integers,
round(6).

Scale shape: one user-keyed combinable aggregate, windows over 4
rows, a 6-row self-join. At 100 TB only the per-user groupBy grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def tukey_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_tukey_pairs (scaling-probe entry)."""
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
        F.expr("sum(ss) OVER ()").alias("t_tot"),
        F.expr(
            f"sum((CAST(s AS {_DEC}) * s) div n_users) OVER ()"
        ).alias("a_tot"),
        F.expr("count(*) OVER ()").alias("k_groups"),
    ).localCheckpoint()  # 4 rows; both pair-join sides read it
    msw = "(CAST(t_tot - a_tot AS DOUBLE) / (n_total - k_groups))"
    a = armw.select(
        F.col("arm").alias("arm_i"),
        F.col("n_users").alias("n_i"),
        F.col("s").alias("s_i"),
        "n_total",
        "t_tot",
        "a_tot",
        "k_groups",
    )
    b = armw.select(
        F.col("arm").alias("arm_j"),
        F.col("n_users").alias("n_j"),
        F.col("s").alias("s_j"),
    )
    pairs = a.join(b, F.col("arm_i") < F.col("arm_j"))
    diff = "(s_j * 1.0e0 / n_j - s_i * 1.0e0 / n_i)"
    se = f"sqrt({msw} / 2.0e0 * (1.0e0 / n_i + 1.0e0 / n_j))"
    return pairs.select(
        "arm_i",
        "arm_j",
        "n_i",
        "n_j",
        F.expr(f"round({diff}, 6)").alias("diff_cents"),
        F.expr(f"round({se}, 6)").alias("se_hsd"),
        F.expr(f"round(abs({diff}) / {se}, 6)").alias("q_stat"),
        F.expr(f"round({msw}, 2)").alias("msw_cents2"),
        F.expr("CAST(n_total - k_groups AS BIGINT)").alias("df_within"),
    ).orderBy("arm_i", "arm_j")


@query(
    "events_tukey_pairs",
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
             sum(ss) OVER () AS t_tot,
             sum((CAST(s AS HUGEINT) * s) // n_users) OVER () AS a_tot,
             count(*) OVER () AS k_groups
      FROM arm
    ),
    pairs AS (
      SELECT i.arm AS arm_i, j.arm AS arm_j,
             i.n_users AS n_i, j.n_users AS n_j,
             i.s AS s_i, j.s AS s_j,
             i.n_total AS n_total, i.t_tot AS t_tot, i.a_tot AS a_tot,
             i.k_groups AS k_groups
      FROM armw i JOIN armw j ON i.arm < j.arm
    )
    SELECT arm_i, arm_j, n_i, n_j,
           round(s_j * 1.0e0 / n_j - s_i * 1.0e0 / n_i, 6) AS diff_cents,
           round(sqrt((CAST(t_tot - a_tot AS DOUBLE) / (n_total - k_groups))
                      / 2.0e0 * (1.0e0 / n_i + 1.0e0 / n_j)), 6) AS se_hsd,
           round(abs(s_j * 1.0e0 / n_j - s_i * 1.0e0 / n_i)
                 / sqrt((CAST(t_tot - a_tot AS DOUBLE)
                         / (n_total - k_groups))
                        / 2.0e0 * (1.0e0 / n_i + 1.0e0 / n_j)), 6)
             AS q_stat,
           round(CAST(t_tot - a_tot AS DOUBLE) / (n_total - k_groups), 2)
             AS msw_cents2,
           CAST(n_total - k_groups AS BIGINT) AS df_within
    FROM pairs ORDER BY arm_i, arm_j
    """,
)
def events_tukey_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-HSD post-hoc pairs over the four hash arms: pairwise mean
    differences in cents, pooled-MSW standard errors, studentized-range
    q statistics, the within-group mean square and its df."""
    return tukey_frame(table(spark, sf_dir, "events"))
