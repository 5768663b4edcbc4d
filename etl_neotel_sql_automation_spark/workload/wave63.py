"""Round-8 wave-63 workload: events_cluster_robust_se — the
cluster-robust (user-clustered sandwich) standard error of the
event-level mean value per arm, beside the naive iid SE and their
ratio (the design effect). Every readout in the experimentation
family aggregates to the USER before testing; this entry is the
methodology check for the metrics that cannot be (per-event latency,
per-impression revenue): events within a user are correlated, the
naive SE understates, and the Liang-Zeger cluster sandwich is the
standard fix. Nothing else in the registry quantifies within-cluster
correlation.

Method (exact): per (arm, user) cluster sums n_u, S_u, Q_u = sum v^2
in BIGINT/DECIMAL(38,0); arm totals (N, S, Q, G) from a 2-row
combinable aggregate joined back by broadcast (the arm key is
user_id % 2 — TWO rows by construction at any corpus size, the
allowlisted bounded-broadcast shape). The sandwich numerator
T = sum_u (N*S_u - n_u*S)^2 is an exact DECIMAL integer (the
mean is scaled out without dividing — the timeseries_acf centering
trick at cluster level), so
  Var_cr = [G/(G-1)] * T / N^4,
  Var_naive = (N*Q - S^2) / (N^2 * (N-1)),
and the design effect Var_cr/Var_naive are fixed double expressions
over exact integers, round(6).

Scale shape: event scan -> (arm, user) combinable aggregate -> 2-row
arm aggregate -> broadcast join back -> arm aggregate of squared
terms. Two data-scaled exchanges (user aggregate, final arm
aggregate), no windows over data-scaled frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def cluster_se_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_cluster_robust_se (scaling-probe entry)."""
    u = ev.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
    ).groupBy("arm", "user_id").agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.sum("v").cast("bigint").alias("s_u"),
        F.sum(F.expr(f"CAST(v AS {_DEC}) * v")).cast(_DEC).alias("q_u"),
    )
    tot = u.groupBy("arm").agg(
        F.sum("n_u").cast("bigint").alias("n_ev"),
        F.sum("s_u").cast("bigint").alias("s_tot"),
        F.sum("q_u").cast(_DEC).alias("q_tot"),
        F.count("*").cast("bigint").alias("g_users"),
    )
    j = u.join(F.broadcast(tot), "arm")  # 2 rows by arm-key construction
    arm = j.groupBy("arm").agg(
        F.max("n_ev").alias("n_ev"),
        F.max("s_tot").alias("s_tot"),
        F.max("q_tot").alias("q_tot"),
        F.max("g_users").alias("g_users"),
        F.sum(
            F.expr(
                f"(CAST(n_ev AS {_DEC}) * s_u - CAST(n_u AS {_DEC}) * s_tot)"
                f" * (CAST(n_ev AS {_DEC}) * s_u"
                f" - CAST(n_u AS {_DEC}) * s_tot)"
            )
        ).cast(_DEC).alias("t_sand"),
    )
    var_cr = (
        "(CAST(g_users AS DOUBLE) / (g_users - 1.0e0)"
        " * CAST(t_sand AS DOUBLE)"
        " / (CAST(n_ev AS DOUBLE) * n_ev * n_ev * n_ev))"
    )
    var_nv = (
        f"(CAST(n_ev * q_tot - CAST(s_tot AS {_DEC}) * s_tot AS DOUBLE)"
        " / (CAST(n_ev AS DOUBLE) * n_ev * (n_ev - 1.0e0)))"
    )
    return arm.select(
        "arm",
        "n_ev",
        "g_users",
        F.expr("round(s_tot * 1.0e0 / n_ev, 6)").alias("mean_cents"),
        F.expr(f"round(sqrt({var_nv}), 6)").alias("se_naive"),
        F.expr(f"round(sqrt({var_cr}), 6)").alias("se_cluster"),
        F.expr(f"round({var_cr} / {var_nv}, 6)").alias("design_effect"),
    ).orderBy("arm")


@query(
    "events_cluster_robust_se",
    oracle="""
    WITH u AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS arm, user_id,
             CAST(count(*) AS BIGINT) AS n_u,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_u,
             CAST(sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                      * CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
               AS q_u
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT arm, CAST(sum(n_u) AS BIGINT) AS n_ev,
             CAST(sum(s_u) AS BIGINT) AS s_tot,
             CAST(sum(q_u) AS HUGEINT) AS q_tot,
             CAST(count(*) AS BIGINT) AS g_users
      FROM u GROUP BY arm
    ),
    arm AS (
      SELECT u.arm,
             max(n_ev) AS n_ev, max(s_tot) AS s_tot,
             max(q_tot) AS q_tot, max(g_users) AS g_users,
             CAST(sum((CAST(n_ev AS HUGEINT) * s_u
                       - CAST(n_u AS HUGEINT) * s_tot)
                      * (CAST(n_ev AS HUGEINT) * s_u
                         - CAST(n_u AS HUGEINT) * s_tot)) AS HUGEINT)
               AS t_sand
      FROM u JOIN tot ON u.arm = tot.arm
      GROUP BY u.arm
    )
    SELECT arm, n_ev, g_users,
           round(s_tot * 1.0e0 / n_ev, 6) AS mean_cents,
           round(sqrt(CAST(n_ev * q_tot - CAST(s_tot AS HUGEINT) * s_tot
                           AS DOUBLE)
                      / (CAST(n_ev AS DOUBLE) * n_ev * (n_ev - 1.0e0))), 6)
             AS se_naive,
           round(sqrt(CAST(g_users AS DOUBLE) / (g_users - 1.0e0)
                      * CAST(t_sand AS DOUBLE)
                      / (CAST(n_ev AS DOUBLE) * n_ev * n_ev * n_ev)), 6)
             AS se_cluster,
           round((CAST(g_users AS DOUBLE) / (g_users - 1.0e0)
                  * CAST(t_sand AS DOUBLE)
                  / (CAST(n_ev AS DOUBLE) * n_ev * n_ev * n_ev))
                 / (CAST(n_ev * q_tot - CAST(s_tot AS HUGEINT) * s_tot
                         AS DOUBLE)
                    / (CAST(n_ev AS DOUBLE) * n_ev * (n_ev - 1.0e0))), 6)
             AS design_effect
    FROM arm ORDER BY arm
    """,
)
def events_cluster_robust_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-clustered sandwich SE of the per-arm event-level mean
    value beside the naive iid SE and the design effect, from exact
    integer cluster moments."""
    return cluster_se_frame(table(spark, sf_dir, "events"))
