"""Round-8 wave-72 workload: sample_neyman_allocation — survey-design
for the sampling family: given strata, how should a fixed measurement
budget be SPLIT across strata? The sampling entries draw samples
(hash-stratified, weighted, exact-k); none of them decides the
allocation. Strata here are user ACTIVITY BANDS (event count div 25,
capped at 8 bands) — the segmentation whose value variance actually
differs, so the Neyman-vs-proportional contrast is informative. Neyman allocation n_h proportional to N_h * S_h is the
classical optimum for estimating a population mean under stratified
sampling, and the variance ratio against proportional allocation is
the design-effect readout that says whether optimizing is worth it.

Method (exact): per-stratum user counts N_h and value moments in
BIGINT/DECIMAL(38,0); S_h enters through the exact integer
n-scaled variance V_h = N_h * ss_h - s_h^2 (= N_h^2 * (N_h-1)/N_h *
S_h^2 scale — a MONOTONE transform shared by numerator and
denominator, so allocation shares built from W_h = N_h * S_h use
sqrt(V_h) in DOUBLE, one deterministic sqrt per stratum).
Allocation shares are floor-div ppm of w_h against the window total;
the variance comparison V_neyman = (sum W_h)^2 vs V_prop =
N * sum(N_h * S_h^2) is formed from the same exact integers (the
textbook fixed-budget identities with the common n cancelled), and
the design effect is their round-6 ratio.

Scale shape: one user aggregate, one stratum aggregate (8 activity
bands — modulus-bounded), windows over the stratum frame. Nothing
data-scaled past the first shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, _SQL_CENTS, cents, query, table


def neyman_frame(ev: DataFrame) -> DataFrame:
    """Frame core of sample_neyman_allocation (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.expr("CAST(least(7, count(*) div 25) AS INT)").alias("stratum"),
        F.sum(cents()).cast("bigint").alias("v"),
    )
    s = u.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum("v").cast("bigint").alias("s_h"),
        F.sum(F.expr(f"CAST(v AS {_DEC}) * v")).cast(_DEC).alias("ss_h"),
    ).filter(F.col("n_h") >= 2)
    # exact n-scaled variance: V_h = N_h * ss - s^2 (>= 0);
    # S_h = sqrt(V_h / (N_h * (N_h - 1))); W_h = N_h * S_h
    w = s.select(
        "stratum",
        "n_h",
        F.expr("round(s_h * 1.0e0 / n_h, 6)").alias("mean_cents"),
        F.expr(
            f"sqrt(CAST(n_h * ss_h - CAST(s_h AS {_DEC}) * s_h AS DOUBLE)"
            " / (CAST(n_h AS DOUBLE) * (n_h - 1.0e0)))"
        ).alias("sd_h"),
    ).select(
        # quantize SD to integer MICRO-CENTS per stratum (one
        # deterministic sqrt+round per row), so every cross-stratum
        # sum below is an exact integer — a float window sum over
        # strata would be summation-order-hostage
        "*",
        F.expr("CAST(round(sd_h * 1e6) AS BIGINT)").alias("sd_micro"),
    )
    ww = w.select(
        "*",
        F.expr(f"sum(CAST(n_h AS {_DEC}) * sd_micro) OVER ()")
        .cast(_DEC)
        .alias("w_tot"),
        F.expr("sum(n_h) OVER ()").cast("bigint").alias("n_pop"),
        F.expr(
            f"sum(CAST(n_h AS {_DEC}) * sd_micro * sd_micro) OVER ()"
        ).cast(_DEC).alias("nvar_tot"),
    )
    return ww.select(
        "stratum",
        "n_h",
        "mean_cents",
        F.expr("round(sd_h, 6)").alias("sd_cents"),
        F.expr(
            f"CAST(CASE WHEN w_tot > 0"
            f" THEN (1000000 * CAST(n_h AS {_DEC}) * sd_micro) div w_tot"
            " ELSE 0 END AS BIGINT)"
        ).alias("neyman_share_ppm"),
        F.expr(
            "CAST((1000000 * n_h) div n_pop AS BIGINT)"
        ).alias("prop_share_ppm"),
        # fixed-budget variance ratio (n cancels):
        # V_ney = (sum W_h)^2 / N^2, V_prop = sum N_h S_h^2 / N
        F.expr(
            "CASE WHEN nvar_tot > 0 THEN"
            " round(CAST(w_tot AS DOUBLE) * CAST(w_tot AS DOUBLE)"
            " / (CAST(n_pop AS DOUBLE) * CAST(nvar_tot AS DOUBLE)), 6)"
            " END"
        ).alias("neyman_vs_prop"),
    ).orderBy("stratum")


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(least(7, count(*) // 25) AS INTEGER) AS stratum,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(v) AS BIGINT) AS s_h,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss_h
      FROM u GROUP BY stratum HAVING count(*) >= 2
    ),
    w AS (
      SELECT stratum, n_h,
             round(s_h * 1.0e0 / n_h, 6) AS mean_cents,
             sqrt(CAST(n_h * ss_h - CAST(s_h AS HUGEINT) * s_h AS DOUBLE)
                  / (CAST(n_h AS DOUBLE) * (n_h - 1.0e0))) AS sd_h
      FROM s
    ),
    w2 AS (SELECT *, CAST(round(sd_h * 1e6) AS BIGINT) AS sd_micro
           FROM w),
    ww AS (
      SELECT *,
             CAST(sum(CAST(n_h AS HUGEINT) * sd_micro) OVER ()
                  AS HUGEINT) AS w_tot,
             CAST(sum(n_h) OVER () AS BIGINT) AS n_pop,
             CAST(sum(CAST(n_h AS HUGEINT) * sd_micro * sd_micro) OVER ()
                  AS HUGEINT) AS nvar_tot
      FROM w2
    )
    SELECT stratum, n_h, mean_cents,
           round(sd_h, 6) AS sd_cents,
           CAST(CASE WHEN w_tot > 0
                THEN (1000000 * CAST(n_h AS HUGEINT) * sd_micro) // w_tot
                ELSE 0 END AS BIGINT) AS neyman_share_ppm,
           CAST((1000000 * n_h) // n_pop AS BIGINT) AS prop_share_ppm,
           CASE WHEN nvar_tot > 0 THEN
             round(CAST(w_tot AS DOUBLE) * CAST(w_tot AS DOUBLE)
                   / (CAST(n_pop AS DOUBLE) * CAST(nvar_tot AS DOUBLE)), 6)
           END AS neyman_vs_prop
    FROM ww ORDER BY stratum
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation over user
    activity-band strata: per-stratum size/mean/SD, Neyman vs proportional
    shares (ppm), and the fixed-budget variance ratio (design
    effect of optimizing the allocation)."""
    return neyman_frame(table(spark, sf_dir, "events"))
