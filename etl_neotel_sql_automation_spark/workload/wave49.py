"""Round-8 wave-49 workload: events_post_stratified — the
post-stratification A/B readout, the categorical-covariate sibling of
events_cuped_adjustment (CUPED regresses on a continuous pre-period
covariate; post-stratification reweights per-stratum arm means to the
POOLED stratum distribution, killing the variance and the confounding
that an uneven stratum mix injects — the Simpson's-paradox corrector).
Stratum = the user's first-seen week, a pre-treatment covariate.

Exact integer construction (the order-independence requirement: a
float sum over strata would depend on summation order): every
per-stratum term is quantized independently —
  term(arm, s) = (n_s * sum(arm, s) * 1e6) div (n * n(arm, s))
in HUGEINT/DECIMAL(38,0), floor division — then summed as BIGINTs, so
both engines add the identical integers in any order. Raw means in the
same micro-cents.

Caveat (documented, standard): strata missing from one arm contribute
weight only where they appear — post-stratification assumes common
support; the per-arm stratum count column makes a support gap visible.

Scale shape: one user-keyed combinable aggregate, one (stratum, arm)
aggregate (bounded by weeks x 2), windows over that tiny frame, and a
2-row final — nothing rescans events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, query, table


def post_stratified_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_post_stratified (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .alias("v"),
        F.date_trunc("week", F.min("ts")).cast("date").alias("stratum"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "stratum", "v"
    )
    cell = u.groupBy("stratum", "arm").agg(
        F.count("*").cast("bigint").alias("n_as"),
        F.sum("v").cast("bigint").alias("s_as"),
    )
    cellw = cell.select(
        "*",
        F.expr("sum(n_as) OVER (PARTITION BY stratum)").alias("n_s"),
        F.expr("sum(n_as) OVER ()").alias("n"),
    )
    terms = cellw.select(
        "arm",
        F.expr(
            f"CAST((CAST(n_s AS {_DEC}) * s_as * 1000000)"
            f" div (CAST(n AS {_DEC}) * n_as) AS BIGINT)"
        ).alias("term_micro"),
        "n_as",
        "s_as",
    )
    arm = terms.groupBy("arm").agg(
        F.sum("n_as").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_strata"),
        F.expr(
            "CAST((1000000 * sum(s_as)) div sum(n_as) AS BIGINT)"
        ).alias("raw_mean_micro"),
        F.sum("term_micro").cast("bigint").alias("ps_mean_micro"),
    )
    return arm.select(
        "arm",
        "n_users",
        "n_strata",
        "raw_mean_micro",
        "ps_mean_micro",
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN raw_mean_micro END) OVER ()"
            " - sum(CASE WHEN arm = 0 THEN raw_mean_micro END) OVER ()"
            " AS BIGINT)"
        ).alias("raw_diff_micro"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN ps_mean_micro END) OVER ()"
            " - sum(CASE WHEN arm = 0 THEN ps_mean_micro END) OVER ()"
            " AS BIGINT)"
        ).alias("ps_diff_micro"),
    ).orderBy("arm")


@query(
    "events_post_stratified",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
             CAST(date_trunc('week', min(ts)) AS DATE) AS stratum
      FROM events GROUP BY user_id
    ),
    cell AS (
      SELECT stratum, CAST(user_id % 2 AS INTEGER) AS arm,
             CAST(count(*) AS BIGINT) AS n_as,
             CAST(sum(v) AS BIGINT) AS s_as
      FROM u GROUP BY 1, 2
    ),
    cellw AS (
      SELECT *,
             sum(n_as) OVER (PARTITION BY stratum) AS n_s,
             sum(n_as) OVER () AS n
      FROM cell
    ),
    terms AS (
      SELECT arm, n_as, s_as,
             CAST((CAST(n_s AS HUGEINT) * s_as * 1000000)
                  // (CAST(n AS HUGEINT) * n_as) AS BIGINT) AS term_micro
      FROM cellw
    ),
    arm AS (
      SELECT arm,
             CAST(sum(n_as) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_strata,
             CAST((1000000 * sum(s_as)) // sum(n_as) AS BIGINT)
               AS raw_mean_micro,
             CAST(sum(term_micro) AS BIGINT) AS ps_mean_micro
      FROM terms GROUP BY arm
    )
    SELECT arm, n_users, n_strata, raw_mean_micro, ps_mean_micro,
           CAST(sum(CASE WHEN arm = 1 THEN raw_mean_micro END) OVER ()
                - sum(CASE WHEN arm = 0 THEN raw_mean_micro END) OVER ()
                AS BIGINT) AS raw_diff_micro,
           CAST(sum(CASE WHEN arm = 1 THEN ps_mean_micro END) OVER ()
                - sum(CASE WHEN arm = 0 THEN ps_mean_micro END) OVER ()
                AS BIGINT) AS ps_diff_micro
    FROM arm ORDER BY arm
    """,
)
def events_post_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B readout: per-arm raw and pooled-weight
    reweighted mean user value (micro-cents, exact per-stratum integer
    terms), stratum = first-seen week, with raw vs post-stratified
    treatment-effect diffs."""
    return post_stratified_frame(table(spark, sf_dir, "events"))
