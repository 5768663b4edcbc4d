"""Round-8 wave-70 workload: events_bh_fdr — multiple-testing control
for the experiment readout: when a dashboard reads FOUR metrics at
once (mean value, conversion, events per user, purchases per user),
per-metric p-values overstate confidence; Benjamini-Hochberg is the
standard FDR correction, and it needs honest p-values to correct.
This entry composes the wave-60 machinery — a deterministic md5
permutation null PER METRIC — with the BH step-up rule, all in exact
integer arithmetic: the only registry entry that reasons across a
FAMILY of tests.

Method: per user, four BIGINT metric values from one combinable
aggregate; one bounded 21-seed explode (seed -1 = observed
user-parity assignment, the wave-60 idiom) builds every (metric,
seed) arm difference in exact micro-units; the per-metric
permutation p is the add-one rank of |observed| among the 20 null
diffs (integer comparisons only); BH then sorts the four p's
(ties broken by metric name), computes the step-up threshold
k*alpha/m at alpha = 0.10 in ppm, and rejects metrics 1..k for the
largest k with p_(k) <= k*alpha/m — pure integer comparisons over a
4-row frame.

Scale shape: events -> user aggregate (combinable) -> 21x bounded
explode of a FIVE-column user frame -> 21-key aggregate -> 4-row
metric frame with rank windows. At 100 TB only the user aggregate
and the 21x pass grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from .wave60 import SQL_PERM_ARM, perm_arm

_N_PERMS = 20
_ALPHA_PPM = 100_000  # alpha = 0.10


def bh_fdr_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_bh_fdr (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .alias("m_value"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("m_conv"),
        F.count("*").cast("bigint").alias("m_events"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("m_purch"),
    )
    e = u.select(
        "*",
        F.explode(F.expr(f"sequence(-1, {_N_PERMS - 1})")).alias("seed"),
    ).select(
        F.col("seed").cast("int").alias("seed"),
        perm_arm().alias("arm"),
        "m_value",
        "m_conv",
        "m_events",
        "m_purch",
    )
    g = e.groupBy("seed").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        *[
            s
            for m in ("m_value", "m_conv", "m_events", "m_purch")
            for s in (
                F.sum(F.when(F.col("arm") == 0, F.col(m)).otherwise(0))
                .cast("bigint")
                .alias(f"{m}_s0"),
                F.sum(F.when(F.col("arm") == 1, F.col(m)).otherwise(0))
                .cast("bigint")
                .alias(f"{m}_s1"),
            )
        ],
    )
    # long form: one row per (seed, metric) with the exact micro diff
    lng = g.selectExpr(
        "seed",
        "stack(4, "
        + ", ".join(
            f"'{m}', CAST((1000000 * {m}_s1) div n1"
            f" - (1000000 * {m}_s0) div n0 AS BIGINT)"
            for m in ("m_value", "m_conv", "m_events", "m_purch")
        )
        + ") AS (metric, diff_micro)",
    )
    w = lng.select(
        "*",
        F.expr(
            "max(CASE WHEN seed = -1 THEN diff_micro END)"
            " OVER (PARTITION BY metric)"
        ).cast("bigint").alias("obs_micro"),
    )
    per = w.filter(F.col("seed") >= 0).groupBy("metric").agg(
        F.max("obs_micro").alias("observed_micro"),
        F.sum(
            F.expr(
                "CASE WHEN abs(diff_micro) >= abs(obs_micro)"
                " THEN 1 ELSE 0 END"
            )
        ).cast("bigint").alias("n_exceed"),
    ).select(
        "metric",
        "observed_micro",
        "n_exceed",
        F.expr(
            f"CAST((1000000 * (1 + n_exceed)) div (1 + {_N_PERMS})"
            " AS BIGINT)"
        ).alias("p_ppm"),
    )
    ranked = per.select(
        "*",
        F.expr(
            "CAST(row_number() OVER (ORDER BY p_ppm, metric) AS INT)"
        ).alias("bh_rank"),
        F.expr("count(*) OVER ()").cast("bigint").alias("m_tests"),
    ).select(
        "*",
        F.expr(
            f"CAST(({_ALPHA_PPM} * bh_rank) div m_tests AS BIGINT)"
        ).alias("bh_thresh_ppm"),
    )
    final = ranked.select(
        "*",
        F.expr(
            "CAST(max(CASE WHEN p_ppm <= bh_thresh_ppm THEN bh_rank"
            " ELSE 0 END) OVER () AS INT)"
        ).alias("k_star"),
    )
    return final.select(
        "metric",
        "observed_micro",
        "n_exceed",
        "p_ppm",
        "bh_rank",
        "bh_thresh_ppm",
        (F.col("bh_rank") <= F.col("k_star")).alias("rejected"),
    ).orderBy("bh_rank")


_SQL_METRICS = ("m_value", "m_conv", "m_events", "m_purch")
_SQL_STACK = " UNION ALL ".join(
    f"SELECT seed, '{m}' AS metric,"
    f" CAST((1000000 * {m}_s1) // n1 - (1000000 * {m}_s0) // n0"
    f" AS BIGINT) AS diff_micro FROM g"
    for m in _SQL_METRICS
)
_SQL_ARMS = ", ".join(
    f"CAST(sum(CASE WHEN arm = 0 THEN {m} ELSE 0 END) AS BIGINT)"
    f" AS {m}_s0, "
    f"CAST(sum(CASE WHEN arm = 1 THEN {m} ELSE 0 END) AS BIGINT)"
    f" AS {m}_s1"
    for m in _SQL_METRICS
)


@query(
    "events_bh_fdr",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS m_value,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS m_conv,
             CAST(count(*) AS BIGINT) AS m_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS m_purch
      FROM events GROUP BY user_id
    ),
    e AS (
      SELECT CAST(seed AS INTEGER) AS seed,
             {SQL_PERM_ARM} AS arm,
             m_value, m_conv, m_events, m_purch
      FROM u CROSS JOIN
        (SELECT unnest(generate_series(-1, {_N_PERMS - 1})) AS seed)
    ),
    g AS (
      SELECT seed,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             {_SQL_ARMS}
      FROM e GROUP BY seed
    ),
    lng AS ({_SQL_STACK}),
    w AS (
      SELECT *,
             CAST(max(CASE WHEN seed = -1 THEN diff_micro END)
                  OVER (PARTITION BY metric) AS BIGINT) AS obs_micro
      FROM lng
    ),
    per AS (
      SELECT metric,
             CAST(max(obs_micro) AS BIGINT) AS observed_micro,
             CAST(sum(CASE WHEN abs(diff_micro) >= abs(obs_micro)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
      FROM w WHERE seed >= 0 GROUP BY metric
    ),
    pv AS (
      SELECT *,
             CAST((1000000 * (1 + n_exceed)) // (1 + {_N_PERMS})
                  AS BIGINT) AS p_ppm
      FROM per
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_ppm, metric) AS INTEGER)
               AS bh_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM pv
    ),
    thr AS (
      SELECT *,
             CAST(({_ALPHA_PPM} * bh_rank) // m_tests AS BIGINT)
               AS bh_thresh_ppm
      FROM ranked
    ),
    final AS (
      SELECT *,
             CAST(max(CASE WHEN p_ppm <= bh_thresh_ppm THEN bh_rank
                  ELSE 0 END) OVER () AS INTEGER) AS k_star
      FROM thr
    )
    SELECT metric, observed_micro, n_exceed, p_ppm, bh_rank,
           bh_thresh_ppm, bh_rank <= k_star AS rejected
    FROM final ORDER BY bh_rank
    """,
)
def events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control at alpha = 0.10 over four
    metrics' exact md5-permutation p-values: per metric the observed
    arm difference (micro units), exceed count, p (ppm), BH rank and
    threshold, and the step-up rejection verdict."""
    return bh_fdr_frame(table(spark, sf_dir, "events"))
