"""The experimentation family: every A/B readout over the events table.

Each decision the family shares is written once here, as Spark and as
SQL text, and every frame and oracle reads it:

- the arm split :func:`arm` / :func:`sql_arm` (``user_id % k``; two
  arms by parity, four for ANOVA/Tukey);
- the pre/post split date :data:`_SPLIT` (Jan 16) and its predicates;
- the conversion predicate :data:`SQL_CONVERTED` (a purchase above
  150);
- the per-user cents aggregate :func:`user_cents` and the pre/post
  cents split :data:`_SQL_PRE` / :data:`_SQL_POST` (cents from
  ``workload._SQL_CENTS``);
- the per-arm moments :func:`arm_moments` (n, s, exact ss) and the
  pooled arm pivot :func:`pooled_arms` (per-arm columns as
  unpartitioned windows over the arm frame);
- the two-sample terms :data:`_DIFF` / :data:`_SE` of Welch and DiD.

Determinism (house style): money in exact BIGINT cents, moment sums in
DECIMAL(38,0) / HUGEINT, every float one closed form over exact
integers on both engines, ``round(..., 6)`` finals; shares and rates in
floor-div ppm; SPRT increments micro-nat-rounded from pinned literals.

Scale shape: every query is one user-keyed combinable aggregate into a
tiny arm (or decile / seed / tau) frame, and every pooled scalar is an
unpartitioned window over that frame, so nothing rescans events.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, _SQL_CENTS, cents, query, table
from ..ops.asof import sessionize
from ..ops.hashing import md5_long, sql_md5_long


def sql_arm(k: int) -> str:
    """Arm of ``user_id`` among ``k`` hash arms, as SQL text."""
    return f"CAST(user_id % {k} AS INTEGER)"


def arm(k: int) -> Column:
    """Spark twin of :func:`sql_arm`."""
    return F.expr(sql_arm(k))


_SPLIT = "2024-01-16 00:00:00"  # pre-period before, post-period from
_PRE = f"ts < TIMESTAMP '{_SPLIT}'"
_POST = f"ts >= TIMESTAMP '{_SPLIT}'"
# per-user cents before / from the split
_SQL_PRE = f"CAST(sum(CASE WHEN {_PRE} THEN {_SQL_CENTS} ELSE 0 END) AS BIGINT)"
_SQL_POST = f"CAST(sum(CASE WHEN {_POST} THEN {_SQL_CENTS} ELSE 0 END) AS BIGINT)"

# a converted user: a purchase above 150
SQL_CONVERTED = "event_type = 'purchase' AND value > 150.0e0"


def converted() -> Column:
    """Spark twin of :data:`SQL_CONVERTED`."""
    return F.expr(SQL_CONVERTED)


def pre_post() -> list[Column]:
    """The per-user ``pre`` and ``post`` cents aggregates."""
    return [F.expr(_SQL_PRE).alias("pre"), F.expr(_SQL_POST).alias("post")]


def user_cents(ev: DataFrame, *extra_aggs: Column) -> DataFrame:
    """(user_id, v, *extra_aggs): each user's total value in cents."""
    return ev.groupBy("user_id").agg(F.sum(cents()).cast("bigint").alias("v"), *extra_aggs)


def _sum_prod(a: str, b: str) -> Column:
    """Exact ``sum(a * b)`` in DECIMAL(38,0)."""
    return F.sum(F.expr(f"CAST({a} AS {_DEC}) * {b}")).cast(_DEC)


def arm_moments(u: DataFrame, *extra_aggs: Column) -> DataFrame:
    """Per arm of a per-user (arm, v) frame: ``n_users``, ``s`` =
    sum(v) and the exact ``ss`` = sum(v^2), then ``extra_aggs``."""
    return u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("v").cast("bigint").alias("s"),
        _sum_prod("v", "v").alias("ss"),
        *extra_aggs,
    )


def pooled_arms(*cols: str) -> list[Column]:
    """Each column ``c`` of a 2-arm frame as ``c0`` / ``c1``: arm 0's and
    arm 1's value on every row (unpartitioned windows)."""
    return [
        F.expr(f"sum(CASE WHEN arm = {i} THEN {c} END) OVER ()").alias(f"{c}{i}")
        for c in cols
        for i in (0, 1)
    ]


def _var(i: str) -> str:
    """Sample variance from ``n_users{i}``, ``s{i}``, ``ss{i}``."""
    n, s, ss = f"n_users{i}", f"s{i}", f"ss{i}"
    return f"(CAST({n} * {ss} - CAST({s} AS {_DEC}) * {s} AS DOUBLE) / ({n} * ({n} - 1.0e0)))"


# two-sample terms over pooled_arms("n_users", "s", "ss"): each arm's
# squared standard error of the mean, the mean difference and its SE
_QA, _QB = (f"({_var(i)} / n_users{i})" for i in "01")
_DIFF = "(s1 * 1.0e0 / n_users1 - s0 * 1.0e0 / n_users0)"
_SE = f"sqrt({_QA} + {_QB})"

_Z_SUM = "2.801585"  # z_{0.975} + z_{0.80} = 1.959964 + 0.841621

# SPRT, H0: p0 = 20% vs H1: p1 = 26%, alpha = beta = 0.05: a converted
# user adds ln(p1/p0), another ln((1-p1)/(1-p0)); Wald's boundaries are
# ±ln(19). Micro-nats, each engine rounding the same literals.
_W_CONV = "CAST(round(ln(0.26e0 / 0.20e0) * 1.0e6) AS BIGINT)"
_W_MISS = "CAST(round(ln(0.74e0 / 0.80e0) * 1.0e6) AS BIGINT)"
_UPPER = "CAST(round(ln(19.0e0) * 1.0e6) AS BIGINT)"


def _decision(llr: str) -> str:
    return (
        f"CASE WHEN {llr} >= ({_UPPER}) THEN 'ACCEPT_H1'"
        f" WHEN {llr} <= -({_UPPER}) THEN 'ACCEPT_H0' ELSE 'CONTINUE' END"
    )


# ---------------------------------------------------------------------------
# events_ab_test — pooled two-proportion z on the conversion rate
# ---------------------------------------------------------------------------

# Pooled two-proportion z statistic from the four exact counts; one
# identically-written e0-literal IEEE expression on both engines.
_AB_Z = (
    "round((c0 * 1.0e0 / n0 - c1 * 1.0e0 / n1)"
    " / sqrt(((c0 + c1) * 1.0e0 / (n0 + n1))"
    "        * (1.0e0 - (c0 + c1) * 1.0e0 / (n0 + n1))"
    "        * (1.0e0 / n0 + 1.0e0 / n1)), 6)"
)


@query(
    "events_ab_test",
    oracle=f"""
    WITH c AS (
      SELECT
        count(DISTINCT CASE WHEN {sql_arm(2)} = 0 THEN user_id END) AS n0,
        count(DISTINCT CASE WHEN {sql_arm(2)} = 0 AND {SQL_CONVERTED}
                            THEN user_id END) AS c0,
        count(DISTINCT CASE WHEN {sql_arm(2)} = 1 THEN user_id END) AS n1,
        count(DISTINCT CASE WHEN {sql_arm(2)} = 1 AND {SQL_CONVERTED}
                            THEN user_id END) AS c1
      FROM events
    )
    SELECT n0, c0, n1, c1,
           c0 * 1000000 // n0 AS cr0_ppm,
           c1 * 1000000 // n1 AS cr1_ppm,
           {_AB_Z} AS z
    FROM c
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test readout: users hash-split into variants
    (user_id parity — the deterministic stand-in for an assignment
    column), conversion = any 'purchase' event, and the pooled
    two-proportion z statistic computed from the four exact distinct
    counts in one e0-literal IEEE expression rounded identically on
    both engines. This is the experimentation-readout operator every
    product-analytics warehouse ends up running nightly.

    Scale shape: ONE pass over events — four conditional
    count-distincts in a single hash aggregate (each is a user-keyed
    distinct, combinable map-side) — then scalar arithmetic on a
    1-row frame. No joins, no windows; at 100 TB the cost is the one
    distinct-user shuffle, shared by all four counts.
    """
    return ab_test_frame(table(spark, sf_dir, "events"))


def ab_test_frame(ev: DataFrame) -> DataFrame:
    """The events_ab_test plan over any events-shaped frame (user_id,
    event_type, value) — shared with tools/scale_probe.py events so
    the scaling probe measures the registered query's exact plan."""
    even = arm(2) == 0
    purch = converted()
    c = ev.agg(
        F.countDistinct(F.when(even, F.col("user_id"))).alias("n0"),
        F.countDistinct(F.when(even & purch, F.col("user_id"))).alias("c0"),
        F.countDistinct(F.when(~even, F.col("user_id"))).alias("n1"),
        F.countDistinct(F.when(~even & purch, F.col("user_id"))).alias("c1"),
    )
    return c.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr("c0 * 1000000 div n0").alias("cr0_ppm"),
        F.expr("c1 * 1000000 div n1").alias("cr1_ppm"),
        F.expr(_AB_Z).alias("z"),
    )


# ---------------------------------------------------------------------------
# events_power_mde — the power-analysis companion of events_ab_test
# (same conversion): pooled conversion rate, the absolute minimum
# detectable effect at alpha = .05 two-sided / power = .80 with the
# current arm sizes, and the per-arm n a 5% relative lift would need.
# ---------------------------------------------------------------------------


@query(
    "events_power_mde",
    oracle=f"""
    WITH c AS (
      SELECT
        count(DISTINCT CASE WHEN {sql_arm(2)} = 0 THEN user_id END) AS n0,
        count(DISTINCT CASE WHEN {sql_arm(2)} = 1 THEN user_id END) AS n1,
        count(DISTINCT CASE WHEN {SQL_CONVERTED} THEN user_id END) AS conv
      FROM events
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST((1000000 * conv) // (n0 + n1) AS BIGINT) AS p_pooled_ppm,
           round({_Z_SUM} * sqrt(
                 (conv * 1.0e0 / (n0 + n1)) * (1.0e0 - conv * 1.0e0 / (n0 + n1))
                 * (1.0e0 / n0 + 1.0e0 / n1)), 6) AS mde_abs,
           CAST(ceil(2.0e0 * (conv * 1.0e0 / (n0 + n1))
                     * (1.0e0 - conv * 1.0e0 / (n0 + n1))
                     * {_Z_SUM} * {_Z_SUM}
                     / ((0.05e0 * conv / (n0 + n1))
                        * (0.05e0 * conv / (n0 + n1))))
                AS BIGINT) AS n_required_per_arm
    FROM c
    """,
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the registered A/B readout: pooled
    conversion, absolute MDE at the current arm sizes, and the per-arm
    n a 5% relative lift needs (alpha=.05 two-sided, power=.80)."""
    return power_mde_frame(table(spark, sf_dir, "events"))


def power_mde_frame(events: DataFrame) -> DataFrame:
    """Frame core of events_power_mde (scaling-probe entry)."""
    c = events.agg(
        F.countDistinct(F.when(arm(2) == 0, F.col("user_id"))).alias("n0"),
        F.countDistinct(F.when(arm(2) == 1, F.col("user_id"))).alias("n1"),
        F.countDistinct(F.when(converted(), F.col("user_id"))).alias("conv"),
    )
    p = "(conv * 1.0e0 / (n0 + n1))"
    return c.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.expr("CAST((1000000 * conv) div (n0 + n1) AS BIGINT)").alias(
            "p_pooled_ppm"
        ),
        F.expr(
            f"round({_Z_SUM} * sqrt({p} * (1.0e0 - {p})"
            " * (1.0e0 / n0 + 1.0e0 / n1)), 6)"
        ).alias("mde_abs"),
        F.expr(
            f"CAST(ceil(2.0e0 * {p} * (1.0e0 - {p}) * {_Z_SUM} * {_Z_SUM}"
            f" / ((0.05e0 * conv / (n0 + n1))"
            f" * (0.05e0 * conv / (n0 + n1)))) AS BIGINT)"
        ).alias("n_required_per_arm"),
    )


# ---------------------------------------------------------------------------
# events_sprt_monitor — the treatment arm's users, ordered by their
# first-seen day, walk the cumulative SPRT log-likelihood ratio per day
# against Wald's boundaries: read daily without inflating false
# positives.
# ---------------------------------------------------------------------------


@query(
    "events_sprt_monitor",
    oracle=f"""
    WITH inc AS (
      SELECT {_W_CONV} AS w_conv,
             {_W_MISS} AS w_miss,
             {_UPPER} AS upper_b
    ),
    u AS (
      SELECT user_id,
             CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
             max(CASE WHEN {SQL_CONVERTED}
                      THEN 1 ELSE 0 END) AS converted
      FROM events WHERE {sql_arm(2)} = 1
      GROUP BY user_id
    ),
    daily AS (
      SELECT u.first_day AS day,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(u.converted) AS BIGINT) AS n_conv
      FROM u GROUP BY u.first_day
    ),
    walk AS (
      SELECT day, n_users, n_conv,
             CAST(sum(n_conv * (SELECT w_conv FROM inc)
                      + (n_users - n_conv) * (SELECT w_miss FROM inc))
                  OVER (ORDER BY day) AS BIGINT) AS llr_micronats
      FROM daily
    )
    SELECT day, n_users, n_conv, llr_micronats,
           CASE WHEN llr_micronats >= (SELECT upper_b FROM inc) THEN 'ACCEPT_H1'
                WHEN llr_micronats <= -(SELECT upper_b FROM inc) THEN 'ACCEPT_H0'
                ELSE 'CONTINUE' END AS decision
    FROM walk ORDER BY day
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT walk over the treatment arm's daily cohorts
    (H0 p=0.20 vs H1 p=0.26, alpha=beta=0.05): cumulative LLR in
    micro-nats and the standing decision per day."""
    return sprt_frame(table(spark, sf_dir, "events"))


def sprt_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_sprt_monitor (scaling-probe entry)."""
    u = (
        ev.filter(arm(2) == 1)
        .groupBy("user_id")
        .agg(
            F.min(F.date_trunc("day", F.col("ts"))).cast("date").alias(
                "first_day"
            ),
            F.max(F.when(converted(), 1).otherwise(0)).alias("converted"),
        )
    )
    daily = u.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    walk = daily.select(
        "day",
        "n_users",
        "n_conv",
        F.expr(
            f"CAST(sum(n_conv * ({_W_CONV}) + (n_users - n_conv) * ({_W_MISS}))"
            " OVER (ORDER BY day) AS BIGINT)"
        ).alias("llr_micronats"),
    )
    return walk.select(
        "day",
        "n_users",
        "n_conv",
        "llr_micronats",
        F.expr(_decision("llr_micronats")).alias("decision"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# events_srm_check / streaming_srm_monitor — sample-ratio mismatch, the
# assignment-health gate before any readout: distinct users per arm vs
# the expected 50/50, the exact 1-dof chi-square (n0 - n1)^2 / n in
# floor-div micro units, and the verdict at the pinned p < .05 / .001
# thresholds.
# ---------------------------------------------------------------------------

# qchisq(.95, 1) = 3.841459, qchisq(.999, 1) = 10.827566, micro units
_SRM_95_MICRO = 3_841_459
_SRM_999_MICRO = 10_827_566


def srm_readout(arm_frame: DataFrame) -> DataFrame:
    """The SRM display layer over a 2-row (arm, n_users) frame —
    shared by the batch query and the streaming monitor (the stream
    maintains the per-arm distinct-user state; the chart layer derives
    chi-square and the verdict)."""
    armw = arm_frame.select(
        "arm",
        "n_users",
        F.expr("sum(n_users) OVER ()").alias("n"),
        *pooled_arms("n_users"),
    )
    chi2 = "((n_users0 - n_users1) * (n_users0 - n_users1) * 1000000) div n"
    return armw.select(
        "arm",
        "n_users",
        F.expr("CAST((1000000 * n_users) div n AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(f"CAST({chi2} AS BIGINT)").alias("chi2_micro"),
        F.expr(
            f"CASE WHEN {chi2} >= {_SRM_999_MICRO} THEN 'SRM_ALARM'"
            f" WHEN {chi2} >= {_SRM_95_MICRO} THEN 'SUSPECT'"
            " ELSE 'OK' END"
        ).alias("verdict"),
    ).orderBy("arm")


def srm_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_srm_check (scaling-probe entry)."""
    arm_frame = (
        ev.select(arm(2).alias("arm"), "user_id")
        .groupBy("arm")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )
    return srm_readout(arm_frame)


SRM_ORACLE = f"""
    WITH arm AS (
      SELECT {sql_arm(2)} AS arm,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    ),
    armw AS (
      SELECT arm, n_users,
             sum(n_users) OVER () AS n,
             sum(CASE WHEN arm = 0 THEN n_users END) OVER () AS n0,
             sum(CASE WHEN arm = 1 THEN n_users END) OVER () AS n1
      FROM arm
    )
    SELECT arm, n_users,
           CAST((1000000 * n_users) // n AS BIGINT) AS share_ppm,
           CAST(((n0 - n1) * (n0 - n1) * 1000000) // n AS BIGINT)
             AS chi2_micro,
           CASE WHEN ((n0 - n1) * (n0 - n1) * 1000000) // n
                     >= {_SRM_999_MICRO} THEN 'SRM_ALARM'
                WHEN ((n0 - n1) * (n0 - n1) * 1000000) // n
                     >= {_SRM_95_MICRO} THEN 'SUSPECT'
                ELSE 'OK' END AS verdict
    FROM armw ORDER BY arm
    """


@query("events_srm_check", oracle=SRM_ORACLE)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: per-arm distinct users vs the
    expected 50/50, exact 1-dof chi-square in micro units, and the
    standing verdict at pinned p<.05 / p<.001 thresholds."""
    return srm_frame(table(spark, sf_dir, "events"))


# Conscious tripwire exclusion; policy test:
# tests/test_wave42.py::test_streaming_srm_equals_batch.
@query("streaming_srm_monitor", oracle=SRM_ORACLE)
def streaming_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of streaming.landing.stream_srm_monitor:
    per-user dedup + per-arm counts as genuine streaming state,
    chi-square verdict applied display-side — checked against
    events_srm_check's oracle verbatim."""
    from ..streaming.landing import stream_srm_monitor

    return stream_srm_monitor(spark, sf_dir)


# ---------------------------------------------------------------------------
# events_cuped_adjustment — per-user pre/post cents, theta =
# cov(pre, post) / var(pre) pooled over all users; adjusted arm means
# subtract theta * (pre_mean_arm - pre_mean_grand). The variance
# reduction is rho^2, the share of post variance the covariate explains.
# ---------------------------------------------------------------------------


@query(
    "events_cuped_adjustment",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {sql_arm(2)} AS arm,
             {_SQL_PRE} AS pre,
             {_SQL_POST} AS post
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sx,
             CAST(sum(post) AS BIGINT) AS sy,
             CAST(sum(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sxx,
             CAST(sum(CAST(post AS HUGEINT) * post) AS HUGEINT) AS syy,
             CAST(sum(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS sxy
      FROM u
    ),
    arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre) AS BIGINT) AS pre_sum,
             CAST(sum(post) AS BIGINT) AS post_sum
      FROM u GROUP BY arm
    )
    SELECT arm.arm, arm.n_users,
           round(arm.post_sum * 1.0e0 / arm.n_users, 6) AS post_mean_cents,
           round(arm.post_sum * 1.0e0 / arm.n_users
                 - (CAST(m.n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(m.n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                   * (arm.pre_sum * 1.0e0 / arm.n_users
                      - m.sx * 1.0e0 / m.n), 6) AS adjusted_mean_cents,
           round(CAST(m.n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(m.n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
             AS theta,
           round(CAST(m.n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 * CAST(m.n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(m.n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 / CAST(m.n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE), 6)
             AS var_reduction
    FROM arm CROSS JOIN m ORDER BY arm.arm
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted arm means of post-period user value (pre-period
    sum as covariate, pooled theta), plus theta and the rho^2 variance
    reduction — exact cent moment sums, floats only in the final
    closed form."""
    return cuped_frame(table(spark, sf_dir, "events"))


# CUPED theta and its parts over pooled moments n, sx, sy, sxx, sxy
_COVN = f"CAST(n * sxy - CAST(sx AS {_DEC}) * sy AS DOUBLE)"
_VARXN = f"CAST(n * sxx - CAST(sx AS {_DEC}) * sx AS DOUBLE)"


def _adjusted_mean(post_sum: str, pre_sum: str) -> str:
    return (
        f"round({post_sum} * 1.0e0 / n_users - ({_COVN} / {_VARXN})"
        f" * ({pre_sum} * 1.0e0 / n_users - sx * 1.0e0 / n), 6)"
    )


def cuped_frame(events: DataFrame) -> DataFrame:
    """Frame core of events_cuped_adjustment (scaling-probe entry)."""
    u = events.groupBy("user_id").agg(*pre_post()).withColumn("arm", arm(2))
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sx"),
        F.sum("post").cast("bigint").alias("sy"),
        _sum_prod("pre", "pre").alias("sxx"),
        _sum_prod("post", "post").alias("syy"),
        _sum_prod("pre", "post").alias("sxy"),
    )
    arm_frame = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("pre").cast("bigint").alias("pre_sum"),
        F.sum("post").cast("bigint").alias("post_sum"),
    )
    varyn = f"CAST(n * syy - CAST(sy AS {_DEC}) * sy AS DOUBLE)"
    return (
        arm_frame.crossJoin(F.broadcast(m))  # 1-row pooled moments
        .select(
            "arm",
            "n_users",
            F.expr("round(post_sum * 1.0e0 / n_users, 6)").alias(
                "post_mean_cents"
            ),
            F.expr(_adjusted_mean("post_sum", "pre_sum")).alias("adjusted_mean_cents"),
            F.expr(f"round({_COVN} / {_VARXN}, 6)").alias("theta"),
            F.expr(
                f"round({_COVN} * {_COVN} / {_VARXN} / {varyn}, 6)"
            ).alias("var_reduction"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# events_diff_in_diff — panel DiD on per-user post-minus-pre cents: the
# treatment-vs-control difference of arm mean deltas, its SE from the
# per-arm sample variances, and the t statistic. The pre-period
# differences out any static arm imbalance.
# ---------------------------------------------------------------------------


def did_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_diff_in_diff (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(*pre_post()).select(
        arm(2).alias("arm"),
        "pre",
        "post",
        (F.col("post") - F.col("pre")).alias("v"),
    )
    armw = arm_moments(
        u,
        F.sum("pre").cast("bigint").alias("pre_sum"),
        F.sum("post").cast("bigint").alias("post_sum"),
    ).select("*", *pooled_arms("n_users", "s", "ss"))
    return armw.select(
        "arm",
        "n_users",
        F.expr("round(pre_sum * 1.0e0 / n_users, 6)").alias(
            "pre_mean_cents"
        ),
        F.expr("round(post_sum * 1.0e0 / n_users, 6)").alias(
            "post_mean_cents"
        ),
        F.expr("round(s * 1.0e0 / n_users, 6)").alias("delta_mean_cents"),
        F.expr(f"round({_DIFF}, 6)").alias("did_cents"),
        F.expr(f"round({_SE}, 6)").alias("se_cents"),
        F.expr(f"round({_DIFF} / ({_SE}), 6)").alias("t_stat"),
    ).orderBy("arm")


@query(
    "events_diff_in_diff",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_SQL_PRE} AS pre,
             {_SQL_POST} AS post
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT {sql_arm(2)} AS arm, pre, post,
             post - pre AS d
      FROM u
    ),
    arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre) AS BIGINT) AS pre_sum,
             CAST(sum(post) AS BIGINT) AS post_sum,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
      FROM d GROUP BY arm
    ),
    armw AS (
      SELECT *,
             sum(CASE WHEN arm = 0 THEN n_users END) OVER () AS na,
             sum(CASE WHEN arm = 1 THEN n_users END) OVER () AS nb,
             sum(CASE WHEN arm = 0 THEN sd END) OVER () AS sda,
             sum(CASE WHEN arm = 1 THEN sd END) OVER () AS sdb,
             sum(CASE WHEN arm = 0 THEN sdd END) OVER () AS sdda,
             sum(CASE WHEN arm = 1 THEN sdd END) OVER () AS sddb
      FROM arm
    )
    SELECT arm, n_users,
           round(pre_sum * 1.0e0 / n_users, 6) AS pre_mean_cents,
           round(post_sum * 1.0e0 / n_users, 6) AS post_mean_cents,
           round(sd * 1.0e0 / n_users, 6) AS delta_mean_cents,
           round(sdb * 1.0e0 / nb - sda * 1.0e0 / na, 6) AS did_cents,
           round(sqrt(
             (CAST(nb * sddb - CAST(sdb AS HUGEINT) * sdb AS DOUBLE)
              / (nb * (nb - 1.0e0))) / nb
             + (CAST(na * sdda - CAST(sda AS HUGEINT) * sda AS DOUBLE)
                / (na * (na - 1.0e0))) / na), 6) AS se_cents,
           round((sdb * 1.0e0 / nb - sda * 1.0e0 / na)
                 / sqrt(
                   (CAST(nb * sddb - CAST(sdb AS HUGEINT) * sdb AS DOUBLE)
                    / (nb * (nb - 1.0e0))) / nb
                   + (CAST(na * sdda - CAST(sda AS HUGEINT) * sda AS DOUBLE)
                      / (na * (na - 1.0e0))) / na), 6) AS t_stat
    FROM armw ORDER BY arm
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel difference-in-differences on per-user value: arm mean
    post-minus-pre deltas, the DiD point estimate, its SE from per-arm
    sample variances, and the t statistic."""
    return did_frame(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# experiment_pipeline_e2e — the stack composed, each stage feeding the
# next: sessionize (30-minute gap) -> session funnel (a signup and a
# later purchase in the same session; a user converts when any session
# does) -> CUPED on per-session pre/post cents -> the SPRT readout on
# the treatment arm's conversions plus the MDE at the current arm
# sizes. One events shuffle by user_id feeds the session window and
# both user-keyed aggregates; the pooled scalars are windows over the
# 2-row arm frame.
# ---------------------------------------------------------------------------


def experiment_pipeline_frame(ev: DataFrame) -> DataFrame:
    """Frame core of experiment_pipeline_e2e (scaling-probe entry)."""
    s = sessionize(ev.select("user_id", "event_id", "ts", "event_type", "value"))
    sess = s.groupBy("user_id", "session_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).alias("su"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("pu"),
        *pre_post(),
    )
    u = sess.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.max(
            F.when(
                F.col("su").isNotNull()
                & F.col("pu").isNotNull()
                & (F.col("pu") > F.col("su")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("converted"),
        F.sum("pre").cast("bigint").alias("pre"),
        F.sum("post").cast("bigint").alias("v"),
    ).withColumn("arm", arm(2))
    # per arm: n_users, s = post cents, ss, then the CUPED moments
    arm_frame = arm_moments(
        u,
        F.sum("n_sessions").cast("bigint").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_conv"),
        F.sum("pre").cast("bigint").alias("pre_sum"),
        _sum_prod("pre", "pre").alias("sxx_a"),
        _sum_prod("pre", "v").alias("sxy_a"),
    )
    armw = arm_frame.select(
        "*",
        F.expr("sum(n_users) OVER ()").alias("n"),
        F.expr("sum(pre_sum) OVER ()").alias("sx"),
        F.expr("sum(s) OVER ()").alias("sy"),
        F.expr("sum(sxx_a) OVER ()").alias("sxx"),
        F.expr("sum(sxy_a) OVER ()").alias("sxy"),
        F.expr("sum(n_conv) OVER ()").alias("conv_all"),
        *pooled_arms("n_users", "n_conv"),
    )
    llr = f"n_conv1 * ({_W_CONV}) + (n_users1 - n_conv1) * ({_W_MISS})"
    p = "(conv_all * 1.0e0 / n)"
    return armw.select(
        "arm",
        "n_users",
        "n_sessions",
        "n_conv",
        F.expr("CAST((1000000 * n_conv) div n_users AS BIGINT)").alias(
            "conv_ppm"
        ),
        F.expr("round(s * 1.0e0 / n_users, 6)").alias("post_mean_cents"),
        F.expr(_adjusted_mean("s", "pre_sum")).alias("adjusted_mean_cents"),
        F.expr(f"round({_COVN} / {_VARXN}, 6)").alias("theta"),
        F.expr(f"CAST({llr} AS BIGINT)").alias("llr_micronats"),
        F.expr(_decision(llr)).alias("sprt_decision"),
        F.expr(
            f"round({_Z_SUM} * sqrt({p} * (1.0e0 - {p})"
            " * (1.0e0 / n_users0 + 1.0e0 / n_users1)), 6)"
        ).alias("mde_abs"),
    ).orderBy("arm")


@query(
    "experiment_pipeline_e2e",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_type, value,
             CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
      FROM g
    ),
    sess AS (
      SELECT user_id, session_id,
             min(CASE WHEN event_type = 'signup'
                      THEN epoch_us(ts) END) AS su,
             max(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS pu,
             {_SQL_PRE} AS pre,
             {_SQL_POST} AS post
      FROM s GROUP BY user_id, session_id
    ),
    u AS (
      SELECT user_id, {sql_arm(2)} AS arm,
             CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(max(CASE WHEN su IS NOT NULL AND pu IS NOT NULL
                            AND pu > su THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted,
             CAST(sum(pre) AS BIGINT) AS pre,
             CAST(sum(post) AS BIGINT) AS post
      FROM sess GROUP BY user_id
    ),
    arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(n_sessions) AS BIGINT) AS n_sessions,
             CAST(sum(converted) AS BIGINT) AS n_conv,
             CAST(sum(pre) AS BIGINT) AS pre_sum,
             CAST(sum(post) AS BIGINT) AS post_sum,
             CAST(sum(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sxx_a,
             CAST(sum(CAST(post AS HUGEINT) * post) AS HUGEINT) AS syy_a,
             CAST(sum(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS sxy_a
      FROM u GROUP BY arm
    ),
    armw AS (
      SELECT *,
             sum(n_users) OVER () AS n,
             sum(pre_sum) OVER () AS sx,
             sum(post_sum) OVER () AS sy,
             sum(sxx_a) OVER () AS sxx,
             sum(syy_a) OVER () AS syy,
             sum(sxy_a) OVER () AS sxy,
             sum(n_conv) OVER () AS conv_all,
             sum(CASE WHEN arm = 1 THEN n_conv END) OVER () AS t_conv,
             sum(CASE WHEN arm = 1 THEN n_users - n_conv END) OVER ()
               AS t_miss,
             sum(CASE WHEN arm = 0 THEN n_users END) OVER () AS n0,
             sum(CASE WHEN arm = 1 THEN n_users END) OVER () AS n1
      FROM arm
    )
    SELECT arm, n_users, n_sessions, n_conv,
           CAST((1000000 * n_conv) // n_users AS BIGINT) AS conv_ppm,
           round(post_sum * 1.0e0 / n_users, 6) AS post_mean_cents,
           round(post_sum * 1.0e0 / n_users
                 - (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                   * (pre_sum * 1.0e0 / n_users - sx * 1.0e0 / n), 6)
             AS adjusted_mean_cents,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
             AS theta,
           CAST(t_conv * {_W_CONV}
                + t_miss * {_W_MISS}
                AS BIGINT) AS llr_micronats,
           CASE WHEN t_conv * {_W_CONV}
                     + t_miss * {_W_MISS}
                     >= {_UPPER}
                THEN 'ACCEPT_H1'
                WHEN t_conv * {_W_CONV}
                     + t_miss * {_W_MISS}
                     <= -{_UPPER}
                THEN 'ACCEPT_H0'
                ELSE 'CONTINUE' END AS sprt_decision,
           round({_Z_SUM} * sqrt((conv_all * 1.0e0 / n)
                                 * (1.0e0 - conv_all * 1.0e0 / n)
                                 * (1.0e0 / n0 + 1.0e0 / n1)), 6) AS mde_abs
    FROM armw ORDER BY arm
    """,
)
def experiment_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize -> session funnel -> CUPED -> SPRT/MDE readout as one
    composed query: per arm the user/session/conversion counts, raw and
    CUPED-adjusted post-period means, and the pooled sequential-test
    and power numbers."""
    return experiment_pipeline_frame(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# events_welch_ttest / streaming_welch_monitor — Welch's unequal-variance
# t on per-user total cents between arms, with the Welch-Satterthwaite
# degrees of freedom.
# ---------------------------------------------------------------------------


def welch_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_welch_ttest (scaling-probe entry)."""
    return welch_readout(user_cents(ev))


def welch_readout(u: DataFrame) -> DataFrame:
    """Welch readout over a per-user (user_id, v) cents frame — shared
    verbatim by the batch query and the streaming monitor, which
    materializes `u` as genuine streaming state."""
    armw = arm_moments(u.select(arm(2).alias("arm"), "v")).select(
        "*", *pooled_arms("n_users", "s", "ss")
    )
    df = (
        f"(({_QA} + {_QB}) * ({_QA} + {_QB})"
        f" / ({_QA} * {_QA} / (n_users0 - 1.0e0) + {_QB} * {_QB} / (n_users1 - 1.0e0)))"
    )
    return armw.select(
        "arm",
        "n_users",
        F.expr("round(s * 1.0e0 / n_users, 6)").alias("mean_cents"),
        # round-2, not the house round-6: variance in cents^2 sits at
        # ~1e9+, where 6 decimals demands 16 significant digits — past
        # double reproducibility (a last-ulp JVM/DuckDB divergence
        # surfaced at sf0.1); 2 decimals stays within 12
        F.expr(f"round({_var('')}, 2)").alias("var_cents2"),
        F.expr(f"round({_DIFF}, 6)").alias("diff_cents"),
        F.expr(f"round({_SE}, 6)").alias("se_cents"),
        F.expr(f"round({_DIFF} / ({_SE}), 6)").alias("t_stat"),
        F.expr(f"round({df}, 6)").alias("welch_df"),
    ).orderBy("arm")


WELCH_ORACLE = f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ),
    arm AS (
      SELECT {sql_arm(2)} AS arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
      FROM u GROUP BY 1
    ),
    armw AS (
      SELECT *,
             sum(CASE WHEN arm = 0 THEN n_users END) OVER () AS na,
             sum(CASE WHEN arm = 1 THEN n_users END) OVER () AS nb,
             sum(CASE WHEN arm = 0 THEN s END) OVER () AS sa,
             sum(CASE WHEN arm = 1 THEN s END) OVER () AS sb,
             sum(CASE WHEN arm = 0 THEN ss END) OVER () AS ssa,
             sum(CASE WHEN arm = 1 THEN ss END) OVER () AS ssb
      FROM arm
    )
    SELECT arm, n_users,
           round(s * 1.0e0 / n_users, 6) AS mean_cents,
           round(CAST(n_users * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                 / (n_users * (n_users - 1.0e0)), 2) AS var_cents2,
           round(sb * 1.0e0 / nb - sa * 1.0e0 / na, 6) AS diff_cents,
           round(sqrt(
             (CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
              / (na * (na - 1.0e0))) / na
             + (CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                / (nb * (nb - 1.0e0))) / nb), 6) AS se_cents,
           round((sb * 1.0e0 / nb - sa * 1.0e0 / na)
                 / sqrt(
                   (CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                    / (na * (na - 1.0e0))) / na
                   + (CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                      / (nb * (nb - 1.0e0))) / nb), 6) AS t_stat,
           round(
             ((CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
               / (na * (na - 1.0e0))) / na
              + (CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                 / (nb * (nb - 1.0e0))) / nb)
             * ((CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                 / (na * (na - 1.0e0))) / na
                + (CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                   / (nb * (nb - 1.0e0))) / nb)
             / (((CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                  / (na * (na - 1.0e0))) / na)
                * ((CAST(na * ssa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                    / (na * (na - 1.0e0))) / na) / (na - 1.0e0)
                + ((CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                    / (nb * (nb - 1.0e0))) / nb)
                  * ((CAST(nb * ssb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                      / (nb * (nb - 1.0e0))) / nb) / (nb - 1.0e0)), 6)
             AS welch_df
    FROM armw ORDER BY arm
    """


@query("events_welch_ttest", oracle=WELCH_ORACLE)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user total value between
    arms: per-arm mean/variance, the mean difference, its SE, the t
    statistic, and the Welch-Satterthwaite degrees of freedom."""
    return welch_frame(table(spark, sf_dir, "events"))


# Conscious tripwire exclusion; policy test:
# tests/test_wave61.py::test_streaming_welch_equals_batch.
@query("streaming_welch_monitor", oracle=WELCH_ORACLE)
def streaming_welch_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of streaming.landing.stream_welch_monitor: the
    events stream's per-user cents sums as streaming state, Welch
    arm readout display-side — equals events_welch_ttest exactly."""
    from ..streaming.landing import stream_welch_monitor

    return stream_welch_monitor(spark, sf_dir)


# ---------------------------------------------------------------------------
# events_post_stratified — arm means reweighted to the pooled stratum
# mix (stratum = first-seen week, a pre-treatment covariate): the
# categorical sibling of CUPED. Each stratum term
# (n_s * s_as * 1e6) div (n * n_as) is an exact integer, summed as
# BIGINTs, so both engines add the same integers in any order. Strata
# missing from one arm weigh only where they appear (common support);
# n_strata makes a gap visible.
# ---------------------------------------------------------------------------


def post_stratified_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_post_stratified (scaling-probe entry)."""
    u = user_cents(
        ev, F.date_trunc("week", F.min("ts")).cast("date").alias("stratum")
    ).select(arm(2).alias("arm"), "stratum", "v")
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
    arm_frame = terms.groupBy("arm").agg(
        F.sum("n_as").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_strata"),
        F.expr(
            "CAST((1000000 * sum(s_as)) div sum(n_as) AS BIGINT)"
        ).alias("raw_mean_micro"),
        F.sum("term_micro").cast("bigint").alias("ps_mean_micro"),
    )
    return arm_frame.select(
        "*", *pooled_arms("raw_mean_micro", "ps_mean_micro")
    ).select(
        "arm",
        "n_users",
        "n_strata",
        "raw_mean_micro",
        "ps_mean_micro",
        (F.col("raw_mean_micro1") - F.col("raw_mean_micro0")).cast("bigint").alias("raw_diff_micro"),
        (F.col("ps_mean_micro1") - F.col("ps_mean_micro0")).cast("bigint").alias("ps_diff_micro"),
    ).orderBy("arm")


@query(
    "events_post_stratified",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v,
             CAST(date_trunc('week', min(ts)) AS DATE) AS stratum
      FROM events GROUP BY user_id
    ),
    cell AS (
      SELECT stratum, {sql_arm(2)} AS arm,
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


# ---------------------------------------------------------------------------
# events_anova_f / events_tukey_pairs — one-way ANOVA across the four
# hash arms and its Tukey-HSD post-hoc pairs. The cross-arm term
# A = sum_g(s_g^2 div n_g) floor-divides inside the exact aggregate
# (bias <= k = 4 cents^2 against components of order 1e14), so the
# sum-of-squares components are exact integers on both engines; only F,
# eta^2 and the pair statistics touch doubles. The pair frame is the
# 4-row arm frame joined to itself (6 rows).
# ---------------------------------------------------------------------------


def _arms4(ev: DataFrame) -> DataFrame:
    """Per-user cents moments over the four hash arms."""
    return arm_moments(user_cents(ev).select(arm(4).alias("arm"), "v"))


def anova_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_anova_f (scaling-probe entry)."""
    armw = _arms4(ev).select(
        "*",
        F.expr("sum(n_users) OVER ()").alias("n_total"),
        F.expr(f"sum(CAST(s AS {_DEC})) OVER ()").alias("s_tot"),
        F.expr("sum(ss) OVER ()").alias("t_tot"),
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
    oracle=f"""
    WITH u AS (
      SELECT {sql_arm(4)} AS arm,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v
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


def tukey_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_tukey_pairs (scaling-probe entry)."""
    armw = _arms4(ev).select(
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
    oracle=f"""
    WITH u AS (
      SELECT {sql_arm(4)} AS arm,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v
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


# ---------------------------------------------------------------------------
# events_qini_uplift — the uplift curve: users ranked by pre-period
# event count (observable before treatment) into ntile(10) deciles over
# (score DESC, user_id); per decile treated vs control conversion (any
# post-split purchase) and the cumulative Qini statistic in exact
# integer milli-conversions. The ntile window is the one global sort.
# ---------------------------------------------------------------------------


def qini_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_qini_uplift (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.expr(_PRE), 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
        F.max(
            F.when(
                F.expr(_POST) & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conv"),
    ).select(
        "*", arm(2).alias("arm")
    )
    d = u.select(
        "arm",
        "conv",
        F.expr(
            "ntile(10) OVER (ORDER BY score DESC, user_id)"
        ).cast("int").alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ctrl"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_treat"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_ctrl"),
    )
    w = "OVER (ORDER BY decile)"
    c = g.select(
        "*",
        F.expr(f"sum(n_treat) {w}").cast("bigint").alias("cnt"),
        F.expr(f"sum(n_ctrl) {w}").cast("bigint").alias("cnc"),
        F.expr(f"sum(conv_treat) {w}").cast("bigint").alias("cct"),
        F.expr(f"sum(conv_ctrl) {w}").cast("bigint").alias("ccc"),
    )
    return c.select(
        "decile",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.expr(
            "CAST(CASE WHEN n_treat = 0 THEN 0"
            " ELSE (1000000 * conv_treat) div n_treat END AS BIGINT)"
        ).alias("rate_treat_ppm"),
        F.expr(
            "CAST(CASE WHEN n_ctrl = 0 THEN 0"
            " ELSE (1000000 * conv_ctrl) div n_ctrl END AS BIGINT)"
        ).alias("rate_ctrl_ppm"),
        F.expr(
            "CAST(CASE WHEN cnt = 0 OR cnc = 0 THEN 0"
            " ELSE (1000000 * cct) div cnt - (1000000 * ccc) div cnc END"
            " AS BIGINT)"
        ).alias("cum_uplift_ppm"),
        # sign-explicit toward-zero division on BOTH engines: Spark
        # `div` truncates, DuckDB `//` floors — they differ exactly
        # when the Qini numerator goes negative
        F.expr(
            "CAST(CASE WHEN cnc = 0 THEN 0"
            " WHEN cct * cnc - ccc * cnt >= 0"
            " THEN (1000 * (cct * cnc - ccc * cnt)) div cnc"
            " ELSE -((1000 * (ccc * cnt - cct * cnc)) div cnc) END"
            " AS BIGINT)"
        ).alias("qini_milli"),
    ).orderBy("decile")


@query(
    "events_qini_uplift",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN {_PRE} THEN 1
                           ELSE 0 END) AS BIGINT) AS score,
             CAST(max(CASE WHEN {_POST}
                            AND event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS conv,
             {sql_arm(2)} AS arm
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT arm, conv,
             CAST(ntile(10) OVER (ORDER BY score DESC, user_id)
                  AS INTEGER) AS decile
      FROM u
    ),
    g AS (
      SELECT decile,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treat,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ctrl,
             CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_treat,
             CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_ctrl
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT *,
             CAST(sum(n_treat) OVER (ORDER BY decile) AS BIGINT) AS cnt,
             CAST(sum(n_ctrl) OVER (ORDER BY decile) AS BIGINT) AS cnc,
             CAST(sum(conv_treat) OVER (ORDER BY decile) AS BIGINT) AS cct,
             CAST(sum(conv_ctrl) OVER (ORDER BY decile) AS BIGINT) AS ccc
      FROM g
    )
    SELECT decile, n_treat, n_ctrl, conv_treat, conv_ctrl,
           CAST(CASE WHEN n_treat = 0 THEN 0
                ELSE (1000000 * conv_treat) // n_treat END AS BIGINT)
             AS rate_treat_ppm,
           CAST(CASE WHEN n_ctrl = 0 THEN 0
                ELSE (1000000 * conv_ctrl) // n_ctrl END AS BIGINT)
             AS rate_ctrl_ppm,
           CAST(CASE WHEN cnt = 0 OR cnc = 0 THEN 0
                ELSE (1000000 * cct) // cnt - (1000000 * ccc) // cnc END
                AS BIGINT) AS cum_uplift_ppm,
           CAST(CASE WHEN cnc = 0 THEN 0
                WHEN cct * cnc - ccc * cnt >= 0
                THEN (1000 * (cct * cnc - ccc * cnt)) // cnc
                ELSE -((1000 * (ccc * cnt - cct * cnc)) // cnc) END
                AS BIGINT) AS qini_milli
    FROM c ORDER BY decile
    """,
)
def events_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini / uplift curve by pre-period-activity decile: per-decile
    treated/control sizes and conversions, conversion rates (ppm),
    cumulative uplift (ppm) and the exact-integer Qini statistic in
    milli-conversions."""
    return qini_frame(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# events_permutation_test / events_bh_fdr — a deterministic Monte-Carlo
# permutation null: seed -1 is the observed arm split, seeds 0..19
# rehash each user into md5(user_id || '_' || seed) % 2, so the null
# reproduces bit-for-bit on both engines. One bounded 21-seed explode
# of the per-user frame, one seed-keyed aggregate, arm differences in
# exact micro units, the add-one p-value (1 + #exceeds) / (1 + N) in
# floor-div ppm. events_bh_fdr reads four metrics at once and applies
# the Benjamini-Hochberg step-up at alpha = 0.10 to their p-values.
# ---------------------------------------------------------------------------

_N_PERMS = 20
_ALPHA_PPM = 100_000  # alpha = 0.10

SQL_PERM_ARM = (
    f"CAST(CASE WHEN seed = -1 THEN {sql_arm(2)} ELSE "
    + sql_md5_long("CAST(user_id AS VARCHAR) || '_' || CAST(seed AS VARCHAR)")
    + " % 2 END AS INTEGER)"
)


def perm_arm() -> Column:
    """Arm (0/1) of ``user_id`` under ``seed``: seed -1 is the observed
    arm split, any other seed the parity of md5_long(user_id || '_'
    || seed). Spark twin of SQL_PERM_ARM."""
    seeded = F.concat(F.col("user_id").cast("string"), F.lit("_"), F.col("seed").cast("string"))
    return (
        F.when(F.col("seed") == -1, arm(2))
        .otherwise(md5_long(seeded) % 2)
        .cast("int")
    )


def _perm_sums(u: DataFrame, *metrics: str) -> DataFrame:
    """Per seed: the arm sizes n0, n1 and each metric's arm sums
    ``{m}_s0``, ``{m}_s1`` of a per-user frame under :func:`perm_arm`."""
    e = u.select(
        "user_id",
        *metrics,
        F.explode(F.expr(f"sequence(-1, {_N_PERMS - 1})")).alias("seed"),
    ).select(
        F.col("seed").cast("int").alias("seed"),
        perm_arm().alias("arm"),
        *metrics,
    )
    return e.groupBy("seed").agg(
        *[
            F.sum(F.when(F.col("arm") == i, 1).otherwise(0)).cast("bigint").alias(f"n{i}")
            for i in (0, 1)
        ],
        *[
            F.sum(F.when(F.col("arm") == i, F.col(m)).otherwise(0)).cast("bigint").alias(f"{m}_s{i}")
            for m in metrics
            for i in (0, 1)
        ],
    )


def _diff_micro(m: str) -> str:
    """Arm 1 minus arm 0 mean of metric ``m`` in micro units."""
    return f"CAST((1000000 * {m}_s1) div n1 - (1000000 * {m}_s0) div n0 AS BIGINT)"


def permutation_test_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_permutation_test (scaling-probe entry)."""
    g = _perm_sums(user_cents(ev), "v")
    d = g.select("seed", "n0", "n1", F.expr(_diff_micro("v")).alias("diff_micro"))
    w = d.select(
        "*",
        F.expr(
            "max(CASE WHEN seed = -1 THEN diff_micro END) OVER ()"
        ).cast("bigint").alias("observed_micro"),
    ).select(
        "*",
        F.expr(
            "CAST(CASE WHEN seed >= 0 AND abs(diff_micro)"
            " >= abs(observed_micro) THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("exceeds"),
    )
    return w.select(
        "seed",
        (F.col("seed") == -1).alias("is_observed"),
        "n0",
        "n1",
        "diff_micro",
        "observed_micro",
        "exceeds",
        F.expr(
            f"CAST((1000000 * (1 + sum(exceeds) OVER ()))"
            f" div (1 + {_N_PERMS}) AS BIGINT)"
        ).alias("p_value_ppm"),
    ).orderBy("seed")


@query(
    "events_permutation_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS v
      FROM events GROUP BY user_id
    ),
    e AS (
      SELECT CAST(seed AS INTEGER) AS seed, v,
             {SQL_PERM_ARM} AS arm
      FROM u CROSS JOIN
        (SELECT unnest(generate_series(-1, {_N_PERMS - 1})) AS seed)
    ),
    g AS (
      SELECT seed,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT)
               AS s0,
             CAST(sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT)
               AS s1
      FROM e GROUP BY seed
    ),
    d AS (
      SELECT seed, n0, n1,
             CAST((1000000 * s1) // n1 - (1000000 * s0) // n0 AS BIGINT)
               AS diff_micro
      FROM g
    ),
    w AS (
      SELECT *,
             CAST(max(CASE WHEN seed = -1 THEN diff_micro END) OVER ()
                  AS BIGINT) AS observed_micro
      FROM d
    ),
    x AS (
      SELECT *,
             CAST(CASE WHEN seed >= 0 AND abs(diff_micro)
                  >= abs(observed_micro) THEN 1 ELSE 0 END AS BIGINT)
               AS exceeds
      FROM w
    )
    SELECT seed, seed = -1 AS is_observed, n0, n1, diff_micro,
           observed_micro, exceeds,
           CAST((1000000 * (1 + sum(exceeds) OVER ()))
                // (1 + {_N_PERMS}) AS BIGINT) AS p_value_ppm
    FROM x ORDER BY seed
    """,
)
def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Monte-Carlo permutation test of the arm mean-value
    difference: 20 md5 pseudo-permutations plus the observed
    assignment, per-assignment arm sizes and exact micro-cent
    differences, and the add-one permutation p-value in ppm."""
    return permutation_test_frame(table(spark, sf_dir, "events"))


_METRICS = ("m_value", "m_conv", "m_events", "m_purch")


def bh_fdr_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_bh_fdr (scaling-probe entry)."""
    u = user_cents(
        ev,
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("m_conv"),
        F.count("*").cast("bigint").alias("m_events"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("m_purch"),
    ).withColumnRenamed("v", "m_value")
    g = _perm_sums(u, *_METRICS)
    # long form: one row per (seed, metric) with the exact micro diff
    lng = g.selectExpr(
        "seed",
        "stack(4, "
        + ", ".join(f"'{m}', {_diff_micro(m)}" for m in _METRICS)
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


_SQL_STACK = " UNION ALL ".join(
    f"SELECT seed, '{m}' AS metric,"
    f" CAST((1000000 * {m}_s1) // n1 - (1000000 * {m}_s0) // n0"
    f" AS BIGINT) AS diff_micro FROM g"
    for m in _METRICS
)
_SQL_ARMS = ", ".join(
    f"CAST(sum(CASE WHEN arm = 0 THEN {m} ELSE 0 END) AS BIGINT)"
    f" AS {m}_s0, "
    f"CAST(sum(CASE WHEN arm = 1 THEN {m} ELSE 0 END) AS BIGINT)"
    f" AS {m}_s1"
    for m in _METRICS
)


@query(
    "events_bh_fdr",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum({_SQL_CENTS}) AS BIGINT)
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


# ---------------------------------------------------------------------------
# events_ips_offpolicy — off-policy value of a new targeting rule from
# the randomized log: the logged arm has propensity exactly 1/2; the
# candidate policy treats users with >= 5 pre-period events. IPS =
# 2 * matched post cents / N, SNIPS = the matched mean, both floor-div
# micro-cents, with the match count and share as the overlap diagnostic.
# ---------------------------------------------------------------------------

_POLICY_MIN_PRE = 5


def ips_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_ips_offpolicy (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.expr(_PRE), 1).otherwise(0))
        .cast("bigint")
        .alias("pre_n"),
        F.expr(_SQL_POST).alias("v"),
    ).select(
        "v",
        arm(2).alias("arm"),
        F.when(F.col("pre_n") >= _POLICY_MIN_PRE, 1)
        .otherwise(0)
        .cast("int")
        .alias("pi_arm"),
    )
    t = u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("arm") == F.col("pi_arm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(F.col("arm") == F.col("pi_arm"), F.col("v")).otherwise(0)
        )
        .cast("bigint")
        .alias("s_matched"),
        F.sum(F.when(F.col("pi_arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_policy_treat"),
        F.sum("v").cast("bigint").alias("s_all"),
    )
    return t.select(
        "n_users",
        "n_matched",
        "n_policy_treat",
        F.expr(
            "CAST((1000000 * n_matched) div n_users AS BIGINT)"
        ).alias("match_share_ppm"),
        # IPS: 2 * matched value / N (propensity exactly 1/2)
        F.expr(
            "CAST((1000000 * 2 * s_matched) div n_users AS BIGINT)"
        ).alias("ips_value_micro"),
        # SNIPS: matched value / matched weight mass = matched mean
        F.expr(
            "CAST(CASE WHEN n_matched = 0 THEN 0"
            " ELSE (1000000 * s_matched) div n_matched END AS BIGINT)"
        ).alias("snips_value_micro"),
        # the logged (behavior) average for comparison
        F.expr(
            "CAST((1000000 * s_all) div n_users AS BIGINT)"
        ).alias("logged_value_micro"),
    )


@query(
    "events_ips_offpolicy",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN {_PRE} THEN 1
                           ELSE 0 END) AS BIGINT) AS pre_n,
             {_SQL_POST} AS v
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT v, {sql_arm(2)} AS arm,
             CASE WHEN pre_n >= {_POLICY_MIN_PRE} THEN 1 ELSE 0 END
               AS pi_arm
      FROM u
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN arm = pi_arm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             CAST(sum(CASE WHEN arm = pi_arm THEN v ELSE 0 END) AS BIGINT)
               AS s_matched,
             CAST(sum(CASE WHEN pi_arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_policy_treat,
             CAST(sum(v) AS BIGINT) AS s_all
      FROM p
    )
    SELECT n_users, n_matched, n_policy_treat,
           CAST((1000000 * n_matched) // n_users AS BIGINT)
             AS match_share_ppm,
           CAST((1000000 * 2 * s_matched) // n_users AS BIGINT)
             AS ips_value_micro,
           CAST(CASE WHEN n_matched = 0 THEN 0
                ELSE (1000000 * s_matched) // n_matched END AS BIGINT)
             AS snips_value_micro,
           CAST((1000000 * s_all) // n_users AS BIGINT)
             AS logged_value_micro
    FROM t
    """,
)
def events_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a deterministic targeting rule from
    the randomized log: IPS and SNIPS value estimates in exact
    micro-cents, the match-share overlap diagnostic, and the logged
    behavior average."""
    return ips_frame(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# events_cluster_robust_se — the user-clustered (Liang-Zeger sandwich)
# SE of the event-level mean per arm beside the naive iid SE and their
# ratio, the design effect. Per (arm, user) sums n_u, S_u, Q_u; arm
# totals (N, S, Q, G) broadcast back (2 rows by construction); the
# sandwich numerator T = sum_u (N*S_u - n_u*S)^2 is an exact DECIMAL, so
# Var_cr = G/(G-1) * T / N^4 and Var_naive = (N*Q - S^2) / (N^2 (N-1))
# are fixed closed forms over exact integers.
# ---------------------------------------------------------------------------


def cluster_se_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_cluster_robust_se (scaling-probe entry)."""
    u = ev.select(
        arm(2).alias("arm"),
        "user_id",
        cents().alias("v"),
    ).groupBy("arm", "user_id").agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.sum("v").cast("bigint").alias("s_u"),
        _sum_prod("v", "v").alias("q_u"),
    )
    tot = u.groupBy("arm").agg(
        F.sum("n_u").cast("bigint").alias("n_ev"),
        F.sum("s_u").cast("bigint").alias("s_tot"),
        F.sum("q_u").cast(_DEC).alias("q_tot"),
        F.count("*").cast("bigint").alias("g_users"),
    )
    j = u.join(F.broadcast(tot), "arm")  # 2 rows by arm-key construction
    dev = f"(CAST(n_ev AS {_DEC}) * s_u - CAST(n_u AS {_DEC}) * s_tot)"
    arm_frame = j.groupBy("arm").agg(
        F.max("n_ev").alias("n_ev"),
        F.max("s_tot").alias("s_tot"),
        F.max("q_tot").alias("q_tot"),
        F.max("g_users").alias("g_users"),
        F.sum(F.expr(f"{dev} * {dev}")).cast(_DEC).alias("t_sand"),
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
    return arm_frame.select(
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
    oracle=f"""
    WITH u AS (
      SELECT {sql_arm(2)} AS arm, user_id,
             CAST(count(*) AS BIGINT) AS n_u,
             CAST(sum({_SQL_CENTS}) AS BIGINT) AS s_u,
             CAST(sum(CAST({_SQL_CENTS} AS HUGEINT)
                      * {_SQL_CENTS}) AS HUGEINT)
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


# ---------------------------------------------------------------------------
# events_event_study — leads and lags around a staggered treatment:
# each user treated at their first signup week; value cents per
# relative week tau in [-3, 3] (epoch-day weeks, absent weeks are true
# zeros from the bounded tau spine), micro-cent means normalized to
# tau = -1. Flat leads are the parallel-trends evidence DiD assumes.
# ---------------------------------------------------------------------------

_TAU = 3


def event_study_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_event_study (scaling-probe entry)."""
    base = ev.select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7"
            " AS INT)"
        ).alias("wk"),
        "event_type",
        cents().alias("cents"),
    )
    uw = base.groupBy("user_id", "wk").agg(
        F.sum("cents").cast("bigint").alias("v")
    )
    treated = base.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("wk").cast("int").alias("wk0"))
    cells = treated.select(
        "user_id",
        "wk0",
        F.explode(F.expr(f"sequence(-{_TAU}, {_TAU})")).alias("tau"),
    ).select(
        "user_id",
        F.col("tau").cast("int").alias("tau"),
        (F.col("wk0") + F.col("tau")).cast("int").alias("wk"),
    )
    filled = cells.join(uw, ["user_id", "wk"], "left").select(
        "tau", F.coalesce("v", F.lit(0)).cast("bigint").alias("v")
    )
    t = filled.groupBy("tau").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("v").cast("bigint").alias("s"),
    )
    w = t.select(
        "tau",
        "n_users",
        F.expr("CAST((1000000 * s) div n_users AS BIGINT)").alias(
            "mean_micro"
        ),
    ).select(
        "*",
        F.expr(
            "CAST(max(CASE WHEN tau = -1 THEN mean_micro END) OVER ()"
            " AS BIGINT)"
        ).alias("base_micro"),
    )
    return w.select(
        "tau",
        "n_users",
        "mean_micro",
        F.expr("CAST(mean_micro - base_micro AS BIGINT)").alias(
            "coef_micro"
        ),
    ).orderBy("tau")


@query(
    "events_event_study",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  // 7 AS INTEGER) AS wk,
             event_type,
             {_SQL_CENTS} AS cents
      FROM events
    ),
    uw AS (
      SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS v
      FROM base GROUP BY 1, 2
    ),
    treated AS (
      SELECT user_id, CAST(min(wk) AS INTEGER) AS wk0
      FROM base WHERE event_type = 'signup' GROUP BY 1
    ),
    cells AS (
      SELECT user_id, CAST(tau AS INTEGER) AS tau,
             CAST(wk0 + tau AS INTEGER) AS wk
      FROM treated CROSS JOIN
        (SELECT unnest(generate_series(-{_TAU}, {_TAU})) AS tau)
    ),
    filled AS (
      SELECT tau, CAST(coalesce(v, 0) AS BIGINT) AS v
      FROM cells LEFT JOIN uw USING (user_id, wk)
    ),
    t AS (
      SELECT tau, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(v) AS BIGINT) AS s
      FROM filled GROUP BY tau
    ),
    w AS (
      SELECT tau, n_users,
             CAST((1000000 * s) // n_users AS BIGINT) AS mean_micro
      FROM t
    )
    SELECT tau, n_users, mean_micro,
           CAST(mean_micro - max(CASE WHEN tau = -1 THEN mean_micro END)
                OVER () AS BIGINT) AS coef_micro
    FROM w ORDER BY tau
    """,
)
def events_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study path around each user's first signup week: per
    relative week tau in [-3, 3], treated-user count, exact micro-cent
    mean weekly value, and the coefficient normalized to tau = -1."""
    return event_study_frame(table(spark, sf_dir, "events"))
