"""Round-8 wave-60 workload: events_permutation_test — nonparametric
inference for the experimentation family: a Monte-Carlo permutation
test of the arm difference in per-user mean value, with DETERMINISTIC
pseudo-permutations (md5 over user_id x seed — the cross-engine hash
idiom every minhash/classifier twin uses), so the whole null
distribution is reproducible bit-for-bit on both engines. The
classical readouts (z / Welch / ANOVA) lean on distributional
assumptions; the permutation test is the assumption-free check an
analyst runs when the spend distribution is too heavy-tailed to trust
a t — and nothing else in the registry builds a null distribution.

Method: ONE pass builds all 21 assignments — seed -1 is the OBSERVED
user_id-parity assignment, seeds 0..19 rehash each user into a
pseudo-random arm (md5(user_id || '_' || seed) % 2). The per-user
frame explodes over the bounded 21-seed array (a 21x row multiply on
two small columns, the quality_info_gain stack precedent), one
(seed, arm)-keyed combinable aggregate produces each assignment's arm
sums, and the arm difference is carried in exact integer MICRO-CENTS
((1e6*s1) div n1 - (1e6*s0) div n0, both floor-div operands
non-negative) so the |null| >= |observed| comparisons are integer
comparisons — no float ever enters the decision. The Monte-Carlo
p-value uses the add-one rule p = (1 + #exceeds)/(1 + N) in floor-div
ppm.

Scale shape: user aggregate (combinable) -> bounded 21x explode ->
21-key aggregate -> windows over the 21-row frame. At 100 TB the
explode multiplies a (user_id, v) pair, not the event stream, and
everything after the second aggregate is constant-size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops.hashing import md5_long, sql_md5_long

_N_PERMS = 20

SQL_PERM_ARM = (
    "CAST(CASE WHEN seed = -1 THEN user_id % 2 ELSE "
    + sql_md5_long("CAST(user_id AS VARCHAR) || '_' || CAST(seed AS VARCHAR)")
    + " % 2 END AS INTEGER)"
)


def perm_arm() -> Column:
    """Arm (0/1) of ``user_id`` under ``seed``: seed -1 is the observed
    user_id parity, any other seed the parity of md5_long(user_id || '_'
    || seed). Spark twin of SQL_PERM_ARM."""
    seeded = F.concat(F.col("user_id").cast("string"), F.lit("_"), F.col("seed").cast("string"))
    return (
        F.when(F.col("seed") == -1, F.col("user_id") % 2)
        .otherwise(md5_long(seeded) % 2)
        .cast("int")
    )


def permutation_test_frame(ev: DataFrame) -> DataFrame:
    """Frame core of events_permutation_test (scaling-probe entry)."""
    u = ev.groupBy("user_id").agg(
        F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .alias("v")
    )
    e = u.select(
        "user_id",
        "v",
        F.explode(F.expr(f"sequence(-1, {_N_PERMS - 1})")).alias("seed"),
    ).select(
        F.col("seed").cast("int").alias("seed"),
        "v",
        perm_arm().alias("arm"),
    )
    g = e.groupBy("seed").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
    )
    d = g.select(
        "seed",
        "n0",
        "n1",
        F.expr(
            "CAST((1000000 * s1) div n1 - (1000000 * s0) div n0 AS BIGINT)"
        ).alias("diff_micro"),
    )
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
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
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
