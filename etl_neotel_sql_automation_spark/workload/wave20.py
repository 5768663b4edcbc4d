"""Round-6 wave-20 workloads: tail and changepoint structure — the
Hill tail-index estimator (DOES customer spend have a power-law tail —
the number that justifies Pareto/winsorization policies, beside the
registered Zipf/Benford fits), and exact single-changepoint
localization by between-class variance (CUSUM detects that a shift
happened; this says WHERE, maximizing the split score over the day
support).

Determinism rules (house style): ln terms per-term-rounded to
micro-nats over ratios >= 1 (non-negative); the changepoint score is
DEFINED on the kilodollar-quantized daily series so the argmax
comparison is pure integer arithmetic with an earliest-day tiebreak.

Scale notes: Hill is a k-bounded TakeOrdered (no full sort
materialization); the changepoint scan is one window over the DAY
support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import query, table

# ---------------------------------------------------------------------------
# agg_hill_tail_index — Hill's estimator over the top-k order values:
# alpha_hat = k / sum_{i<=k} ln(x_i / x_(k+1)). A finite, stable
# alpha_hat (~1-3) says the spend tail is power-law — the
# quantitative backing for the registered Pareto/winsorization
# readouts. k is a pinned literal; the order statistic carries an
# orderkey tiebreak so both engines pick the identical top set.
# ---------------------------------------------------------------------------

_HILL_K = 200


@query(
    "agg_hill_tail_index",
    oracle=f"""
    WITH top AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT {_HILL_K + 1}
    ),
    thr AS (SELECT x AS xmin FROM top WHERE rn = {_HILL_K + 1})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           thr.xmin AS xmin_cents,
           CAST(sum(CAST(round(ln(top.x * 1.0e0 / thr.xmin) * 1.0e6)
                         AS BIGINT)) AS BIGINT) AS sum_ln_micro,
           CAST(sum(CAST(round(ln(top.x * 1.0e0 / thr.xmin) * 1.0e6)
                         AS BIGINT)) // {_HILL_K} AS BIGINT)
             AS alpha_inv_micro,
           CAST(({_HILL_K} * 1000000000000)
                // nullif(sum(CAST(round(ln(top.x * 1.0e0 / thr.xmin)
                                         * 1.0e6) AS BIGINT)), 0)
                AS BIGINT) AS alpha_micro
    FROM top CROSS JOIN thr WHERE top.rn <= {_HILL_K}
    GROUP BY thr.xmin
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of order values over the top-200 order
    statistics (micro units; per-term-rounded non-negative ln)."""
    return hill_frame(table(spark, sf_dir, "orders"))


def hill_frame(orders: DataFrame) -> DataFrame:
    """Frame core of agg_hill_tail_index (scaling-probe entry)."""
    k = _HILL_K
    top = (
        orders.select(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("x"),
            "o_orderkey",
            F.col("o_totalprice").alias("p"),
        )
        .orderBy(F.desc("p"), F.asc("o_orderkey"))
        .limit(k + 1)
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("p"), F.asc("o_orderkey")))
        )
    )
    thr = top.filter(F.col("rn") == k + 1).select(F.col("x").alias("xmin"))
    return (
        top.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(thr))  # 1-row threshold
        .groupBy("xmin")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(ln(x * 1.0e0 / xmin) * 1.0e6) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("sum_ln_micro")
        )
        .select(
            F.lit(k).cast("bigint").alias("k"),
            F.col("xmin").alias("xmin_cents"),
            "sum_ln_micro",
            F.expr(f"sum_ln_micro div {k}").cast("bigint").alias(
                "alpha_inv_micro"
            ),
            F.expr(
                f"CAST(({k} * 1000000000000)"
                " div nullif(sum_ln_micro, 0) AS BIGINT)"
            ).alias("alpha_micro"),
        )
    )


# ---------------------------------------------------------------------------
# timeseries_best_split — exact single-changepoint localization on the
# daily revenue series: the split day s maximizing the between-class
# sum of squares, computed on the KILODOLLAR-quantized series (the
# statistic's definition, so the argmax is pure integer arithmetic:
# score(s) = D(s)^2 div (n1 * n2) with D = S1*n - n1*S — identical
# floors on both engines, earliest-day tiebreak). CUSUM (registered)
# detects that the level shifted; this localizes the shift.
#
# Domain bound: D^2 fits DECIMAL/HUGEINT everywhere; the score
# quotient fits int64 up to ~1e5 support days x ~1e7 kilodollar daily
# revenue — past that, widen the kilodollar quantum.
# ---------------------------------------------------------------------------


@query(
    "timeseries_best_split",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS rev_k
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_k) AS BIGINT) AS s
      FROM daily
    ),
    cum AS (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS n1,
             CAST(sum(rev_k) OVER (ORDER BY day) AS BIGINT) AS s1
      FROM daily
    ),
    scored AS (
      SELECT cum.day, cum.n1, tot.n - cum.n1 AS n2,
             CAST((CAST(cum.s1 * tot.n - cum.n1 * tot.s AS HUGEINT)
                   * (cum.s1 * tot.n - cum.n1 * tot.s))
                  // (cum.n1 * (tot.n - cum.n1)) AS BIGINT) AS score,
             CAST(cum.s1 // cum.n1 AS BIGINT) AS pre_mean_k,
             CAST((tot.s - cum.s1) // (tot.n - cum.n1) AS BIGINT)
               AS post_mean_k
      FROM cum CROSS JOIN tot
      WHERE cum.n1 < tot.n
    )
    SELECT day AS split_day, n1 AS n_pre_days, n2 AS n_post_days,
           pre_mean_k, post_mean_k, score AS bss_score
    FROM scored ORDER BY score DESC, day LIMIT 1
    """,
)
def timeseries_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single changepoint of daily revenue: the day maximizing
    between-class sum of squares on the kilodollar series, with
    pre/post day counts and means."""
    return best_split_frame(table(spark, sf_dir, "orders"))


def best_split_frame(orders: DataFrame) -> DataFrame:
    """Frame core of timeseries_best_split (scaling-probe entry)."""
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(cents) div 100000 AS BIGINT)").alias("rev_k"))
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_k").cast("bigint").alias("s"),
    )
    wd = W.orderBy("day")
    cum = daily.select(
        "day",
        F.row_number().over(wd).cast("bigint").alias("n1"),
        F.sum("rev_k").over(wd).cast("bigint").alias("s1"),
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))  # 1-row totals
        .filter(F.col("n1") < F.col("n"))
        .select(
            "day",
            "n1",
            (F.col("n") - F.col("n1")).alias("n2"),
            F.expr(
                "CAST((CAST(s1 * n - n1 * s AS DECIMAL(38,0))"
                " * (s1 * n - n1 * s))"
                " div (n1 * (n - n1)) AS BIGINT)"
            ).alias("score"),
            F.expr("CAST(s1 div n1 AS BIGINT)").alias("pre_mean_k"),
            F.expr("CAST((s - s1) div (n - n1) AS BIGINT)").alias(
                "post_mean_k"
            ),
        )
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            F.col("n1").alias("n_pre_days"),
            F.col("n2").alias("n_post_days"),
            "pre_mean_k",
            "post_mean_k",
            F.col("score").alias("bss_score"),
        )
    )
