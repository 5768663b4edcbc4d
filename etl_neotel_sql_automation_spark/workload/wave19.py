"""Round-6 wave-19 workloads: curation economics and decomposition —
the greedy quality knapsack (spend a token budget on the BEST docs,
the value-ordered complement of sample_token_budget's unbiased hash
order), a differential-privacy sensitivity audit (the max per-user
contribution a DP histogram release would have to clip — the number
you must know BEFORE calibrating noise), Theil inequality
decomposition (Gini says HOW unequal customer spend is; Theil says
WHERE — between nations or within them), and additive seasonal
decomposition of the daily revenue series (centered 7-day moving-
average trend, per-weekday seasonal indices — the calendar structure
events_seasonality_profile profiles for events, here extracted from a
money series by trend removal).

Determinism rules (house style): budgets/shares in integer ppm by one
floor division; ln per-term-rounded to micro-nats (negative-capable
here — both engines round half away from zero, verified); the
centered moving average is an exact `div 7` over the day support;
doc-value ordering carries a doc_id tiebreak.

Scale notes: the knapsack's global value sort is range-partitionable
(the only row-count-ordered window in the wave; everything after the
cumsum is per-source combinable); sensitivity and Theil are two-level
combinable aggregates (user -> cell, customer -> nation); the seasonal
window runs over the bounded DAY support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# curation_greedy_knapsack — spend 50% of the corpus token budget on
# the highest-value docs: value = unique-token ratio (doc TTR, ppm),
# docs admitted in (value desc, doc_id) order while the cumulative
# token spend fits. Where sample_token_budget answers "an unbiased
# sample under budget", this answers "the best docs under budget" —
# the two ends of the curation trade.
# ---------------------------------------------------------------------------

_KNAP_BUDGET_PCT = 50


@query(
    "curation_greedy_knapsack",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
             CAST((1000000 * len(list_distinct({_SQL_TOKS})))
                  // nullif(len({_SQL_TOKS}), 0) AS BIGINT) AS value_ppm
      FROM documents
    ),
    tot AS (
      SELECT CAST(sum(nt) * {_KNAP_BUDGET_PCT} // 100 AS BIGINT) AS budget
      FROM feat
    ),
    ranked AS (
      SELECT *, CAST(sum(nt) OVER (ORDER BY value_ppm DESC, doc_id)
                     AS BIGINT) AS cum_nt
      FROM feat WHERE nt > 0
    ),
    sel AS (
      SELECT * FROM ranked WHERE cum_nt <= (SELECT budget FROM tot)
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.nt) AS BIGINT) AS n_tokens,
           CAST(count(s.doc_id) AS BIGINT) AS n_selected,
           CAST(coalesce(sum(s.nt), 0) AS BIGINT) AS tokens_selected,
           CAST(coalesce(min(s.value_ppm), 0) AS BIGINT) AS min_value_ppm
    FROM feat f LEFT JOIN sel s USING (doc_id)
    GROUP BY f.source ORDER BY f.source
    """,
)
def curation_greedy_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy value-ordered token knapsack at 50% budget: per-source
    doc/token counts, how many made the cut, and the admission
    threshold (min accepted TTR ppm)."""
    return greedy_knapsack_frame(table(spark, sf_dir, "documents"))


def greedy_knapsack_frame(docs: DataFrame) -> DataFrame:
    """Frame core of curation_greedy_knapsack (scaling-probe entry)."""
    # one tokenize, shared by the token count and the TTR value
    feat = (
        docs.select(
            "doc_id", "source", X.tokens(F.col("text")).alias("t")
        )
        .select(
            "doc_id",
            "source",
            F.size("t").cast("bigint").alias("nt"),
            F.expr(
                "1000000 * size(array_distinct(t)) div nullif(size(t), 0)"
            )
            .cast("bigint")
            .alias("value_ppm"),
        )
    )
    tot = feat.agg(
        F.expr(
            f"CAST(sum(nt) * {_KNAP_BUDGET_PCT} div 100 AS BIGINT)"
        ).alias("budget")
    )
    ranked = (
        feat.filter(F.col("nt") > 0)
        .withColumn(
            "cum_nt",
            F.sum("nt")
            .over(W.orderBy(F.desc("value_ppm"), F.asc("doc_id")))
            .cast("bigint"),
        )
    )
    sel = (
        ranked.crossJoin(F.broadcast(tot))  # 1-row budget
        .filter(F.col("cum_nt") <= F.col("budget"))
        .select("doc_id", F.col("nt").alias("s_nt"),
                F.col("value_ppm").alias("s_value"))
    )
    return (
        feat.join(sel, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.count("s_nt").cast("bigint").alias("n_selected"),
            F.coalesce(F.sum("s_nt"), F.lit(0)).cast("bigint").alias(
                "tokens_selected"
            ),
            F.coalesce(F.min("s_value"), F.lit(0)).cast("bigint").alias(
                "min_value_ppm"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# privacy_sensitivity_audit — before a DP release of the orders-by-
# priority histogram: the max contribution any one customer makes to
# each cell (per-cell clip bound), and the max total rows any one
# customer contributes (user-level L1 sensitivity of the whole
# histogram). These exact maxima are what noise calibration clips to;
# releasing them is the audit, not the release.
# ---------------------------------------------------------------------------


@query(
    "privacy_sensitivity_audit",
    oracle="""
    WITH pc AS (
      SELECT o_custkey, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey, o_orderpriority
    ),
    user_l1 AS (
      SELECT CAST(max(t) AS BIGINT) AS l1 FROM (
        SELECT o_custkey, sum(n) AS t FROM pc GROUP BY o_custkey
      )
    )
    SELECT o_orderpriority,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(max(n) AS BIGINT) AS max_user_contrib,
           (SELECT l1 FROM user_l1) AS user_l1_sensitivity
    FROM pc GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def privacy_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level sensitivity audit of the orders-by-priority
    histogram: per-cell max single-customer contribution plus the
    global L1 (max rows per customer)."""
    return sensitivity_audit_frame(table(spark, sf_dir, "orders"))


def sensitivity_audit_frame(orders: DataFrame) -> DataFrame:
    """Frame core of privacy_sensitivity_audit (scaling-probe entry)."""
    pc = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n")
    )
    l1 = (
        pc.groupBy("o_custkey")
        .agg(F.sum("n").alias("t"))
        .agg(F.max("t").cast("bigint").alias("user_l1_sensitivity"))
    )
    return (
        pc.groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_users"),
            F.max("n").cast("bigint").alias("max_user_contrib"),
        )
        .crossJoin(F.broadcast(l1))  # 1-row global L1
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# orders_theil_decomposition — Theil T index of customer spend,
# decomposed by nation: T_total over all customers, T_between over
# nation aggregates, and per-nation T_within. Unlike Gini (registered),
# Theil decomposes: between + spend-weighted within ~= total (exact up
# to the per-term micro-nat rounding, which the fixture bounds). Each
# ln term is per-term-rounded to micro-nats; terms can be NEGATIVE
# (below-mean spend), and both engines round half away from zero.
#
# Sums of x * ln_micro reach ~1e14 per customer — carried in
# DECIMAL(38,0)/HUGEINT before the final floor division by total
# spend.
# ---------------------------------------------------------------------------


@query(
    "orders_theil_decomposition",
    oracle="""
    WITH cust AS (
      SELECT o.o_custkey, c.c_nationkey AS nk,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_custkey, c.c_nationkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS HUGEINT) AS s
      FROM cust
    ),
    fix AS (
      SELECT c.nk,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(c.x) AS HUGEINT) AS s_g,
             CAST(sum(CAST(c.x AS HUGEINT)
                      * CAST(round(ln(c.x * 1.0e0 * g.n_g / g.s_g) * 1.0e6)
                             AS BIGINT)) AS HUGEINT) AS within_num
      FROM cust c JOIN (
        SELECT nk, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(x) AS HUGEINT) AS s_g
        FROM cust GROUP BY nk
      ) g USING (nk)
      GROUP BY c.nk
    ),
    total_t AS (
      SELECT CAST(sum(CAST(c.x AS HUGEINT)
                      * CAST(round(ln(c.x * 1.0e0 * t.n / t.s) * 1.0e6)
                             AS BIGINT)) // t.s AS BIGINT)
               AS theil_total_micro
      FROM cust c CROSS JOIN tot t GROUP BY t.s
    ),
    between_t AS (
      SELECT CAST(sum(f.s_g
                      * CAST(round(ln(f.s_g * 1.0e0 * t.n
                                      / (t.s * 1.0e0 * f.n_g)) * 1.0e6)
                             AS BIGINT)) // t.s AS BIGINT)
               AS theil_between_micro
      FROM fix f CROSS JOIN tot t GROUP BY t.s
    )
    SELECT f.nk AS n_nationkey, f.n_g AS n_customers,
           CAST(f.s_g AS BIGINT) AS spend_cents,
           CAST(f.within_num // f.s_g AS BIGINT) AS theil_within_micro,
           (SELECT theil_total_micro FROM total_t) AS theil_total_micro,
           (SELECT theil_between_micro FROM between_t) AS theil_between_micro
    FROM fix f ORDER BY f.nk
    """,
)
def orders_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer spend decomposed by nation:
    per-nation within-group Theil (micro-nats) plus the global total
    and between-nation components."""
    return theil_frame(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "customer")
    )


def theil_frame(orders: DataFrame, cust: DataFrame) -> DataFrame:
    """Frame core of orders_theil_decomposition (scaling-probe entry)."""
    c = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_custkey", F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
    )
    dec = "DECIMAL(38,0)"
    tot = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast(dec).alias("s"),
    )
    g = c.groupBy("nk").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast(dec).alias("s_g"),
    )
    per_row = c.join(g, "nk")
    fix = per_row.groupBy("nk", "n_g", "s_g").agg(
        F.sum(
            F.expr(
                f"CAST(x AS {dec})"
                " * CAST(round(ln(x * 1.0e0 * n_g / s_g) * 1.0e6) AS BIGINT)"
            )
        )
        .cast(dec)
        .alias("within_num")
    )
    total_t = (
        c.crossJoin(F.broadcast(tot))  # 1-row totals
        .agg(
            F.sum(
                F.expr(
                    f"CAST(x AS {dec})"
                    " * CAST(round(ln(x * 1.0e0 * n / s) * 1.0e6) AS BIGINT)"
                )
            )
            .cast(dec)
            .alias("num"),
            F.first(F.col("s").cast(dec)).alias("s"),
        )
        .select(
            F.expr("CAST(num div s AS BIGINT)").alias("theil_total_micro")
        )
    )
    between_t = (
        fix.crossJoin(F.broadcast(tot))  # 1-row totals
        .agg(
            F.sum(
                F.expr(
                    "s_g * CAST(round(ln(s_g * 1.0e0 * n / (s * 1.0e0 * n_g))"
                    " * 1.0e6) AS BIGINT)"
                )
            )
            .cast(dec)
            .alias("num"),
            F.first(F.col("s").cast(dec)).alias("s"),
        )
        .select(
            F.expr("CAST(num div s AS BIGINT)").alias("theil_between_micro")
        )
    )
    return (
        fix.crossJoin(F.broadcast(total_t))  # 1-row total Theil
        .crossJoin(F.broadcast(between_t))  # 1-row between Theil
        .select(
            F.col("nk").alias("n_nationkey"),
            F.col("n_g").alias("n_customers"),
            F.col("s_g").cast("bigint").alias("spend_cents"),
            F.expr("CAST(within_num div s_g AS BIGINT)").alias(
                "theil_within_micro"
            ),
            "theil_total_micro",
            "theil_between_micro",
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# timeseries_seasonal_decompose — additive weekly decomposition of the
# daily revenue series: trend = centered 7-day moving average (exact
# cents div 7, interior days only), seasonal index per weekday = mean
# of the detrended series (exact div). The calendar structure a
# forecaster removes before fitting Holt (registered beside it on
# purpose). Day numbering pinned to Spark's dayofweek (1 = Sunday;
# the oracle shifts DuckDB's 0-based).
# ---------------------------------------------------------------------------


@query(
    "timeseries_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    ma AS (
      SELECT day, rev,
             CAST(sum(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS w_sum,
             CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS w_n
      FROM daily
    ),
    det AS (
      SELECT CAST(dayofweek(day) + 1 AS INTEGER) AS day_of_week,
             rev - w_sum // 7 AS detrended
      FROM ma WHERE w_n = 7
    )
    SELECT day_of_week,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(detrended) AS BIGINT) AS detrended_sum_cents,
           CAST(sum(detrended) // count(*) AS BIGINT) AS seasonal_cents
    FROM det GROUP BY day_of_week ORDER BY day_of_week
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive weekly seasonal indices of daily revenue: centered
    7-day MA trend removal over the day support, per-weekday mean
    deviation in exact cents."""
    return seasonal_decompose_frame(table(spark, sf_dir, "orders"))


def seasonal_decompose_frame(orders: DataFrame) -> DataFrame:
    """Frame core of timeseries_seasonal_decompose (scaling-probe
    entry)."""
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w).cast("bigint").alias("w_sum"),
        F.count("*").over(w).cast("bigint").alias("w_n"),
    )
    det = ma.filter(F.col("w_n") == 7).select(
        F.dayofweek("day").cast("int").alias("day_of_week"),
        (F.col("rev") - F.expr("w_sum div 7")).alias("detrended"),
    )
    return (
        det.groupBy("day_of_week")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("detrended").cast("bigint").alias("detrended_sum_cents"),
            F.expr("CAST(sum(detrended) div count(*) AS BIGINT)").alias(
                "seasonal_cents"
            ),
        )
        .orderBy("day_of_week")
    )
