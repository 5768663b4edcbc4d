"""Round-6 wave-8 workloads: robust statistics, governance and
allocation passes — t-closeness (completing the k-anonymity /
l-diversity privacy trio), Theil-Sen and Mann-Kendall robust trend,
monthly OHLC+VWAP bars, maximum drawdown, FIFO lot allocation as a
prefix-sum (the textbook sequential loop re-expressed relationally),
functional-dependency violation auditing (g3 measure), a
Kneser-Ney-smoothed bigram LM beside the add-one LM, and
largest-remainder (Hamilton) budget apportionment whose allocations
sum exactly to the budget.

Determinism rules (house style, see workload/__init__ docstring):
money is BIGINT cents rounded per ROW before any sum; probabilities,
distances and slopes are integer ppm / micro units produced by a
single integer division (both engines truncate toward zero);
medians use the crossing-row rule (lower median), never an engine
percentile builtin; every ORDER BY carries a full unique-key
tiebreak; dates cross the engine boundary as ISO strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# privacy_t_closeness — the third audit of the privacy trio
# (k-anonymity: group size; l-diversity: distinct sensitive values;
# t-closeness, Li et al. 2007: the DISTRIBUTION of the sensitive
# attribute within a quasi-identifier group must stay close to the
# global distribution, else group membership leaks a skewed
# posterior even when k and l pass). For a categorical sensitive
# attribute the distance is total variation:
#   t = (1/2) * sum_v | P_group(v) - P_global(v) |.
#
# Exact integer form: with group counts cnt_v (group size k), global
# counts g_v (population N),
#   sum_v |cnt_v*N - g_v*k|  over ALL v
#     = N*k + sum_{v present in group} (|cnt_v*N - g_v*k| - g_v*k)
# (absent values contribute g_v*k; sum_all g_v = N), so the absent
# terms never need generating. t_ppm = 10^6 * S / (2*k*N) by one
# integer division — no float ever forms.
#
# Scale shape: one (QI, sensitive) hash aggregation, a window sum for
# k, a join onto the sensitive-marginal table (segment-cardinality
# rows, unhinted — AQE broadcasts while small), one 1-row population
# scalar. Nothing scales beyond the QI-group count.
# ---------------------------------------------------------------------------

_TCLOSE_PPM = 400_000  # breach threshold: t > 0.4


@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nk,
             CAST(floor(c_acctbal / 1000e0) AS BIGINT) AS band,
             c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    gv AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS gcnt
           FROM customer GROUP BY 1),
    pop AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM customer),
    gk AS (SELECT g.*, sum(cnt) OVER (PARTITION BY nk, band) AS k FROM g),
    t AS (
      SELECT nk, band,
             CAST(max(k) AS BIGINT) AS k,
             CAST(max(nn) AS BIGINT) AS nn,
             CAST(sum(abs(cnt * nn - gcnt * k)) AS BIGINT) AS s_abs,
             CAST(sum(gcnt) AS BIGINT) AS s_g
      FROM gk JOIN gv USING (seg) CROSS JOIN pop
      GROUP BY nk, band
    ),
    tc AS (
      SELECT nk, band,
             (1000000 * (nn * k - k * s_g + s_abs)) // (2 * k * nn) AS t_ppm
      FROM t
    )
    SELECT nk AS nationkey,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(max(t_ppm) AS BIGINT) AS max_t_ppm,
           CAST(sum(CASE WHEN t_ppm > {_TCLOSE_PPM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_breaching
    FROM tc GROUP BY nk ORDER BY nationkey
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation t-closeness of market segment within (nation,
    balance-band) QI groups: group count, worst total-variation
    distance (ppm), and groups breaching t = 0.4. All arithmetic is
    exact BIGINT; the absent-value identity avoids densifying the
    (group x segment) grid."""
    cust = table(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.expr("CAST(floor(c_acctbal / 1000e0) AS BIGINT)").alias("band"),
        F.col("c_mktsegment").alias("seg"),
    )
    return t_closeness_frame(rows)


def t_closeness_frame(rows: DataFrame) -> DataFrame:
    """Core t-closeness audit over (nk, band, seg) rows — the exact
    registered plan, factored for the scale probe."""
    g = rows.groupBy("nk", "band", "seg").agg(F.count("*").alias("cnt"))
    gv = rows.groupBy("seg").agg(F.count("*").alias("gcnt"))
    pop = rows.agg(F.count("*").alias("nn"))
    gk = g.withColumn("k", F.sum("cnt").over(W.partitionBy("nk", "band")))
    t = (
        gk.join(gv, "seg")  # segment-marginal table: unhinted, AQE broadcasts
        .crossJoin(F.broadcast(pop))  # 1-row population scalar
        .groupBy("nk", "band")
        .agg(
            F.max("k").alias("k"),
            F.max("nn").alias("nn"),
            F.sum(F.abs(F.col("cnt") * F.col("nn") - F.col("gcnt") * F.col("k")))
            .alias("s_abs"),
            F.sum("gcnt").alias("s_g"),
        )
    )
    tc = t.select(
        "nk",
        F.expr(
            "(1000000 * (nn * k - k * s_g + s_abs)) div (2 * k * nn)"
        ).alias("t_ppm"),
    )
    return (
        tc.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.max("t_ppm").cast("bigint").alias("max_t_ppm"),
            F.sum(F.when(F.col("t_ppm") > _TCLOSE_PPM, 1).otherwise(0))
            .cast("bigint")
            .alias("n_breaching"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Shared monthly revenue series (per market segment): cents are
# rounded per ORDER before summation so the monthly totals are exact
# integers under any summation order. Month index is 0-based from
# 1992-01 — an integer x-axis for slope arithmetic.
# ---------------------------------------------------------------------------

_MONTHLY_SQL = """
      SELECT c_mktsegment AS seg,
             CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                  AS BIGINT) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
"""


def _monthly_segment_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            ((F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("m"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("seg", "m")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )


# ---------------------------------------------------------------------------
# timeseries_theil_sen — robust trend: the Theil-Sen estimator is the
# median of all pairwise slopes (y_j - y_i) / (m_j - m_i), immune to
# up to ~29% outlier months where OLS is not. Slopes quantize to
# integer micro-cents/month via sign * (10^6*|dy|) div dm (dm > 0, so
# only non-negative division crosses an engine boundary); the median
# is the house crossing-row rule (lower median at rank (n+1) div 2
# under a full (slope, mi, mj) tiebreak) — never an engine
# percentile builtin.
#
# Scale shape: the pair self-join is O(months^2) PER SERIES — bounded
# by the time grain (84 months here), NOT by row count; the only
# data-sized work is the monthly aggregation (one shuffle on
# (segment, month)). At 100 TB the series stays 84 points long.
# BIGINT bound: 10^6 * |monthly cents| must stay < 2^63 — holds to
# ~9.2 trillion dollars/month.
# ---------------------------------------------------------------------------


@query(
    "timeseries_theil_sen",
    oracle=f"""
    WITH s AS ({_MONTHLY_SQL}),
    p AS (
      SELECT a.seg, a.m AS mi, b.m AS mj,
             CAST(sign(b.y - a.y) AS BIGINT)
               * ((1000000 * abs(b.y - a.y)) // (b.m - a.m)) AS slope_micro
      FROM s a JOIN s b ON a.seg = b.seg AND a.m < b.m
    ),
    r AS (
      SELECT seg, slope_micro,
             row_number() OVER (PARTITION BY seg
                                ORDER BY slope_micro, mi, mj) AS rn,
             count(*) OVER (PARTITION BY seg) AS np
      FROM p
    )
    SELECT seg, CAST(np AS BIGINT) AS n_pairs,
           CAST(slope_micro AS BIGINT) AS sen_slope_microcents
    FROM r WHERE rn = (np + 1) // 2
    ORDER BY seg
    """,
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope (micro-cents/month) of each market
    segment's monthly revenue: median of all pairwise slopes via the
    crossing-row lower-median rule."""
    s = _monthly_segment_series(spark, sf_dir)
    a = s.select("seg", F.col("m").alias("mi"), F.col("y").alias("yi"))
    b = s.select(
        F.col("seg").alias("seg_b"), F.col("m").alias("mj"), F.col("y").alias("yj")
    )
    p = a.join(b, (a.seg == b.seg_b) & (a.mi < b.mj)).select(
        "seg",
        "mi",
        "mj",
        F.expr(
            "CAST(sign(yj - yi) AS BIGINT)"
            " * ((1000000 * abs(yj - yi)) div (mj - mi))"
        ).alias("slope_micro"),
    )
    wseg = W.partitionBy("seg")
    r = p.select(
        "seg",
        "slope_micro",
        F.row_number().over(wseg.orderBy("slope_micro", "mi", "mj")).alias("rn"),
        F.count("*").over(wseg).alias("np"),
    )
    return (
        r.filter(F.expr("rn = (np + 1) div 2"))
        .select(
            "seg",
            F.col("np").cast("bigint").alias("n_pairs"),
            F.col("slope_micro").cast("bigint").alias("sen_slope_microcents"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# timeseries_mann_kendall — the hypothesis-test companion to
# Theil-Sen: S = sum over i<j of sign(y_j - y_i) is a pure integer
# statistic (no distributional assumption), and Kendall's tau =
# S / n_pairs quantizes by one integer division. S > 0 with |tau|
# near 1 is a monotone trend; S near 0 is noise. Same
# O(months^2)-per-series pair join as the slope — time-grain-bounded.
# ---------------------------------------------------------------------------


@query(
    "timeseries_mann_kendall",
    oracle=f"""
    WITH s AS ({_MONTHLY_SQL}),
    p AS (
      SELECT a.seg, CAST(sign(b.y - a.y) AS BIGINT) AS sgn
      FROM s a JOIN s b ON a.seg = b.seg AND a.m < b.m
    ),
    t AS (
      SELECT seg, CAST(sum(sgn) AS BIGINT) AS s_stat,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY seg
    )
    SELECT seg, s_stat, n_pairs,
           CAST(CASE WHEN s_stat >= 0
                     THEN (1000000 * s_stat) // n_pairs
                     ELSE -((1000000 * -s_stat) // n_pairs) END
                AS BIGINT) AS tau_ppm
    FROM t ORDER BY seg
    """,
)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per market segment over monthly
    revenue: the integer S statistic and Kendall's tau in ppm
    (sign-split division so both engines truncate identically)."""
    s = _monthly_segment_series(spark, sf_dir)
    a = s.select("seg", F.col("m").alias("mi"), F.col("y").alias("yi"))
    b = s.select(
        F.col("seg").alias("seg_b"), F.col("m").alias("mj"), F.col("y").alias("yj")
    )
    p = a.join(b, (a.seg == b.seg_b) & (a.mi < b.mj)).select(
        "seg", F.expr("CAST(sign(yj - yi) AS BIGINT)").alias("sgn")
    )
    t = p.groupBy("seg").agg(
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.count("*").cast("bigint").alias("n_pairs"),
    )
    return t.select(
        "seg",
        "s_stat",
        "n_pairs",
        F.expr(
            "CAST(CASE WHEN s_stat >= 0"
            " THEN (1000000 * s_stat) div n_pairs"
            " ELSE -((1000000 * -s_stat) div n_pairs) END AS BIGINT)"
        ).alias("tau_ppm"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# lineitem_monthly_ohlc_vwap — resample the line-item price stream to
# monthly OHLC + VWAP bars, the canonical tick-to-bar downsampling of
# any market-data or metrics pipeline. Open/close need a total order
# WITHIN the bar: row_number over (shipdate, orderkey, linenumber) —
# a full unique tiebreak, so first/last are well-defined under any
# parallelism (min_by/arg_min with ties are not). VWAP is one
# integer division of BIGINT cent-quantity products.
#
# Scale shape: two windows + one hash aggregation, all partitioned by
# the bar key — per-bar state only, combinable across executors. The
# first/last extraction is max(CASE WHEN rn = 1 ...), not a collect.
# ---------------------------------------------------------------------------


@query(
    "lineitem_monthly_ohlc_vwap",
    oracle="""
    WITH r AS (
      SELECT CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1
                  AS BIGINT) AS m,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty,
             l_shipdate AS sd, l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem
    ),
    w AS (
      SELECT m, cents, qty,
             row_number() OVER (PARTITION BY m ORDER BY sd, ok, ln) AS rn_a,
             row_number() OVER (PARTITION BY m
                                ORDER BY sd DESC, ok DESC, ln DESC) AS rn_d
      FROM r
    )
    SELECT m AS month_num,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(sum(qty) AS BIGINT) AS volume,
           CAST(sum(cents * qty) // sum(qty) AS BIGINT) AS vwap_cents,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM w GROUP BY m ORDER BY month_num
    """,
)
def lineitem_monthly_ohlc_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC + VWAP bars over line-item extended prices:
    open/close by full-tiebreak row_number, high/low/volume by plain
    aggregates, VWAP as a single BIGINT division."""
    li = table(spark, sf_dir, "lineitem")
    r = li.select(
        ((F.year("l_shipdate") - F.lit(1992)) * 12 + F.month("l_shipdate") - 1)
        .cast("bigint")
        .alias("m"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    wm = W.partitionBy("m")
    w = r.select(
        "m",
        "cents",
        "qty",
        F.row_number().over(wm.orderBy("sd", "ok", "ln")).alias("rn_a"),
        F.row_number()
        .over(wm.orderBy(F.desc("sd"), F.desc("ok"), F.desc("ln")))
        .alias("rn_d"),
    )
    return (
        w.groupBy(F.col("m").alias("month_num"))
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("cents")))
            .cast("bigint")
            .alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.max(F.when(F.col("rn_d") == 1, F.col("cents")))
            .cast("bigint")
            .alias("close_cents"),
            F.sum("qty").cast("bigint").alias("volume"),
            F.expr("CAST(sum(cents * qty) div sum(qty) AS BIGINT)").alias(
                "vwap_cents"
            ),
            F.count("*").cast("bigint").alias("n_trades"),
        )
        .orderBy("month_num")
    )


# ---------------------------------------------------------------------------
# orders_max_drawdown — per-segment maximum drawdown of the daily
# revenue series: running peak (max over an unbounded-preceding
# window) minus current value, then the worst point with an
# earliest-day tiebreak. The risk statistic every revenue/price
# monitor keeps beside volatility — "how far below the best day so
# far did we fall". Running max is the prefix-scan shape: windows
# partition by segment, so the sequential dependency parallelizes
# across series; no global single-partition window exists.
# ---------------------------------------------------------------------------


@query(
    "orders_max_drawdown",
    oracle="""
    WITH d AS (
      SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT seg, day, rev,
             max(rev) OVER (PARTITION BY seg ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM d
    ),
    x AS (
      SELECT seg, day, rev, peak, peak - rev AS dd,
             row_number() OVER (PARTITION BY seg
                                ORDER BY peak - rev DESC, day) AS rn
      FROM r
    )
    SELECT seg, CAST(day AS VARCHAR) AS trough_day,
           CAST(dd AS BIGINT) AS drawdown_cents,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(rev AS BIGINT) AS trough_rev_cents
    FROM x WHERE rn = 1 ORDER BY seg
    """,
)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each segment's daily revenue: running-peak
    window minus current, worst row per segment (earliest-day
    tiebreak). Dates cross the engine boundary as ISO strings."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    d = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.to_date("o_orderdate").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("seg", "day")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    r = d.withColumn(
        "peak",
        F.max("rev").over(
            W.partitionBy("seg").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    x = r.select(
        "seg",
        "day",
        "rev",
        "peak",
        (F.col("peak") - F.col("rev")).alias("dd"),
        F.row_number()
        .over(
            W.partitionBy("seg").orderBy(
                (F.col("peak") - F.col("rev")).desc(), F.col("day")
            )
        )
        .alias("rn"),
    )
    return (
        x.filter(F.col("rn") == 1)
        .select(
            "seg",
            F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
            F.col("dd").cast("bigint").alias("drawdown_cents"),
            F.col("peak").cast("bigint").alias("peak_cents"),
            F.col("rev").cast("bigint").alias("trough_rev_cents"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# inventory_fifo_allocation — FIFO consumption WITHOUT a loop: per
# part, pre-1997 shipments are supply lots in (shipdate, orderkey,
# linenumber) order and 1997+ demand draws them down first-in-first-
# out. The textbook implementation is a sequential cursor; the
# relational form is one exclusive prefix sum (window cumsum minus
# self) + take = least(lot, greatest(demand - cum_before, 0)) — each
# lot's allocation depends only on ITS prefix, so the whole pass is
# one partitioned window + one join, parallel across parts.
#
# Scale shape: window partitioned by partkey (millions of independent
# series at 100 TB — no global order), demand is a conditional hash
# aggregation joined back on the same key; with both sides
# pre-partitioned on partkey the join co-locates. Output is
# part-cardinality.
# ---------------------------------------------------------------------------


@query(
    "inventory_fifo_allocation",
    oracle="""
    WITH lots AS (
      SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty,
             l_shipdate AS sd, l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
    ),
    dem AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    ),
    c AS (
      SELECT pk, qty, sd,
             sum(qty) OVER (PARTITION BY pk ORDER BY sd, ok, ln
                            ROWS UNBOUNDED PRECEDING) - qty AS cum_before
      FROM lots
    ),
    a AS (
      SELECT c.pk, dem.demand, c.sd,
             least(c.qty, greatest(dem.demand - c.cum_before, 0)) AS take
      FROM c JOIN dem ON c.pk = dem.pk
    )
    SELECT pk AS partkey,
           CAST(max(demand) AS BIGINT) AS demand,
           CAST(sum(take) AS BIGINT) AS allocated,
           CAST(max(demand) - sum(take) AS BIGINT) AS unfilled,
           CAST(sum(CASE WHEN take > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lots_used,
           CAST(max(CASE WHEN take > 0 THEN CAST(sd AS DATE) END) AS VARCHAR)
             AS boundary_ship_day
    FROM a GROUP BY pk ORDER BY partkey
    """,
)
def inventory_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation of 1997+ demand against pre-1997 supply lots
    per part, as a single exclusive prefix sum: allocated quantity,
    unfilled remainder, lots touched, and the boundary lot's ship
    day. Covers parts having both supply and demand (inner join)."""
    li = table(spark, sf_dir, "lineitem")
    lots = li.filter(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")).select(
        F.col("l_partkey").alias("pk"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    dem = (
        li.filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("demand"))
    )
    return fifo_allocation_frame(lots, dem)


def fifo_allocation_frame(lots: DataFrame, dem: DataFrame) -> DataFrame:
    """Core FIFO prefix-sum allocation over (pk, qty, sd, ok, ln) lots
    and (pk, demand) — the exact registered plan, factored for the
    scale probe."""
    c = lots.select(
        "pk",
        "qty",
        "sd",
        (
            F.sum("qty").over(
                W.partitionBy("pk")
                .orderBy("sd", "ok", "ln")
                .rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("qty")
        ).alias("cum_before"),
    )
    a = c.join(dem, "pk").select(
        "pk",
        "demand",
        "sd",
        F.least(
            F.col("qty"), F.greatest(F.col("demand") - F.col("cum_before"), F.lit(0))
        ).alias("take"),
    )
    return (
        a.groupBy(F.col("pk").alias("partkey"))
        .agg(
            F.max("demand").cast("bigint").alias("demand"),
            F.sum("take").cast("bigint").alias("allocated"),
            (F.max("demand") - F.sum("take")).cast("bigint").alias("unfilled"),
            F.sum(F.when(F.col("take") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lots_used"),
            F.date_format(
                F.max(F.when(F.col("take") > 0, F.to_date("sd"))), "yyyy-MM-dd"
            ).alias("boundary_ship_day"),
        )
        .orderBy("partkey")
    )


# ---------------------------------------------------------------------------
# dq_fd_violations — functional-dependency audit (the data-profiling
# pass a Metanome/Deequ-style checker runs before trusting a key or
# a denormalization): for each candidate FD X -> Y, how many LHS
# groups carry more than one Y, and the g3 measure — the minimum
# rows to delete for the FD to hold exactly (N - sum_X max_y count).
# Five fixed candidates spanning held and violated cases.
#
# Scale shape per candidate: one (X, Y) hash aggregation, one X-level
# re-aggregation of the (X, Y)-cardinality table, one 1-row summary —
# combinable all the way down; candidates run as a union of
# independent subplans.
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("part: p_brand->p_type", "part", "p_brand", "p_type"),
    ("customer: c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("orders: o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem: l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("orders: o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
)


def _fd_leg_sql(name: str, tbl: str, x: str, y: str) -> str:
    return f"""
    SELECT '{name}' AS fd,
           CAST(sum(rows_x) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CAST(sum(rows_x) - sum(maxc) AS BIGINT) AS g3_rows_to_fix,
           CAST((1000000 * sum(maxc)) // sum(rows_x) AS BIGINT) AS conform_ppm
    FROM (
      SELECT x, CAST(count(*) AS BIGINT) AS ny,
             CAST(max(c) AS BIGINT) AS maxc, CAST(sum(c) AS BIGINT) AS rows_x
      FROM (SELECT {x} AS x, {y} AS y, CAST(count(*) AS BIGINT) AS c
            FROM {tbl} GROUP BY 1, 2)
      GROUP BY x
    )"""


@query(
    "dq_fd_violations",
    oracle=" UNION ALL ".join(
        _fd_leg_sql(*cand) for cand in _FD_CANDIDATES
    )
    + " ORDER BY fd",
)
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit five candidate functional dependencies: LHS group count,
    violating groups, the g3 repair size (min deletions), and
    conformance in ppm. o_orderkey->o_orderstatus conforms exactly
    (key); the rest quantify real violations."""

    def leg(name: str, tbl: str, x: str, y: str) -> DataFrame:
        pairs = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(x).alias("x"), F.col(y).alias("y"))
            .agg(F.count("*").alias("c"))
        )
        per_x = pairs.groupBy("x").agg(
            F.count("*").alias("ny"),
            F.max("c").alias("maxc"),
            F.sum("c").alias("rows_x"),
        )
        return per_x.agg(
            F.lit(name).alias("fd"),
            F.sum("rows_x").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_lhs"),
            F.sum(F.when(F.col("ny") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_lhs"),
            (F.sum("rows_x") - F.sum("maxc")).cast("bigint").alias("g3_rows_to_fix"),
            F.expr("CAST((1000000 * sum(maxc)) div sum(rows_x) AS BIGINT)").alias(
                "conform_ppm"
            ),
        )

    out = None
    for cand in _FD_CANDIDATES:
        df = leg(*cand)
        out = df if out is None else out.unionAll(df)
    return out.orderBy("fd")


# ---------------------------------------------------------------------------
# text_kneser_ney_top — interpolated Kneser-Ney bigram probabilities
# beside the add-one LM (text_bigram_lm_score): with discount
# D = 3/4,
#   P_KN(w2|w1) = max(c12 - D, 0)/c1 + D * N1+(w1,.)/c1 * N1+(.,w2)/B
# (continuation counts, the smoothing modern KenLM pipelines ship).
# Scaling by 4 clears the discount's denominator, so the probability
# is ONE exact integer division:
#   p_ppm = 10^6*(B*max(4*c12-3,0) + 3*n1fw*nbw) div (4*c1*B).
#
# Scale shape: ONE pass over the token stream builds the bigram-TYPE
# table; the context totals (c1, N1+(w1,.)), continuation counts
# (N1+(.,w2)) and type count B are all re-aggregations of that
# model-sized table, never of the stream; joins back onto it are
# unhinted (AQE broadcasts while small — the table is corpus-scaled,
# so a pinned hint would be the r4 bug class). BIGINT bound:
# 10^6 * 4 * B * c12 < 2^63 — holds while B * c12 < 2.3e12; a
# web-scale corpus takes the hashed-vocabulary route
# (text_bigram_lm_hashed) before that bound binds.
# ---------------------------------------------------------------------------


@query(
    "text_kneser_ney_top",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (SELECT doc_id, unnest(range(1, len(toks))) AS pos, toks FROM tok),
    b AS (SELECT toks[pos] AS w1, toks[pos + 1] AS w2 FROM pg),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1fw FROM bc GROUP BY w1),
    cw AS (SELECT w2, CAST(count(*) AS BIGINT) AS nbw FROM bc GROUP BY w2),
    sc AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bc)
    SELECT bc.w1, bc.w2, c12,
           CAST((1000000 * (btypes * greatest(4 * c12 - 3, 0)
                            + 3 * n1fw * nbw))
                // (4 * c1 * btypes) AS BIGINT) AS p_kn_ppm,
           CAST((1000000 * c12) // c1 AS BIGINT) AS p_mle_ppm
    FROM bc JOIN uc USING (w1) JOIN cw USING (w2) CROSS JOIN sc
    ORDER BY c12 DESC, w1, w2 LIMIT 20
    """,
)
def text_kneser_ney_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most frequent bigrams with their interpolated
    Kneser-Ney probability (D = 3/4, exact integer ppm) beside the
    MLE — the smoothing gap is largest exactly where continuation
    diversity disagrees with raw frequency."""
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bstream = docs.select(toks.alias("toks"), F.explode(idx).alias("pos")).select(
        F.element_at("toks", F.col("pos")).alias("w1"),
        F.element_at("toks", F.col("pos") + 1).alias("w2"),
    )
    return kneser_ney_frame(bstream)


def kneser_ney_frame(bstream: DataFrame) -> DataFrame:
    """Core KN model build + top-20 over a (w1, w2) bigram stream —
    the exact registered plan, factored for the scale probe."""
    bc = bstream.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1fw")
    )
    cw = bc.groupBy("w2").agg(F.count("*").alias("nbw"))
    sc = bc.agg(F.count("*").alias("btypes"))
    return (
        bc.join(uc, "w1")  # model-sized tables: unhinted, AQE decides
        .join(cw, "w2")
        .crossJoin(F.broadcast(sc))  # 1-row type-count scalar
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.expr(
                "CAST((1000000 * (btypes * greatest(4 * c12 - 3, 0)"
                " + 3 * n1fw * nbw)) div (4 * c1 * btypes) AS BIGINT)"
            ).alias("p_kn_ppm"),
            F.expr("CAST((1000000 * c12) div c1 AS BIGINT)").alias("p_mle_ppm"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# alloc_largest_remainder — Hamilton apportionment: split a
# 1,000,000-unit budget across nations proportional to revenue so the
# integer allocations SUM EXACTLY to the budget (naive rounding
# doesn't). base = floor share; the leftover units go to the largest
# fractional remainders (nationkey tiebreak). The exactness invariant
# is what makes this an operator and not a formula: quota and
# remainder come from one integer divmod, the leftover from a window
# sum over the nation-cardinality frame (bounded — 25 rows — so the
# unpartitioned window is not a scale hazard).
# ---------------------------------------------------------------------------

_ALLOC_BUDGET = 1_000_000


@query(
    "alloc_largest_remainder",
    oracle=f"""
    WITH rev AS (
      SELECT c_nationkey AS nk,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    q AS (
      SELECT nk, cents,
             ({_ALLOC_BUDGET} * cents) // t AS base,
             ({_ALLOC_BUDGET} * cents) % t AS rem
      FROM rev CROSS JOIN tot
    ),
    l AS (
      SELECT q.*, {_ALLOC_BUDGET} - sum(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, nk) AS rk
      FROM q
    )
    SELECT nk AS nationkey, cents AS revenue_cents,
           CAST(base AS BIGINT) AS base_units,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra_unit,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_units
    FROM l ORDER BY nationkey
    """,
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a 1M-unit budget across
    nations by revenue: floor quotas plus leftover units to the
    biggest remainders; sum(alloc_units) == budget exactly."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    q = rev.crossJoin(F.broadcast(tot)).select(  # 1-row total scalar
        "nk",
        "cents",
        F.expr(f"({_ALLOC_BUDGET} * cents) div t").alias("base"),
        F.expr(f"({_ALLOC_BUDGET} * cents) % t").alias("rem"),
    )
    # nation-cardinality frame (25 rows): the unpartitioned window is
    # bounded by construction, not a global-order scale hazard
    wall = W.partitionBy()
    l = q.select(
        "nk",
        "cents",
        "base",
        (F.lit(_ALLOC_BUDGET) - F.sum("base").over(wall)).alias("leftover"),
        F.row_number().over(wall.orderBy(F.desc("rem"), "nk")).alias("rk"),
    )
    return l.select(
        F.col("nk").alias("nationkey"),
        F.col("cents").alias("revenue_cents"),
        F.col("base").cast("bigint").alias("base_units"),
        F.when(F.col("rk") <= F.col("leftover"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("extra_unit"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc_units"),
    ).orderBy("nationkey")
