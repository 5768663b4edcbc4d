"""Round-6 wave-16 workloads: budget optimization and lifecycle
movement — exact integer water-filling allocation (find the cap level
that spends a token budget fairly across sources: the optimization
step `docs_domain_cap` hard-codes and `alloc_largest_remainder`
sidesteps), and the RFM segment MIGRATION matrix (not where customers
are — where they MOVED between two periods, the readout a retention
team actually acts on).

Determinism rules (house style): the water level is the exact largest
integer λ with sum(min(demand, λ)) <= budget, found on the
SUPPORT-COLLAPSED demand CDF (distinct demand values — bounded by the
source population, not the corpus); shares in integer ppm; segment
thresholds are pinned literals so both engines bucket identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table

# ---------------------------------------------------------------------------
# alloc_water_filling — spend HALF the corpus's token budget across
# sources with maximal fairness: every source keeps min(demand, λ)
# tokens, where λ is the LARGEST integer level whose total spend fits
# the budget. Small sources keep everything; big sources cap at λ —
# the continuous generalization of a fixed domain cap, with the cap
# DERIVED from the budget instead of guessed.
#
# Exact integer construction on the support-collapsed demand CDF:
# served(v) = sum(demand <= v) + v * n_above(v) is piecewise-linear in
# v, so the optimum is found at a distinct demand value j* = max j
# with served(v_j) <= B, then λ = v_j* + (B - served(v_j*)) div
# n_above(v_j*); if even the smallest demand level overshoots,
# λ = B div n_sources. The window runs over DISTINCT demand values
# (<= source population at any corpus size).
# ---------------------------------------------------------------------------

_WF_BUDGET_PCT = 50


@query(
    "alloc_water_filling",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS demand
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(demand) * {_WF_BUDGET_PCT} // 100 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS n_src
      FROM d
    ),
    v AS (SELECT demand AS lv, CAST(count(*) AS BIGINT) AS m FROM d GROUP BY 1),
    cum AS (
      SELECT lv, m,
             CAST(sum(lv * m) OVER (ORDER BY lv) AS BIGINT) AS cum_d,
             CAST(sum(m) OVER (ORDER BY lv) AS BIGINT) AS cum_m
      FROM v
    ),
    served AS (
      SELECT lv, cum_d + lv * ((SELECT n_src FROM tot) - cum_m) AS srv,
             (SELECT n_src FROM tot) - cum_m AS n_above
      FROM cum
    ),
    best AS (
      SELECT lv, srv, n_above FROM served
      WHERE srv <= (SELECT budget FROM tot)
      ORDER BY lv DESC LIMIT 1
    ),
    lvl AS (
      SELECT CASE
               WHEN (SELECT count(*) FROM best) = 0
                 THEN (SELECT budget FROM tot) // (SELECT n_src FROM tot)
               WHEN (SELECT n_above FROM best) = 0
                 THEN (SELECT lv FROM best)
               ELSE (SELECT lv FROM best)
                    + ((SELECT budget FROM tot) - (SELECT srv FROM best))
                      // (SELECT n_above FROM best)
             END AS lam
    )
    SELECT d.source, d.demand,
           CAST(least(d.demand, lvl.lam) AS BIGINT) AS allocated,
           CASE WHEN d.demand > lvl.lam THEN 1 ELSE 0 END AS capped,
           CAST(lvl.lam AS BIGINT) AS water_level
    FROM d CROSS JOIN lvl
    ORDER BY d.source
    """,
)
def alloc_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation: cap level λ spending 50% of the
    corpus budget, exact integers off the support-collapsed demand
    CDF; per-source demand/allocated/capped plus the level."""
    return water_filling_frame(table(spark, sf_dir, "documents"))


def water_filling_frame(docs: DataFrame) -> DataFrame:
    """Frame core of alloc_water_filling (scaling-probe entry)."""
    from ..ops import text as X

    d = docs.select(
        "source", F.size(X.tokens(F.col("text"))).cast("bigint").alias("nt")
    ).groupBy("source").agg(F.sum("nt").cast("bigint").alias("demand"))
    tot = d.agg(
        F.expr(
            f"CAST(sum(demand) * {_WF_BUDGET_PCT} div 100 AS BIGINT)"
        ).alias("budget"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    v = d.groupBy(F.col("demand").alias("lv")).agg(
        F.count("*").cast("bigint").alias("m")
    )
    wv = W.orderBy("lv")
    cum = v.select(
        "lv",
        "m",
        F.sum(F.col("lv") * F.col("m")).over(wv).cast("bigint").alias("cum_d"),
        F.sum("m").over(wv).cast("bigint").alias("cum_m"),
    )
    served = cum.crossJoin(F.broadcast(tot)).select(  # 1-row totals
        "lv",
        "budget",
        "n_src",
        (F.col("cum_d") + F.col("lv") * (F.col("n_src") - F.col("cum_m"))).alias(
            "srv"
        ),
        (F.col("n_src") - F.col("cum_m")).alias("n_above"),
    )
    best = (
        served.filter(F.col("srv") <= F.col("budget"))
        .orderBy(F.desc("lv"))
        .limit(1)
        .select("lv", "srv", "n_above")
    )
    # λ in one row: coalesce handles the empty-best (all levels
    # overshoot) and the fully-served (n_above = 0) cases
    lvl = (
        tot.join(best, F.lit(True), "left")
        .select(
            F.when(
                F.col("lv").isNull(), F.expr("budget div n_src")
            )
            .when(F.col("n_above") == 0, F.col("lv"))
            .otherwise(
                F.col("lv") + F.expr("(budget - srv) div n_above")
            )
            .cast("bigint")
            .alias("lam")
        )
    )
    return (
        d.crossJoin(F.broadcast(lvl))  # 1-row level
        .select(
            "source",
            "demand",
            F.least("demand", F.col("lam")).cast("bigint").alias("allocated"),
            F.when(F.col("demand") > F.col("lam"), 1).otherwise(0).alias("capped"),
            F.col("lam").alias("water_level"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# orders_rfm_migration — the segment TRANSITION matrix: bucket each
# customer by order frequency in the pre-1998 and 1998+ windows
# (pinned literal thresholds: 0 -> NONE, 1 -> LOW, 2-3 -> MID,
# 4+ -> HIGH) and count every (from, to) movement, with its share of
# the customer base in ppm. Where orders_rfm_segments says where
# customers ARE, this says where they WENT — churn is the
# (active -> NONE) row, win-back is (NONE -> active).
#
# Scale shape: two conditional counts off ONE scan (no second pass),
# full-outer-free (counts default 0 per customer), one 16-cell
# combinable aggregate at the end.
# ---------------------------------------------------------------------------

_RFM_SEG = (
    "CASE WHEN {n} = 0 THEN 'NONE' WHEN {n} = 1 THEN 'LOW'"
    " WHEN {n} <= 3 THEN 'MID' ELSE 'HIGH' END"
)


@query(
    "orders_rfm_migration",
    oracle=f"""
    WITH pc AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM orders GROUP BY o_custkey
    ),
    seg AS (
      SELECT {_RFM_SEG.format(n='n1')} AS seg_from,
             {_RFM_SEG.format(n='n2')} AS seg_to
      FROM pc
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM seg)
    SELECT seg_from, seg_to,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST((1000000 * count(*)) // (SELECT n_cust FROM t) AS BIGINT)
             AS share_ppm
    FROM seg GROUP BY seg_from, seg_to
    ORDER BY seg_from, seg_to
    """,
)
def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-segment transition matrix (pre-1998 -> 1998+) with
    customer-base shares in ppm — churn and win-back as explicit
    cells."""
    return rfm_migration_frame(table(spark, sf_dir, "orders"))


def rfm_migration_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_rfm_migration (scaling-probe entry)."""
    cut = F.lit("1998-01-01").cast("timestamp")
    pc = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("o_orderdate") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    seg = pc.select(
        F.expr(_RFM_SEG.format(n="n1")).alias("seg_from"),
        F.expr(_RFM_SEG.format(n="n2")).alias("seg_to"),
    )
    t = seg.agg(F.count("*").cast("bigint").alias("n_cust"))
    return (
        seg.groupBy("seg_from", "seg_to")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .crossJoin(F.broadcast(t))  # 1-row total
        .select(
            "seg_from",
            "seg_to",
            "n_customers",
            F.expr("CAST((1000000 * n_customers) div n_cust AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("seg_from", "seg_to")
    )


# ---------------------------------------------------------------------------
# streaming_oov_monitor — the STREAMING twin of text_oov_rate: the
# top-K vocabulary is built batch-side from the train sources (the
# K-bounded static table a live intake broadcasts), eval documents
# stream in via availableNow, and per-source (n_tokens, n_oov) is a
# real streaming aggregation (complete mode). Must equal the batch
# meter — same oracle verbatim.
# ---------------------------------------------------------------------------

# import the oracle from wave15 so batch and stream stay in lock-step
from .wave15 import _OOV_K, _OOV_TRAIN, text_oov_rate  # noqa: E402,F401


@query(
    "streaming_oov_monitor",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKS}) AS t FROM documents
    ),
    vc AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok
      WHERE source IN {str(_OOV_TRAIN)}
      GROUP BY t
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY n DESC, t) AS rn FROM vc
      ) WHERE rn <= {_OOV_K}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((1000000 * sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    WHERE source NOT IN {str(_OOV_TRAIN)}
    GROUP BY source ORDER BY source
    """,
)
def streaming_oov_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of streaming.landing.stream_oov_monitor: the
    vocabulary-drift alarm as a REAL streaming aggregation against the
    static top-K vocab, checked against text_oov_rate's oracle."""
    from ..streaming.landing import stream_oov_monitor

    return stream_oov_monitor(spark, sf_dir)
