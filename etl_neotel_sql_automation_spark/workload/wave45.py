"""Round-8 wave-45 workload: forecast_reconcile_hierarchy —
hierarchical forecast reconciliation over the region -> nation revenue
hierarchy: Holt-smoothed one-step forecasts fitted INDEPENDENTLY at
both levels never add up (the coherence problem every planning stack
hits), so the table shows, per nation, the base forecast, the two
classical reconciliations — bottom-up (sum the nation forecasts) and
top-down (split the region forecast by historical revenue
proportions) — and the region's incoherence gap in ppm. Completes the
forecasting ladder (holt -> croston -> HW -> SES sweep) with the step
that makes per-series forecasts USABLE across an aggregation
hierarchy.

Exact integer construction: monthly revenue quantized to kilodollars
(the timeseries_best_split precedent — keeps y * 1e6 far inside
int64 at any scale); the Holt fold is the timeseries_holt_linear
dyadic recurrence (alpha = 1/2, beta = 1/4) run per series — nations
fold in one multi-series pass (the croston shape), regions fold over
the re-aggregated monthly series; top-down shares are floor-div
integer proportions of all-time kilodollar totals.

Scale shape: one orders x customer x nation x region pass contracts
to the (region, nation, month) grid (combinable aggregate, bounded by
|nations| x months); the 25-row per-nation series frame is
localCheckpointed (the r5 margin-miner pattern) because BOTH level
folds consume it — without the checkpoint the star-join tree would
recompute per level. Every pooled scalar (bottom-up sums, region
totals) is a region-partitioned window over the 25-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table

_FRH_S = 1_000_000


def _holt_fold(seq: str) -> str:
    """The timeseries_holt_linear dyadic recurrence folded over a
    sorted (m, y) struct array; returns a named_struct('l', 'b')."""
    return f"""
        aggregate(
          slice({seq}, 2, greatest(cast(size({seq}) as int) - 1, 0)),
          named_struct(
            'l', {seq}[0].y * CAST({_FRH_S} AS BIGINT),
            'b', CAST(0 AS BIGINT)),
          (acc, e) -> named_struct(
            'l', (e.y * {_FRH_S} + acc.l + acc.b) div 2,
            'b', acc.b + ((e.y * {_FRH_S} + acc.l + acc.b) div 2
                          - acc.l - acc.b) div 4)
        )"""


def reconcile_hierarchy_frame(
    orders: DataFrame,
    cust: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Frame core of forecast_reconcile_hierarchy (probe entry)."""
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name"),
            F.col("n_name"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("m"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("r_name", "n_name", "m")
        .agg(F.expr("CAST(sum(cents) div 100000 AS BIGINT)").alias("y"))
    )
    nation_series = monthly.groupBy("r_name", "n_name").agg(
        F.sort_array(F.collect_list(F.struct("m", "y"))).alias("seq"),
        F.sum("y").cast("bigint").alias("tot"),
    )
    # both level folds consume this 25-row frame; checkpoint so the
    # orders star join runs once (the margin-miner house pattern)
    nation_series = nation_series.localCheckpoint()
    n_fold = nation_series.select(
        "r_name",
        "n_name",
        "tot",
        F.expr(f"{_holt_fold('seq')}.l + {_holt_fold('seq')}.b")
        .cast("bigint")
        .alias("nation_fc_micro"),
    )
    r_series = (
        nation_series.select(
            "r_name", F.explode("seq").alias("e")
        )
        .groupBy("r_name", F.col("e.m").alias("m"))
        .agg(F.sum("e.y").cast("bigint").alias("y"))
        .groupBy("r_name")
        .agg(F.sort_array(F.collect_list(F.struct("m", "y"))).alias("rseq"))
        .select(
            "r_name",
            F.expr(f"{_holt_fold('rseq')}.l + {_holt_fold('rseq')}.b")
            .cast("bigint")
            .alias("region_fc_micro"),
        )
    )
    joined = n_fold.join(F.broadcast(r_series), "r_name").select(
        "r_name",
        "n_name",
        "tot",
        "nation_fc_micro",
        "region_fc_micro",
        F.expr(
            "sum(nation_fc_micro) OVER (PARTITION BY r_name)"
        ).alias("bu_region_fc_micro"),
        F.expr("sum(tot) OVER (PARTITION BY r_name)").alias("r_tot"),
    )
    return joined.select(
        "r_name",
        "n_name",
        "nation_fc_micro",
        "region_fc_micro",
        F.col("bu_region_fc_micro").cast("bigint"),
        F.expr(
            "CAST((region_fc_micro * tot) div r_tot AS BIGINT)"
        ).alias("td_nation_fc_micro"),
        F.expr(
            "CAST((1000000 * abs(region_fc_micro - bu_region_fc_micro))"
            " div region_fc_micro AS BIGINT)"
        ).alias("incoherence_ppm"),
    ).orderBy("r_name", "n_name")


def _reconcile_oracle() -> str:
    s = _FRH_S
    return f"""
    WITH monthly AS (
      SELECT r.r_name, n.n_name,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  // 100000 AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2, 3
    ),
    nseq AS (
      SELECT r_name, n_name, y,
             row_number() OVER (PARTITION BY n_name ORDER BY m) AS i
      FROM monthly
    ),
    ntot AS (
      SELECT r_name, n_name, CAST(sum(y) AS BIGINT) AS tot
      FROM monthly GROUP BY 1, 2
    ),
    nf AS (
      WITH RECURSIVE rec(n_name, i, l, b) AS (
        SELECT n_name, CAST(1 AS BIGINT), y * {s}, CAST(0 AS BIGINT)
        FROM nseq WHERE i = 1
        UNION ALL
        SELECT rec.n_name, rec.i + 1,
               (nseq.y * {s} + rec.l + rec.b) // 2,
               rec.b + ((nseq.y * {s} + rec.l + rec.b) // 2
                        - rec.l - rec.b) // 4
        FROM rec JOIN nseq
          ON nseq.n_name = rec.n_name AND nseq.i = rec.i + 1
      )
      SELECT n_name, l + b AS nation_fc_micro FROM (
        SELECT rec.*, row_number() OVER (
          PARTITION BY n_name ORDER BY i DESC) AS rr
        FROM rec
      ) WHERE rr = 1
    ),
    rmon AS (
      SELECT r_name, m, CAST(sum(y) AS BIGINT) AS y
      FROM monthly GROUP BY 1, 2
    ),
    rseq AS (
      SELECT r_name, y,
             row_number() OVER (PARTITION BY r_name ORDER BY m) AS i
      FROM rmon
    ),
    rf AS (
      WITH RECURSIVE rec(r_name, i, l, b) AS (
        SELECT r_name, CAST(1 AS BIGINT), y * {s}, CAST(0 AS BIGINT)
        FROM rseq WHERE i = 1
        UNION ALL
        SELECT rec.r_name, rec.i + 1,
               (rseq.y * {s} + rec.l + rec.b) // 2,
               rec.b + ((rseq.y * {s} + rec.l + rec.b) // 2
                        - rec.l - rec.b) // 4
        FROM rec JOIN rseq
          ON rseq.r_name = rec.r_name AND rseq.i = rec.i + 1
      )
      SELECT r_name, l + b AS region_fc_micro FROM (
        SELECT rec.*, row_number() OVER (
          PARTITION BY r_name ORDER BY i DESC) AS rr
        FROM rec
      ) WHERE rr = 1
    ),
    joined AS (
      SELECT ntot.r_name, ntot.n_name, ntot.tot,
             nf.nation_fc_micro, rf.region_fc_micro,
             sum(nf.nation_fc_micro) OVER (PARTITION BY ntot.r_name)
               AS bu_region_fc_micro,
             sum(ntot.tot) OVER (PARTITION BY ntot.r_name) AS r_tot
      FROM ntot
      JOIN nf ON ntot.n_name = nf.n_name
      JOIN rf ON ntot.r_name = rf.r_name
    )
    SELECT r_name, n_name, nation_fc_micro, region_fc_micro,
           CAST(bu_region_fc_micro AS BIGINT) AS bu_region_fc_micro,
           CAST((region_fc_micro * tot) // r_tot AS BIGINT)
             AS td_nation_fc_micro,
           CAST((1000000 * abs(region_fc_micro - bu_region_fc_micro))
                // region_fc_micro AS BIGINT) AS incoherence_ppm
    FROM joined ORDER BY r_name, n_name
    """


@query("forecast_reconcile_hierarchy", oracle=_reconcile_oracle())
def forecast_reconcile_hierarchy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Region/nation revenue forecast reconciliation: independent Holt
    one-step forecasts per nation and per region, bottom-up sums,
    top-down proportional splits, and the per-region incoherence gap
    (ppm)."""
    return reconcile_hierarchy_frame(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
    )
