"""Round-6 wave-10 workloads: streaming twins of the wave-8 bar/
freshness operators plus two window patterns Spark cannot express
directly — streaming hourly OHLC (first/last tick via packed-key
min_by/max_by, the incremental form of the batch row_number bars),
streaming per-feed freshness, running distinct counts (the
COUNT(DISTINCT) OVER workaround), and daily time-weighted averages
(TWAP) over step-interpolated event values.

Determinism rules (house style, see workload/__init__ docstring):
prices in BIGINT cents rounded per row; within-window order packed
into one BIGINT key (offset_us * 2^24 + event_id) so first/last are
exact under any parallelism; durations in integer microseconds; the
TWAP is one integer division; dates cross engines as ISO strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_CENTS, cents, query, table

# ---------------------------------------------------------------------------
# streaming_hourly_ohlc — tick-to-bar as a STREAMING aggregation: the
# batch form (lineitem_monthly_ohlc_vwap) ranks rows with row_number,
# which no streaming agg can do; the incremental form packs the
# within-bar total order into one BIGINT (offset-from-bar-start in
# microseconds * 2^24 + event_id; exact while event_id < 2^24 and the
# bar <= 1 h) and lets min_by/max_by — plain declarative aggregates,
# so per-window state is O(1) — extract the first/last tick's price.
# This is THE streaming pattern for "first/last value per window"
# without sessionization machinery.
# ---------------------------------------------------------------------------


@query(
    "streaming_hourly_ohlc",
    oracle=f"""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS hour_start,
             {_SQL_CENTS} AS cents,
             date_diff('microsecond', date_trunc('hour', ts), ts) * 16777216
               + event_id AS k
      FROM events
    )
    SELECT hour_start,
           CAST(arg_min(cents, k) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(arg_max(cents, k) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS vol_cents
    FROM r GROUP BY hour_start
    """,
)
def streaming_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC + volume bars over the events stream, run as a real
    Structured Streaming query (file source -> watermark -> windowed
    min_by/max_by -> memory sink, availableNow); the final bars must
    equal the batch arg_min/arg_max oracle exactly."""
    from ..streaming.landing import stream_hourly_ohlc

    return stream_hourly_ohlc(spark, sf_dir)


# ---------------------------------------------------------------------------
# streaming_type_freshness — the streaming twin of dq_freshness_sla:
# per-feed max(ts) kept as streaming state (the monitor table a
# runbook polls), lagged against its own watermark on the
# type-cardinality final frame. The heavy aggregation is streaming;
# the 5-row lag/flag step is batch on the sink table.
# ---------------------------------------------------------------------------


@query(
    "streaming_type_freshness",
    oracle="""
    WITH wm AS (SELECT max(ts) AS w FROM events),
    s AS (SELECT event_type, max(ts) AS latest FROM events GROUP BY event_type)
    SELECT event_type,
           CAST(date_diff('second', latest, w) AS BIGINT) AS lag_seconds,
           CAST(date_diff('second', latest, w) > 86400 AS BOOLEAN) AS sla_breach
    FROM s CROSS JOIN wm ORDER BY event_type
    """,
)
def streaming_type_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed staleness (lag vs the corpus watermark, 24 h SLA flag)
    with the per-type max maintained by a real streaming query; must
    equal the batch freshness oracle."""
    from ..streaming.landing import stream_type_freshness

    return stream_type_freshness(spark, sf_dir)


# ---------------------------------------------------------------------------
# window_running_distinct — COUNT(DISTINCT) OVER (ORDER BY ...) —
# which Spark (and ANSI generally) refuses — via the first-occurrence
# trick: a user's FIRST event per type (row_number = 1 over the full
# history) marks +1 on that day; the running sum of daily marks IS
# the cumulative distinct count. Two windows, both key-partitioned;
# no distinct-state ever materializes.
# ---------------------------------------------------------------------------


@query(
    "window_running_distinct",
    oracle="""
    WITH f AS (
      SELECT event_type, user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    d AS (
      SELECT event_type, day,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users
      FROM f GROUP BY 1, 2
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_distinct_users
    FROM d ORDER BY event_type, day
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new and cumulative-distinct users per event type — the
    running COUNT(DISTINCT) workaround: first-occurrence flags summed
    by day, then a running sum over the day grain."""
    ev = table(spark, sf_dir, "events")
    f = ev.select(
        "event_type",
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.row_number()
        .over(W.partitionBy("event_type", "user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    d = f.groupBy("event_type", "day").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("new_users")
    )
    return d.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users")
        .over(
            W.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cum_distinct_users"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# events_twap_daily — time-weighted average value per (feed, day):
# each event's value holds until the next event of the same feed that
# day (step interpolation), the day's last value holds to midnight.
# The metric that makes irregularly-sampled gauges comparable — a
# plain mean over-weights bursts. Durations are exact integer
# microseconds off one lead() window; the TWAP is one BIGINT division
# (cents * dur_us stays far under 2^63 within a day).
# ---------------------------------------------------------------------------


@query(
    "events_twap_daily",
    oracle=f"""
    WITH r AS (
      SELECT event_type, ts, event_id,
             {_SQL_CENTS} AS cents,
             CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    s AS (
      SELECT event_type, day, cents,
             epoch_us(coalesce(
               lead(ts) OVER (PARTITION BY event_type, day
                              ORDER BY ts, event_id),
               CAST(day + 1 AS TIMESTAMP))) - epoch_us(ts) AS dur_us
      FROM r
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents * dur_us) // sum(dur_us) AS BIGINT) AS twap_cents
    FROM s GROUP BY event_type, day ORDER BY event_type, day
    """,
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-interpolated time-weighted average value (integer cents)
    per event type per day, with the day's last value held to
    midnight."""
    ev = table(spark, sf_dir, "events")
    r = ev.select(
        "event_type",
        "ts",
        "event_id",
        cents().alias("cents"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    )
    nxt = F.lead("ts").over(
        W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    )
    s = r.select(
        "event_type",
        "day",
        "cents",
        (
            F.unix_micros(
                F.coalesce(nxt, F.date_add("day", 1).cast("timestamp"))
            )
            - F.unix_micros("ts")
        ).alias("dur_us"),
    )
    return (
        s.groupBy("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr("CAST(sum(cents * dur_us) div sum(dur_us) AS BIGINT)").alias(
                "twap_cents"
            ),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "twap_cents",
        )
        .orderBy("event_type", "day")
    )
