"""Fixture tests for the wave-26 (round 6) workloads — semantics the
oracle differential cannot pin: the SPRT walk's decision boundaries on
constructed cohorts (an all-converting cohort crosses ACCEPT_H1 at the
hand-computed user count; an all-missing cohort walks down to
ACCEPT_H0; the walk is cumulative across days), and the weekday
concentration's partition identities (shares sum to ~1e6, exactly one
peak, uniform mix reads zero lift).
"""

from __future__ import annotations

import datetime
import math

SF = "/root/testdata/sf0.001"


def _events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_sprt_accepts_h1_at_hand_computed_crossing(spark, tmp_path):
    """Every treatment user converts: each adds ln(1.3) micro-nats
    (262364). ln(19)*1e6 = 2944439, so the walk crosses ACCEPT_H1 at
    user 12 (12 * 262364 = 3148368 >= 2944439; 11 users are short).
    Day 1 has 11 users (CONTINUE), day 2 adds 1 (ACCEPT_H1)."""
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_sprt_monitor,
    )

    rows = []
    eid = 0
    for uid_i in range(11):
        uid = 2 * uid_i + 1  # odd = treatment
        rows.append((eid := eid + 1, datetime.datetime(2024, 1, 1, 9), uid,
                     "purchase", 200.0))
    rows.append((eid := eid + 1, datetime.datetime(2024, 1, 2, 9), 23,
                 "purchase", 200.0))
    out = events_sprt_monitor(spark, _events(spark, tmp_path, rows)).collect()
    w_conv = round(math.log(0.26 / 0.20) * 1e6)
    assert out[0]["decision"] == "CONTINUE"
    assert out[0]["llr_micronats"] == 11 * w_conv
    assert out[1]["decision"] == "ACCEPT_H1"
    assert out[1]["llr_micronats"] == 12 * w_conv


def test_sprt_accepts_h0_on_all_misses(spark, tmp_path):
    """No conversions: each user adds ln(0.925) ~= -77962 micro-nats;
    38 users cross -ln(19) (38 * 77962 = 2962556 >= 2944439)."""
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_sprt_monitor,
    )

    rows = []
    eid = 0
    for uid_i in range(38):
        uid = 2 * uid_i + 1
        rows.append((eid := eid + 1, datetime.datetime(2024, 1, 1, 9), uid,
                     "view", 1.0))
    out = events_sprt_monitor(spark, _events(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    assert out[0]["n_users"] == 38 and out[0]["n_conv"] == 0
    assert out[0]["decision"] == "ACCEPT_H0"


def _orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_weekday_concentration_uniform_and_peak(spark, tmp_path):
    """$100 on each of 7 consecutive days: every share is 142857 ppm,
    every lift is ~0 (floor loss), and each day ties for peak; then a
    doubled Monday makes Monday the unique peak with lift +750000."""
    from etl_neotel_sql_automation_spark.workload.wave26 import (
        orders_weekday_concentration,
    )

    base = datetime.date(1996, 1, 1)  # Monday
    rows = [
        (i, 1, 100.0,
         datetime.datetime.combine(base + datetime.timedelta(days=i),
                                   datetime.time(12)), "x")
        for i in range(7)
    ]
    out = orders_weekday_concentration(
        spark, _orders(spark, tmp_path, rows)
    ).collect()
    assert len(out) == 7
    assert all(r["share_ppm"] == 142_857 for r in out)
    assert all(-10 <= r["lift_vs_uniform_ppm"] <= 0 for r in out)
    assert sum(r["is_peak"] for r in out) == 7  # all tied

    d2 = tmp_path / "d2"
    d2.mkdir()
    rows.append((10, 1, 100.0,
                 datetime.datetime.combine(base + datetime.timedelta(days=7),
                                           datetime.time(12)), "x"))
    out2 = {r["day_of_week"]: r for r in orders_weekday_concentration(
        spark, _orders(spark, d2, rows)).collect()}
    # Spark dayofweek: Monday = 2
    assert out2[2]["is_peak"] == 1
    assert sum(r["is_peak"] for r in out2.values()) == 1
    assert out2[2]["share_ppm"] == 250_000
    assert out2[2]["lift_vs_uniform_ppm"] == 750_000
