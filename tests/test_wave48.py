"""Fixture test for the wave-48 (round 8) Welch t-test — four users
with unequal arm variances, every output replayed in Python (the
Welch-Satterthwaite df is the column no differential can sanity-check
because both engines share the formula).
"""

from __future__ import annotations

import datetime
import math


def test_welch_hand_replay(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import welch_frame

    t = datetime.datetime(2024, 1, 10)
    # control (users 2, 4): totals 100, 300 dollars; treatment
    # (users 1, 3): totals 500, 1300 — bigger spread
    rows = [
        (0, t, 2, "view", 100.0),
        (1, t, 4, "view", 300.0),
        (2, t, 1, "view", 500.0),
        (3, t, 3, "view", 1300.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["arm"]: r for r in welch_frame(ev).collect()}
    a0, a1 = got[0], got[1]

    # cents: control {10000, 30000} mean 20000 var 2e8;
    # treatment {50000, 130000} mean 90000 var 3.2e9
    assert (a0["mean_cents"], a1["mean_cents"]) == (20_000.0, 90_000.0)
    assert (a0["var_cents2"], a1["var_cents2"]) == (2.0e8, 3.2e9)
    qa, qb = 2.0e8 / 2, 3.2e9 / 2
    se = math.sqrt(qa + qb)
    df = (qa + qb) ** 2 / (qa**2 / 1 + qb**2 / 1)
    assert a0["diff_cents"] == a1["diff_cents"] == 70_000.0
    assert abs(a0["se_cents"] - round(se, 6)) <= 1e-6
    assert abs(a0["t_stat"] - round(70_000 / se, 6)) <= 1e-6
    assert abs(a0["welch_df"] - round(df, 6)) <= 1e-6
    assert 1.0 <= a0["welch_df"] <= 2.0  # heavy arm dominates the df
