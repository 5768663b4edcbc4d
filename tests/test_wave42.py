"""Fixture tests for the wave-42 (round 8) experimentation guardrails
— hand-replayed SRM chi-square verdicts on constructed imbalances and
a four-user DiD with independently computed SE/t.
"""

from __future__ import annotations

import datetime
import math


def _ev(rows, spark):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def _users(spark, n_even, n_odd):
    t = datetime.datetime(2024, 1, 10)
    rows, eid = [], 0
    for i in range(n_even):
        rows.append((eid, t, 2 * i, "view", 1.0))
        eid += 1
    for i in range(n_odd):
        rows.append((eid, t, 2 * i + 1, "view", 1.0))
        eid += 1
    return _ev(rows, spark)


def test_srm_verdict_ladder(spark):
    """chi2 = (n0-n1)^2 * 1e6 // n against the pinned thresholds:
    50/50 -> OK (chi2 0); 60/40 of 100 -> 4.0 > 3.841459 SUSPECT;
    70/30 of 100 -> 16.0 > 10.827566 SRM_ALARM. All exact integers."""
    from etl_neotel_sql_automation_spark.workload.experiments import srm_frame

    for n0, n1, chi2, verdict in (
        (50, 50, 0, "OK"),
        (60, 40, 4_000_000, "SUSPECT"),
        (70, 30, 16_000_000, "SRM_ALARM"),
    ):
        rows = srm_frame(_users(spark, n0, n1)).collect()
        assert [r["n_users"] for r in rows] == [n0, n1]
        for r in rows:
            assert r["chi2_micro"] == chi2
            assert r["verdict"] == verdict


def test_did_hand_replay(spark):
    """Four users, deltas computed by hand: control (users 2, 4) moves
    +100 and +300 cents; treatment (users 1, 3) moves +500 and +900.
    DiD = 700 - 200 = 500 cents; SE and t replayed with float math."""
    from etl_neotel_sql_automation_spark.workload.experiments import did_frame

    pre_day = datetime.datetime(2024, 1, 10)
    post_day = datetime.datetime(2024, 1, 20)
    rows = [
        # (pre value, post value) per user in dollars
        (0, pre_day, 2, "view", 1.0), (1, post_day, 2, "view", 2.0),
        (2, pre_day, 4, "view", 2.0), (3, post_day, 4, "view", 5.0),
        (4, pre_day, 1, "view", 1.0), (5, post_day, 1, "view", 6.0),
        (6, pre_day, 3, "view", 3.0), (7, post_day, 3, "view", 12.0),
    ]
    got = {r["arm"]: r for r in did_frame(_ev(rows, spark)).collect()}
    a0, a1 = got[0], got[1]
    assert (a0["delta_mean_cents"], a1["delta_mean_cents"]) == (200.0, 700.0)
    assert a0["did_cents"] == a1["did_cents"] == 500.0
    # per-arm deltas: control {100, 300} var 20000; treatment
    # {500, 900} var 80000; SE = sqrt(80000/2 + 20000/2)
    se = math.sqrt(80_000 / 2 + 20_000 / 2)
    assert abs(a0["se_cents"] - round(se, 6)) <= 1e-6
    assert abs(a0["t_stat"] - round(500 / se, 6)) <= 1e-6


def test_streaming_srm_equals_batch(spark):
    """Policy test for the streaming_srm_monitor tripwire exclusion:
    the streaming monitor (per-user dedup state + per-arm streaming
    counts, verdict applied display-side) must produce exactly the
    batch events_srm_check rows — the cross-query consistency the
    oracle differential checks only engine-by-engine."""
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_srm_check,
        streaming_srm_monitor,
    )

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in streaming_srm_monitor(spark, sf).collect()]
    want = [tuple(r) for r in events_srm_check(spark, sf).collect()]
    assert got == want and len(got) == 2
