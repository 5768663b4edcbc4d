"""Fixture test for the wave-56 (round 8) Qini uplift curve — a
20-user corpus (one treated + one control per decile, distinct
pre-period scores) with conversions planted in the top two deciles
(treated) and decile 4 (control), the whole cumulative curve replayed
by hand.
"""

from __future__ import annotations

import datetime


def test_qini_curve_replayed_by_hand(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import qini_frame

    pre = datetime.datetime(2024, 1, 5)
    post = datetime.datetime(2024, 1, 20)
    rows = []
    eid = 0
    # user i: score 100 - i  ->  decile = i // 2 + 1; arm = i % 2
    for i in range(20):
        for _ in range(100 - i):
            rows.append((eid, pre, i, "view", 1.0))
            eid += 1
        converted = (i % 2 == 1 and i < 4) or i == 6
        if converted:
            rows.append((eid, post, i, "purchase", 9.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["decile"]: r for r in qini_frame(ev).collect()}
    assert sorted(got) == list(range(1, 11))
    for d in range(1, 11):
        r = got[d]
        assert (r["n_treat"], r["n_ctrl"]) == (1, 1)
        assert r["conv_treat"] == (1 if d <= 2 else 0)
        assert r["conv_ctrl"] == (1 if d == 4 else 0)
        assert r["rate_treat_ppm"] == (1_000_000 if d <= 2 else 0)
        assert r["rate_ctrl_ppm"] == (1_000_000 if d == 4 else 0)
        cct = min(d, 2)
        ccc = 1 if d >= 4 else 0
        assert r["cum_uplift_ppm"] == (1_000_000 * cct) // d - (
            1_000_000 * ccc
        ) // d
        # equal arm sizes -> qini = 1000 * (cct - ccc) exactly
        assert r["qini_milli"] == 1000 * (cct - ccc)


def test_qini_negative_branch_truncates_toward_zero(spark):
    """A control-only conversion corpus drives the Qini numerator
    negative — the sign-explicit division must truncate toward zero
    identically to the hand value (3 users: deciles of unequal size
    exercise the non-divisible branch)."""
    from etl_neotel_sql_automation_spark.workload.experiments import qini_frame

    pre = datetime.datetime(2024, 1, 5)
    post = datetime.datetime(2024, 1, 20)
    rows = []
    eid = 0
    # three users, scores 3/2/1: user 0 (ctrl), 1 (treat), 2 (ctrl)
    for i, score in ((0, 3), (1, 2), (2, 1)):
        for _ in range(score):
            rows.append((eid, pre, i, "view", 1.0))
            eid += 1
    rows.append((eid, post, 0, "purchase", 9.0))  # control converts
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["decile"]: r for r in qini_frame(ev).collect()}
    # deciles: ntile(10) over 3 rows -> deciles 1,2,3 with 1 user each
    # decile 1 = user 0 (ctrl, converted): cct=0, cnt=0, ccc=1, cnc=1
    r1 = got[1]
    assert (r1["n_treat"], r1["n_ctrl"], r1["conv_ctrl"]) == (0, 1, 1)
    assert r1["rate_treat_ppm"] == 0  # zero-guard branch
    assert r1["cum_uplift_ppm"] == 0  # cnt = 0 guard
    # qini at decile 2: cct=0, cnc=1, ccc=1, cnt=1 ->
    # num = 0*1 - 1*1 = -1 -> -(1000*1 div 1) = -1000
    assert got[2]["qini_milli"] == -1000
    # decile 3: cct=0, cnc=2, ccc=1, cnt=1 -> num = -1 ->
    # -(1000*1 div 2) = -500 (toward zero)
    assert got[3]["qini_milli"] == -500
