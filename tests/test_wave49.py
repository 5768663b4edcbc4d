"""Fixture test for the wave-49 (round 8) post-stratification readout
— a constructed Simpson's-paradox corpus: the raw arm means differ
purely because the arms sample the strata unevenly, and the
post-stratified means must agree exactly (diff 0), replayed by hand.
"""

from __future__ import annotations

import datetime


def test_post_stratification_kills_simpsons_confound(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        post_stratified_frame,
    )

    wk1 = datetime.datetime(2024, 1, 1)  # Monday — week stratum 1
    wk2 = datetime.datetime(2024, 1, 8)  # Monday — week stratum 2
    # stratum 1: every user spends $100 (arm0 x2 users, arm1 x1)
    # stratum 2: every user spends $200 (arm0 x1 user, arm1 x2)
    rows = [
        (0, wk1, 2, "view", 100.0),
        (1, wk1, 4, "view", 100.0),
        (2, wk1, 1, "view", 100.0),
        (3, wk2, 6, "view", 200.0),
        (4, wk2, 3, "view", 200.0),
        (5, wk2, 5, "view", 200.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["arm"]: r for r in post_stratified_frame(ev).collect()}
    a0, a1 = got[0], got[1]
    assert (a0["n_users"], a1["n_users"]) == (3, 3)
    assert (a0["n_strata"], a1["n_strata"]) == (2, 2)
    # raw means (micro-cents): arm0 (2x10000 + 20000)/3, arm1
    # (10000 + 2x20000)/3 — confounded by the stratum mix
    assert a0["raw_mean_micro"] == (1_000_000 * 40_000) // 3
    assert a1["raw_mean_micro"] == (1_000_000 * 50_000) // 3
    assert a0["raw_diff_micro"] == (
        (1_000_000 * 50_000) // 3 - (1_000_000 * 40_000) // 3
    )
    # post-stratified: both arms weight each stratum 3/6 = 1/2 ->
    # 0.5 * 10000 + 0.5 * 20000 = 15000 cents on both arms, exactly
    # term(arm0, s1) = (3 * 20000 * 1e6) // (6 * 2) = 5_000_000_000
    # term(arm0, s2) = (3 * 20000 * 1e6) // (6 * 1) = 10_000_000_000
    assert a0["ps_mean_micro"] == a1["ps_mean_micro"] == 15_000_000_000
    assert a0["ps_diff_micro"] == a1["ps_diff_micro"] == 0
