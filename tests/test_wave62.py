"""Fixture test for the wave-62 (round 8) off-policy evaluation — a
6-user corpus where the policy/assignment match set is known exactly,
IPS/SNIPS replayed by hand, including the unbiasedness sanity: IPS of
the ALWAYS-LOGGED policy equals the logged average when every user
matches.
"""

from __future__ import annotations

import datetime


def _events(spark, users):
    """users: uid -> (pre_events, post_value_cents)."""
    pre = datetime.datetime(2024, 1, 5)
    post = datetime.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for uid, (pre_n, v) in sorted(users.items()):
        for _ in range(pre_n):
            rows.append((eid, pre, uid, "view", 0.0))
            eid += 1
        rows.append((eid, post, uid, "purchase", v / 100.0))
        eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def test_ips_snips_replayed_by_hand(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import ips_frame

    # uid -> (pre_n, post cents); policy treats pre_n >= 5
    users = {
        0: (6, 100),  # arm 0, pi 1 -> no match
        1: (6, 900),  # arm 1, pi 1 -> match
        2: (2, 200),  # arm 0, pi 0 -> match
        3: (2, 800),  # arm 1, pi 0 -> no match
        4: (5, 300),  # arm 0, pi 1 -> no match
        5: (4, 700),  # arm 1, pi 0 -> no match
    }
    [r] = ips_frame(_events(spark, users)).collect()
    assert r["n_users"] == 6
    assert r["n_matched"] == 2  # users 1 and 2
    assert r["n_policy_treat"] == 3  # users 0, 1, 4
    assert r["match_share_ppm"] == (1_000_000 * 2) // 6
    s_matched = 900 + 200
    assert r["ips_value_micro"] == (1_000_000 * 2 * s_matched) // 6
    assert r["snips_value_micro"] == (1_000_000 * s_matched) // 2
    assert r["logged_value_micro"] == (1_000_000 * (100 + 900 + 200 + 800 + 300 + 700)) // 6


def test_ips_unbiased_when_policy_equals_log(spark):
    """If the policy treats exactly the odd users (= the logged
    assignment), every user matches and IPS = 2x... no — with full
    match the IPS estimate is 2 * total / N, which equals the logged
    average only after the propensity correction cancels: SNIPS (the
    matched mean) must equal the logged mean exactly."""
    from etl_neotel_sql_automation_spark.workload.experiments import ips_frame

    users = {
        1: (6, 900),   # arm 1, pi 1 -> match
        3: (9, 800),   # arm 1, pi 1 -> match
        0: (2, 100),   # arm 0, pi 0 -> match
        2: (4, 200),   # arm 0, pi 0 -> match
    }
    [r] = ips_frame(_events(spark, users)).collect()
    assert r["n_matched"] == 4 and r["match_share_ppm"] == 1_000_000
    assert r["snips_value_micro"] == r["logged_value_micro"]
    # IPS double-counts under full overlap (weight 2 on every user)
    assert r["ips_value_micro"] == 2 * r["logged_value_micro"]
