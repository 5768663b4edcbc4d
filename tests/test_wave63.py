"""Fixture test for the wave-63 (round 8) cluster-robust SE — a
constructed corpus where arm 0's clusters are perfectly homogeneous
(within-cluster correlation 1: the sandwich inflates the SE, design
effect 3) and arm 1's clusters each balance to the arm mean (cluster
sums carry no information: sandwich SE exactly 0), every term replayed
by hand.
"""

from __future__ import annotations

import datetime
import math


def test_sandwich_terms_replayed_by_hand(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        cluster_se_frame,
    )

    ts = datetime.datetime(2024, 1, 1)
    # arm 0 (even users): user 0 -> [100, 100], user 2 -> [300, 300]
    # arm 1 (odd users):  user 1 -> [100, 300], user 3 -> [300, 100]
    vals = {
        0: [100, 100],
        2: [300, 300],
        1: [100, 300],
        3: [300, 100],
    }
    rows = []
    eid = 0
    for uid, vs in sorted(vals.items()):
        for v in vs:
            rows.append((eid, ts, uid, "view", v / 100.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["arm"]: r for r in cluster_se_frame(ev).collect()}
    for arm in (0, 1):
        r = got[arm]
        assert r["n_ev"] == 4 and r["g_users"] == 2
        assert r["mean_cents"] == 200.0
        # naive: Q = 200000, N*Q - S^2 = 160000,
        # Var = 160000/(16*3) -> se = sqrt(10000/3)
        assert r["se_naive"] == round(math.sqrt(160000 / (16 * 3)), 6)
    # arm 0: T = 2*(800-1600)^2 = 1,280,000;
    # Var_cr = 2 * T / 256 = 10000 -> se = 100, deff = 3
    assert got[0]["se_cluster"] == 100.0
    assert got[0]["design_effect"] == 3.0
    # arm 1: each cluster sums to the arm mean -> T = 0
    assert got[1]["se_cluster"] == 0.0
    assert got[1]["design_effect"] == 0.0
