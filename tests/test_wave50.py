"""Fixture test for the wave-50 (round 8) one-way ANOVA readout — an
8-user, 4-arm corpus whose variance partition, F statistic and
eta-squared are replayed by hand (including the exact integer
floor-div sum-of-squares components).
"""

from __future__ import annotations

import datetime


def test_anova_partition_replayed_by_hand(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import anova_frame

    ts = datetime.datetime(2024, 1, 1)
    # user -> total cents: arm0 {0: 100, 4: 300}, arm1 {1: 200, 5: 200},
    # arm2 {2: 400, 6: 600}, arm3 {3: 100, 7: 100}
    cents = {0: 100, 4: 300, 1: 200, 5: 200, 2: 400, 6: 600, 3: 100, 7: 100}
    rows = [
        (i, ts, uid, "view", c / 100.0)
        for i, (uid, c) in enumerate(sorted(cents.items()))
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["arm"]: r for r in anova_frame(ev).collect()}
    assert sorted(got) == [0, 1, 2, 3]
    # hand replay: S = 2000, T = 720000,
    # A = 80000 + 80000 + 500000 + 20000 = 680000, S^2 div N = 500000
    # SSB = 180000, SSW = 40000, SST = 220000
    for arm, r in got.items():
        assert r["n_total"] == 8 and r["k_groups"] == 4
        assert r["ss_between"] == 180_000
        assert r["ss_within"] == 40_000
        assert r["df_between"] == 3 and r["df_within"] == 4
        # F = (180000/3) / (40000/4) = 6.0
        assert r["f_stat"] == 6.0
        # eta^2 = 180000/220000 = 0.8181818... -> round 6
        assert r["eta_sq"] == 0.818182
    assert got[0]["mean_cents"] == 200.0
    assert got[2]["mean_cents"] == 500.0
    assert got[3]["n_users"] == 2
