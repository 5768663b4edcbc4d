"""Fixture test for the wave-58 (round 8) Tukey-HSD pairs — the same
8-user corpus as the wave-50 ANOVA fixture (SSW = 40000, df = 4, so
MSW = 10000 exactly), every pairwise difference and q replayed by
hand.
"""

from __future__ import annotations

import datetime
import math


def test_tukey_pairs_replayed_by_hand(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import tukey_frame

    ts = datetime.datetime(2024, 1, 1)
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
    got = {(r["arm_i"], r["arm_j"]): r for r in tukey_frame(ev).collect()}
    assert sorted(got) == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    # arm means (cents): 200, 200, 500, 100; MSW = 40000/4 = 10000
    se = math.sqrt(10000 / 2 * (1 / 2 + 1 / 2))  # = sqrt(5000)
    means = {0: 200.0, 1: 200.0, 2: 500.0, 3: 100.0}
    for (i, j), r in got.items():
        assert r["msw_cents2"] == 10000.0
        assert r["df_within"] == 4
        assert (r["n_i"], r["n_j"]) == (2, 2)
        assert r["diff_cents"] == round(means[j] - means[i], 6)
        assert r["se_hsd"] == round(se, 6)
        assert r["q_stat"] == round(abs(means[j] - means[i]) / se, 6)
    assert got[(0, 1)]["q_stat"] == 0.0
    assert got[(2, 3)]["diff_cents"] == -400.0
