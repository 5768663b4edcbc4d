"""Fixture tests for the wave-41 (round 8) experiment pipeline — the
semantics the oracle differential cannot see because both engines run
the same composed query: the SESSION-scoped funnel definition (stage 2
consumes stage 1 — a signup and purchase in different sessions must
NOT convert, where the cross-session events_funnel would convert), and
the SPRT/CUPED numbers replayed by hand on a four-user corpus.
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


def test_experiment_pipeline_hand_replay(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        experiment_pipeline_frame,
    )

    t = datetime.datetime
    rows = [
        # user 1 (arm 1): purchase BEFORE signup in ONE session -> the
        # ordered funnel must not convert (membership alone would)
        (10, t(2024, 1, 17, 10, 0), 1, "purchase", 100.0),
        (11, t(2024, 1, 17, 10, 5), 1, "signup", 100.0),
        # user 2 (arm 0): signup then purchase 10 min later, same
        # session -> converted
        (20, t(2024, 1, 10, 9, 0), 2, "signup", 100.0),
        (21, t(2024, 1, 10, 9, 10), 2, "purchase", 100.0),
        # user 3 (arm 1): signup then purchase 5 min later -> converted
        (30, t(2024, 1, 12, 8, 0), 3, "signup", 100.0),
        (31, t(2024, 1, 12, 8, 5), 3, "purchase", 100.0),
        (32, t(2024, 1, 20, 8, 0), 3, "view", 30.0),
        # user 4 (arm 0): signup and purchase 3 HOURS apart -> two
        # sessions; the session-scoped funnel must NOT convert (the
        # cross-session funnel WOULD — the composition's point)
        (40, t(2024, 1, 10, 0, 0), 4, "signup", 100.0),
        (41, t(2024, 1, 10, 3, 0), 4, "purchase", 100.0),
        (42, t(2024, 1, 20, 12, 0), 4, "view", 50.0),
    ]
    got = {
        r["arm"]: r
        for r in experiment_pipeline_frame(_ev(rows, spark)).collect()
    }

    a0, a1 = got[0], got[1]
    assert (a0["n_users"], a1["n_users"]) == (2, 2)
    # u2: 1; u4: 3 (split signup/purchase + the Jan 20 view);
    # u1: 1; u3: 2 (Jan 12 pair + the Jan 20 view)
    assert (a0["n_sessions"], a1["n_sessions"]) == (4, 3)
    # session scope: u2 converts, u4 does NOT (cross-session), u3
    # converts, u1 does NOT (wrong order)
    assert (a0["n_conv"], a1["n_conv"]) == (1, 1)
    assert a0["conv_ppm"] == a1["conv_ppm"] == 500_000

    # CUPED by hand: per-user (pre, post) cents with the Jan 16 split:
    # u1 (0, 20000), u2 (20000, 0), u3 (20000, 3000), u4 (20000, 5000)
    n, sx, sy = 4, 60_000, 28_000
    sxx = 3 * 20_000**2
    sxy = 20_000 * 3_000 + 20_000 * 5_000
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(a0["theta"] - round(theta, 6)) <= 1e-6
    for r, pre_mean, post_mean in ((a0, 20_000, 2_500), (a1, 10_000, 11_500)):
        assert r["post_mean_cents"] == post_mean
        adj = post_mean - theta * (pre_mean - sx / n)
        assert abs(r["adjusted_mean_cents"] - adj) <= 1e-5

    # SPRT on the treatment arm's stage-2 conversions: 1 hit, 1 miss
    llr = round(math.log(0.26 / 0.20) * 1e6) + round(
        math.log(0.74 / 0.80) * 1e6
    )
    assert a0["llr_micronats"] == a1["llr_micronats"] == llr
    assert a0["sprt_decision"] == "CONTINUE"
    # MDE closed form: pooled p = 2/4 over n0 = n1 = 2
    mde = 2.801585 * math.sqrt(0.5 * 0.5 * (0.5 + 0.5))
    assert abs(a0["mde_abs"] - mde) <= 1e-5
