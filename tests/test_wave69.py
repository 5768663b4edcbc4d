"""Fixture test for the wave-69 (round 8) event study — two treated
users adopting in DIFFERENT weeks (the staggered case calendar DiD
cannot align), with planted pre/post spending replayed by hand
including zero-filled absent weeks and the tau = -1 normalization.
"""

from __future__ import annotations

import datetime


def _ts(week: int, dow: int = 2) -> datetime.datetime:
    # week = epoch-day // 7; week w covers days [7w, 7w+6]
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(
        days=7 * week + dow
    )


def test_staggered_event_study_replayed(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        event_study_frame,
    )

    rows = []
    eid = 0

    def add(uid, week, etype, cents):
        nonlocal eid
        rows.append((eid, _ts(week), uid, etype, cents / 100.0))
        eid += 1

    # user 1 signs up in week 2820, user 2 in week 2825 (staggered)
    # pre-period spend 100/wk at tau in {-2,-1}; post 300/wk at {0,1}
    for uid, wk0 in ((1, 2820), (2, 2825)):
        add(uid, wk0, "signup", 0)
        add(uid, wk0 - 2, "view", 100)
        add(uid, wk0 - 1, "view", 100)
        add(uid, wk0, "purchase", 300)
        add(uid, wk0 + 1, "purchase", 300)
        # tau -3 and +2, +3: no events -> exact zeros
    # an untreated user adds noise that must NOT enter the study
    add(99, 2821, "view", 55_500)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["tau"]: r for r in event_study_frame(ev).collect()}
    assert sorted(got) == [-3, -2, -1, 0, 1, 2, 3]
    expect_mean = {
        -3: 0,
        -2: 100 * 1_000_000,
        -1: 100 * 1_000_000,
        0: 300 * 1_000_000,  # signup value 0 + purchase 300
        1: 300 * 1_000_000,
        2: 0,
        3: 0,
    }
    for tau, r in got.items():
        assert r["n_users"] == 2
        assert r["mean_micro"] == expect_mean[tau]
        assert r["coef_micro"] == expect_mean[tau] - 100 * 1_000_000
    # flat lead at tau = -2 (parallel-trends evidence), jump at 0
    assert got[-2]["coef_micro"] == 0
    assert got[0]["coef_micro"] == 200 * 1_000_000
