"""Fixture test for the wave-70 (round 8) BH-FDR readout — full
hashlib replay of the four metrics' permutation nulls on a 6-user
corpus, then the BH step-up recomputed in pure integer Python,
including the step-up subtlety (a metric above its own threshold is
still rejected when a LARGER rank passes).
"""

from __future__ import annotations

import datetime
import hashlib


def _arm(uid: int, seed: int) -> int:
    if seed == -1:
        return uid % 2
    h = hashlib.md5(f"{uid}_{seed}".encode()).hexdigest()[:15]
    return int(h, 16) % 2


def test_bh_fdr_matches_python_replay(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import bh_fdr_frame

    ts = datetime.datetime(2024, 1, 1)
    # uid -> (n_views, n_purchases, view_cents, purch_cents)
    spec = {
        0: (3, 0, 100, 0),
        1: (2, 2, 100, 400),
        2: (4, 0, 150, 0),
        3: (1, 3, 50, 900),
        4: (2, 1, 200, 100),
        5: (3, 2, 100, 500),
    }
    rows = []
    eid = 0
    for uid, (nv, np_, vc, pc) in spec.items():
        for _ in range(nv):
            rows.append((eid, ts, uid, "view", vc / 100.0 / nv))
            eid += 1
        for _ in range(np_):
            rows.append((eid, ts, uid, "purchase", pc / 100.0 / np_))
            eid += 1
    # exact per-user metrics from the event rows (same per-event round)
    agg = {}
    for _, _, uid, et, val in rows:
        a = agg.setdefault(uid, [0, 0, 0, 0])  # value, conv, events, purch
        a[0] += round(val * 100)
        a[2] += 1
        if et == "purchase":
            a[1] = 1
            a[3] += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["metric"]: r for r in bh_fdr_frame(ev).collect()}
    assert sorted(got) == ["m_conv", "m_events", "m_purch", "m_value"]

    def diff(seed, idx):
        s = {0: 0, 1: 0}
        n = {0: 0, 1: 0}
        for uid, a in agg.items():
            arm = _arm(uid, seed)
            s[arm] += a[idx]
            n[arm] += 1
        return (1_000_000 * s[1]) // n[1] - (1_000_000 * s[0]) // n[0]

    idx = {"m_value": 0, "m_conv": 1, "m_events": 2, "m_purch": 3}
    pvals = {}
    for m, i in idx.items():
        obs = diff(-1, i)
        exceed = sum(
            1 for sd in range(20) if abs(diff(sd, i)) >= abs(obs)
        )
        p = (1_000_000 * (1 + exceed)) // 21
        pvals[m] = p
        assert got[m]["observed_micro"] == obs
        assert got[m]["n_exceed"] == exceed
        assert got[m]["p_ppm"] == p
    order = sorted(pvals, key=lambda m: (pvals[m], m))
    k_star = 0
    for k, m in enumerate(order, start=1):
        thresh = (100_000 * k) // 4
        assert got[m]["bh_rank"] == k
        assert got[m]["bh_thresh_ppm"] == thresh
        if pvals[m] <= thresh:
            k_star = k
    for k, m in enumerate(order, start=1):
        assert got[m]["rejected"] == (k <= k_star)
