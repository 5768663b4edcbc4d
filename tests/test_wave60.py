"""Fixture test for the wave-60 (round 8) deterministic permutation
test — an independent hashlib replay of every pseudo-permutation on a
6-user corpus: arm assignments, exact micro-cent null diffs, exceed
flags and the add-one p-value all recomputed in pure Python.
"""

from __future__ import annotations

import datetime
import hashlib


def _arm(user_id: int, seed: int) -> int:
    if seed == -1:
        return user_id % 2
    h = hashlib.md5(f"{user_id}_{seed}".encode()).hexdigest()[:15]
    return int(h, 16) % 2


def test_permutation_test_matches_hashlib_replay(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        permutation_test_frame,
    )

    ts = datetime.datetime(2024, 1, 1)
    cents = {0: 100, 1: 900, 2: 200, 3: 800, 4: 300, 5: 700}
    rows = [
        (i, ts, uid, "view", c / 100.0)
        for i, (uid, c) in enumerate(sorted(cents.items()))
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {r["seed"]: r for r in permutation_test_frame(ev).collect()}
    assert sorted(got) == list(range(-1, 20))

    def diff_micro(seed: int) -> tuple[int, int, int]:
        s = {0: 0, 1: 0}
        n = {0: 0, 1: 0}
        for uid, c in cents.items():
            a = _arm(uid, seed)
            s[a] += c
            n[a] += 1
        return (
            n[0],
            n[1],
            (1_000_000 * s[1]) // n[1] - (1_000_000 * s[0]) // n[0],
        )

    n0, n1, obs = diff_micro(-1)
    assert got[-1]["is_observed"] is True
    assert (got[-1]["n0"], got[-1]["n1"]) == (n0, n1)
    assert got[-1]["diff_micro"] == obs
    assert got[-1]["exceeds"] == 0  # observed row never counts
    exceeds = 0
    for seed in range(20):
        en0, en1, d = diff_micro(seed)
        r = got[seed]
        assert (r["n0"], r["n1"]) == (en0, en1)
        assert r["diff_micro"] == d
        assert r["observed_micro"] == obs
        flag = 1 if abs(d) >= abs(obs) else 0
        assert r["exceeds"] == flag
        exceeds += flag
    p = (1_000_000 * (1 + exceeds)) // 21
    for seed in range(-1, 20):
        assert got[seed]["p_value_ppm"] == p
    # the observed split (odd users got 700-900) is extreme by design:
    # most null permutations should NOT exceed it
    assert exceeds < 20
