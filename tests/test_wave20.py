"""Fixture tests for the wave-20 (round 6) workloads — semantics the
oracle differential cannot pin: CUPED's defining guarantee (a
perfectly predictive pre-period covariate removes ALL the between-arm
imbalance: adjusted means equalize and var_reduction = 1; a useless
covariate leaves means untouched), the power formula against a
hand-computed case, Hill's exact alpha on a synthetic Pareto tail
(x_i = xmin * 2^(i/k) gives sum ln = known closed form), and the
changepoint localizing a planted level shift to the exact day.
"""

from __future__ import annotations

import datetime
import math

SF = "/root/testdata/sf0.001"


def _events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_cuped_perfect_covariate_equalizes_arms(spark, tmp_path):
    """post = pre exactly for every user (rho = 1): theta = 1,
    var_reduction = 1, and the adjusted means of both arms collapse to
    the same value even though the raw means differ."""
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_cuped_adjustment,
    )

    pre_ts = datetime.datetime(2024, 1, 5)
    post_ts = datetime.datetime(2024, 1, 20)
    rows = []
    eid = 0
    # arm 0 (even users) spends little, arm 1 spends a lot — but each
    # user's post spend equals their pre spend exactly
    for uid, spend in [(2, 10.0), (4, 20.0), (1, 100.0), (3, 200.0)]:
        rows.append((eid := eid + 1, pre_ts, uid, "purchase", spend))
        rows.append((eid := eid + 1, post_ts, uid, "purchase", spend))
    out = {r["arm"]: r for r in
           events_cuped_adjustment(spark, _events(spark, tmp_path, rows)).collect()}
    assert out[0]["theta"] == 1.0 and out[0]["var_reduction"] == 1.0
    assert out[0]["post_mean_cents"] != out[1]["post_mean_cents"]
    assert out[0]["adjusted_mean_cents"] == out[1]["adjusted_mean_cents"]


def test_cuped_useless_covariate_is_identity(spark, tmp_path):
    """Constant pre spend for every user: var(pre) = 0, theta is
    NULL/undefined — but the POST means must still be reported
    unadjusted-readable: here we pin the raw means and that
    var_reduction is not a finite lie (NaN/NULL accepted)."""
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_cuped_adjustment,
    )

    pre_ts = datetime.datetime(2024, 1, 5)
    post_ts = datetime.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for uid, spend in [(2, 10.0), (4, 20.0), (1, 30.0), (3, 40.0)]:
        rows.append((eid := eid + 1, pre_ts, uid, "purchase", 50.0))
        rows.append((eid := eid + 1, post_ts, uid, "purchase", spend))
    out = {r["arm"]: r for r in
           events_cuped_adjustment(spark, _events(spark, tmp_path, rows)).collect()}
    assert out[0]["post_mean_cents"] == 1500.0
    assert out[1]["post_mean_cents"] == 3500.0
    th = out[0]["theta"]
    assert th is None or math.isnan(th) or math.isinf(th)


def test_power_mde_hand_computed(spark, tmp_path):
    """100 users per arm, 50 converters total (p = 0.25):
    mde = 2.801585 * sqrt(0.25 * 0.75 * (1/100 + 1/100))."""
    from etl_neotel_sql_automation_spark.workload.experiments import events_power_mde

    ts = datetime.datetime(2024, 1, 10)
    rows = []
    eid = 0
    for uid in range(200):
        rows.append((eid := eid + 1, ts, uid, "signup", 1.0))
    for uid in range(50):  # converters: value > 150 purchases
        rows.append((eid := eid + 1, ts, uid, "purchase", 200.0))
    r = events_power_mde(spark, _events(spark, tmp_path, rows)).collect()[0]
    assert r["n0"] == 100 and r["n1"] == 100
    assert r["p_pooled_ppm"] == 250_000
    assert r["mde_abs"] == round(
        2.801585 * math.sqrt(0.25 * 0.75 * (2 / 100)), 6
    )
    expect_n = math.ceil(
        2 * 0.25 * 0.75 * 2.801585**2 / (0.05 * 0.25) ** 2
    )
    assert r["n_required_per_arm"] == expect_n


def _orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_hill_on_geometric_tail(spark, tmp_path):
    """Cents c_rn = round(1e7 * 2^((201-rn)/100)) for rn = 1..201 (a
    clean geometric tail): xmin is the 201st value exactly, the
    python replay of the per-term micro-nat sum agrees within 1
    micro-nat per term (python libm vs JVM ln may differ in the last
    ulp at the rounding boundary), and the derived columns are exact
    functions of the ENGINE's own sum. alpha_hat should sit near the
    construction's ln2/100-per-rank slope."""
    from etl_neotel_sql_automation_spark.workload.wave20 import (
        agg_hill_tail_index,
    )

    d = datetime.datetime(1996, 1, 2)
    rows = []
    cents = {}
    for rn in range(1, 202):
        c = round(10_000_000 * 2 ** ((201 - rn) / 100))
        cents[rn] = c
        rows.append((rn, 1, c / 100.0, d, "x"))
    for i in range(300, 350):  # sub-threshold noise
        rows.append((i, 1, 50.0, d, "x"))
    r = agg_hill_tail_index(spark, _orders(spark, tmp_path, rows)).collect()[0]
    assert r["k"] == 200
    assert r["xmin_cents"] == cents[201]
    expect = sum(
        math.floor(math.log(cents[rn] / cents[201]) * 1e6 + 0.5)
        for rn in range(1, 201)
    )
    assert abs(r["sum_ln_micro"] - expect) <= 200
    assert r["alpha_inv_micro"] == r["sum_ln_micro"] // 200
    assert r["alpha_micro"] == (200 * 10**12) // r["sum_ln_micro"]
    # mean ln ratio = ln2 * 100.5/100 ~ 0.696647 -> alpha ~ 1.4354
    assert abs(r["alpha_micro"] - 1_435_400) < 2_000


def test_best_split_localizes_planted_shift(spark, tmp_path):
    """30 days at $100k/day then 30 days at $300k/day: the best split
    is exactly the last low day, with pre/post means 100/300
    kilodollars."""
    from etl_neotel_sql_automation_spark.workload.wave20 import (
        timeseries_best_split,
    )

    base = datetime.date(1996, 1, 1)
    rows = []
    oid = 0
    for i in range(60):
        day = base + datetime.timedelta(days=i)
        v = 100_000.0 if i < 30 else 300_000.0
        rows.append(
            (oid := oid + 1, 1, v,
             datetime.datetime(day.year, day.month, day.day), "x")
        )
    r = timeseries_best_split(spark, _orders(spark, tmp_path, rows)).collect()[0]
    assert r["split_day"] == base + datetime.timedelta(days=29)
    assert r["n_pre_days"] == 30 and r["n_post_days"] == 30
    assert r["pre_mean_k"] == 100 and r["post_mean_k"] == 300
