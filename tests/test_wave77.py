"""Fixture tests for the wave-77 (round 9) BFS closeness and Pareto
front: hand graphs with known distances; hand point sets with a known
skyline."""

from __future__ import annotations


def test_bfs_distances_on_path_graph(spark):
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.workload.wave77 import (
        _SEEDS,
        closeness_bfs_frame,
    )

    # path 1-10-2-11-3 (seeds 1, 2, 3 are on it; 5 isolated)
    und = [(1, 10), (10, 2), (2, 11), (11, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    rows = {
        (r["seed"], r["depth"]): r
        for r in closeness_bfs_frame(edges).collect()
    }
    assert _SEEDS == (1, 2, 3, 5)
    # seed 1: depth 0 {1}, 1 {10}, 2 {2}, 3 {11}, 4 {3}
    for depth in range(5):
        assert rows[(1, depth)]["n_at_depth"] == 1
    assert rows[(1, 4)]["cum_reached"] == 5
    assert rows[(1, 4)]["dist_sum"] == 0 + 1 + 2 + 3 + 4
    # seed 2 sits mid-path: reaches everything by depth 2
    assert rows[(2, 1)]["n_at_depth"] == 2
    assert rows[(2, 2)]["cum_reached"] == 5
    # isolated seed 5: only itself, depth 0
    assert rows[(5, 0)]["n_at_depth"] == 1
    assert (5, 1) not in rows


def test_bfs_cohort_under_one_seed_key_takes_nearest_distance(spark):
    from etl_neotel_sql_automation_spark.ops.graph import bfs

    # cohort {1, 2} under seed key 0. Node 5 is 1 hop from 2 and 3 hops
    # from 1 (1-3-4-5), so it must come back at dist 1; 6 hangs off 5.
    und = [(1, 3), (3, 4), (4, 5), (2, 5), (5, 6), (7, 8)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0, 1), (0, 2), (0, 2)], "seed long, id long")
    got = {(r["seed"], r["id"]): r["dist"] for r in bfs(edges, seeds, 4).collect()}
    assert got == {
        (0, 1): 0, (0, 2): 0,  # duplicate seed rows collapse
        (0, 3): 1, (0, 5): 1,
        (0, 4): 2, (0, 6): 2,
    }  # 7-8 is unreachable


def test_pareto_front_hand_case(spark):
    import datetime

    from etl_neotel_sql_automation_spark.workload.wave77 import (
        pareto_front_frame,
    )

    d = datetime.date
    orders = spark.createDataFrame(
        [
            (d(2024, 1, 3), 50.0),   # latest date, not cheapest -> front
            (d(2024, 1, 3), 80.0),   # dominated by the 50 on same date
            (d(2024, 1, 2), 40.0),   # cheaper than everything later -> front
            (d(2024, 1, 1), 45.0),   # dominated by (1/2, 40)
            (d(2024, 1, 1), 30.0),   # cheapest overall -> front
            (d(2024, 1, 1), 30.0),   # tie at a skyline point -> counted
        ],
        "o_orderdate date, o_totalprice double",
    )
    rows = [
        (str(r["o_orderdate"]), r["price_cents"], r["n_orders"])
        for r in pareto_front_frame(orders).collect()
    ]
    assert rows == [
        ("2024-01-03", 5000, 1),
        ("2024-01-02", 4000, 1),
        ("2024-01-01", 3000, 2),
    ]
