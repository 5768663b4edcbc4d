"""Round-9 wave-77 workloads:

- graph_closeness_bfs — multi-source breadth-first search over the
  customer-supplier purchase graph (the graph_pagerank edge set): 4
  literal seed customers, depth bounded at 4, emitting the reached-
  node count per (seed, depth) and the closeness numerator. BFS is
  the remaining graph primitive the family lacked (PageRank / label
  propagation / k-core / triangles / CC / HITS / PPR are all here) —
  and the k-source bounded-depth form is the one that scales: frontier
  joins cost O(edges) per round, rounds are a constant, and the seed
  set rides along as a key column (one BFS pass computes all seeds).
- orders_pareto_front — the 2-D skyline (maximize order date, minimize
  price): the multi-objective "best trade-offs" readout. The naive
  skyline is an all-pairs dominance join; on two dimensions it
  collapses to a running minimum over the BOUNDED per-date frame (the
  energy-distance prefix-ladder precedent): per-date best price, then
  a date-descending prefix min decides dominance for every point at
  once.

Determinism: BFS distances are integers from the same fixed-depth
frontier rounds on both engines (ops.graph.bfs on Spark, unrolled
NOT EXISTS rounds in the oracle); the skyline is exact
integer cents with explicit tie semantics (equal (date, price) points
are mutually non-dominating and all kept, counted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, purchase_graph, purchase_pairs, query, table
from ..ops.graph import bfs

_SEEDS = (1, 2, 3, 5)  # literal seed customers (present at every SF)
_DEPTH = 4


def closeness_bfs_frame(edges: DataFrame) -> DataFrame:
    """Frame core of graph_closeness_bfs (scaling-probe entry): BFS
    from the literal seeds to depth _DEPTH=4, all seeds in ONE pass
    (seed is a key column of ops.graph.bfs)."""
    seeds = edges.sparkSession.createDataFrame(
        [(s, s) for s in _SEEDS], "seed long, id long"
    )
    per_depth = (
        bfs(edges, seeds, _DEPTH)
        .groupBy("seed", "dist")
        .agg(F.count("*").cast("bigint").alias("n_at_depth"))
        .select(
            "seed",
            F.col("dist").cast("bigint").alias("depth"),
            "n_at_depth",
        )
    )
    w = W.partitionBy("seed").orderBy("depth")
    return per_depth.select(
        "seed",
        "depth",
        "n_at_depth",
        F.sum("n_at_depth").over(w).cast("bigint").alias("cum_reached"),
        F.sum(F.col("depth") * F.col("n_at_depth"))
        .over(w)
        .cast("bigint")
        .alias("dist_sum"),
    ).orderBy("seed", "depth")


def _bfs_oracle() -> str:
    seed_rows = ", ".join(f"({s})" for s in _SEEDS)
    rounds = []
    prev = "v0"
    rounds.append(
        f"v0 AS (SELECT seed, CAST(seed AS BIGINT) AS id, 0 AS dist"
        f" FROM (VALUES {seed_rows}) s(seed))"
    )
    for depth in range(1, _DEPTH + 1):
        rounds.append(f"""
    f{depth} AS (
      SELECT DISTINCT v.seed, e.dst AS id
      FROM {prev} v JOIN edges e ON v.id = e.src
      WHERE v.dist = {depth - 1}
    ),
    v{depth} AS (
      SELECT seed, id, dist FROM {prev}
      UNION ALL
      SELECT f.seed, f.id, {depth} AS dist
      FROM f{depth} f
      WHERE NOT EXISTS (SELECT 1 FROM {prev} v
                        WHERE v.seed = f.seed AND v.id = f.id)
    )""")
        prev = f"v{depth}"
    rounds_sql = ",\n".join(rounds)
    return f"""
    WITH raw AS (
      SELECT DISTINCT o_custkey AS a, {GRAPH_SUPP_OFFSET} + l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM raw
              UNION ALL SELECT b AS src, a AS dst FROM raw),
    {rounds_sql},
    per_depth AS (
      SELECT seed, CAST(dist AS BIGINT) AS depth,
             CAST(count(*) AS BIGINT) AS n_at_depth
      FROM {prev} GROUP BY seed, dist
    )
    SELECT CAST(seed AS BIGINT) AS seed, depth, n_at_depth,
           CAST(sum(n_at_depth) OVER (PARTITION BY seed ORDER BY depth)
                AS BIGINT) AS cum_reached,
           CAST(sum(depth * n_at_depth)
                  OVER (PARTITION BY seed ORDER BY depth)
                AS BIGINT) AS dist_sum
    FROM per_depth
    ORDER BY seed, depth
    """


@query("graph_closeness_bfs", oracle=_bfs_oracle())
def graph_closeness_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth multi-source BFS over the customer-supplier
    purchase graph: 4 literal seeds ride one pass as a key column;
    per (seed, depth) reached counts plus the running closeness
    numerator (sum of distances). The search is ops.graph.bfs:
    O(edges) per round, constant rounds, the scalable BFS shape."""
    return closeness_bfs_frame(
        purchase_graph(
            purchase_pairs(table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem"))
        )
    )


# ---------------------------------------------------------------------------
# orders_pareto_front — 2-D skyline via the bounded per-date ladder.
# ---------------------------------------------------------------------------


def pareto_front_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_pareto_front (scaling-probe entry):
    objectives (date max, price-cents min). Per-date best price is a
    combinable aggregate; dominance is one prefix-min over the BOUNDED
    date frame (~2.4k rows at any corpus size); a point survives iff
    it carries its date's best price AND beats the best price of every
    STRICTLY LATER date."""
    pts = orders.select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    per_date = pts.groupBy("d").agg(F.min("cents").alias("best_cents"))
    n_at = (
        pts.join(per_date, "d")
        .filter(F.col("cents") == F.col("best_cents"))
        .groupBy("d", "best_cents")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )
    w_after = (
        W.orderBy(F.col("d").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ladder = n_at.select(
        "d",
        "best_cents",
        "n_orders",
        F.min("best_cents").over(w_after).alias("best_after"),
    )
    return (
        ladder.filter(
            F.col("best_after").isNull()
            | (F.col("best_cents") < F.col("best_after"))
        )
        .select(
            F.col("d").alias("o_orderdate"),
            F.col("best_cents").alias("price_cents"),
            "n_orders",
        )
        .orderBy(F.col("o_orderdate").desc())
    )


@query(
    "orders_pareto_front",
    oracle="""
    WITH pts AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    per_date AS (
      SELECT d, min(cents) AS best_cents FROM pts GROUP BY d
    ),
    n_at AS (
      SELECT p.d, pd.best_cents, CAST(count(*) AS BIGINT) AS n_orders
      FROM pts p JOIN per_date pd ON p.d = pd.d AND p.cents = pd.best_cents
      GROUP BY p.d, pd.best_cents
    ),
    ladder AS (
      SELECT d, best_cents, n_orders,
             min(best_cents) OVER (ORDER BY d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_after
      FROM n_at
    )
    SELECT d AS o_orderdate, best_cents AS price_cents, n_orders
    FROM ladder
    WHERE best_after IS NULL OR best_cents < best_after
    ORDER BY o_orderdate DESC
    """,
)
def orders_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front (skyline) of orders under (latest date, lowest
    price): per-date best price reduces map-side, dominance is one
    prefix-min over the bounded date ladder — the all-pairs dominance
    join never exists. Ties at a skyline point are kept and counted."""
    return pareto_front_frame(table(spark, sf_dir, "orders"))
