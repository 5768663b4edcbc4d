"""Graph workload: PageRank over the customer-supplier interaction
graph, differentially checked against an unrolled-iteration oracle.

Iterative float algorithms normally can't be hash-compared across
engines (summation order drifts); ops.graph.pagerank_int runs the
whole computation in exact bigint arithmetic, so 3 iterations unroll
into 3 CTE rounds of integer math that DuckDB reproduces bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, purchase_graph, purchase_pairs, query, table
from ..ops.graph import label_propagation, pagerank_int

_SCALE = 10**12


def _pagerank_oracle(iters: int = 3, scale: int = _SCALE) -> str:
    head = f"""
    WITH raw AS (
      SELECT DISTINCT o_custkey AS a, {GRAPH_SUPP_OFFSET} + l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM raw
              UNION ALL SELECT b AS src, a AS dst FROM raw),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    params AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT id, CAST({scale} // n AS BIGINT) AS rank FROM nodes, params)"""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(f"""
    c{i} AS (
      SELECT e.dst AS id, SUM(r.rank // d.out_deg) AS s
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.id,
             CAST((15 * {scale}) // (100 * p.n) AS BIGINT)
               + (85 * COALESCE(c{i}.s, 0)) // 100 AS rank
      FROM nodes n CROSS JOIN params p
      LEFT JOIN c{i} ON n.id = c{i}.id
    )""")
    return (
        head
        + ","
        + ",".join(rounds)
        + f"""
    SELECT id, CAST(rank AS BIGINT) AS rank_int FROM r{iters}
    """
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the undirected bipartite graph of
    customers and the suppliers they bought from (supplier ids offset
    so the two key spaces stay disjoint). Exact integer arithmetic
    end-to-end — see ops.graph.pagerank_int."""
    pairs = purchase_pairs(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    )
    return pagerank_int(purchase_graph(pairs), iters=3, scale=_SCALE).select(
        "id", F.col("rank").alias("rank_int")
    )


def _lpa_oracle(iters: int = 3) -> str:
    head = f"""
    WITH raw AS (
      SELECT DISTINCT o_custkey AS a, {GRAPH_SUPP_OFFSET} + l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges0 AS (SELECT a AS src, b AS dst FROM raw
               UNION ALL SELECT b AS src, a AS dst FROM raw),
    edges AS (SELECT DISTINCT src, dst FROM edges0),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    l0 AS (SELECT id, id AS label FROM nodes)"""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(f"""
    v{i} AS (
      SELECT e.src AS id, l.label, count(*) AS votes
      FROM edges e JOIN l{i - 1} l ON e.dst = l.id
      GROUP BY e.src, l.label
    ),
    w{i} AS (
      SELECT id, label,
             row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) AS rn
      FROM v{i}
    ),
    l{i} AS (
      SELECT n.id, coalesce(w.label, p.label) AS label
      FROM nodes n
      JOIN l{i - 1} p ON n.id = p.id
      LEFT JOIN (SELECT id, label FROM w{i} WHERE rn = 1) w ON n.id = w.id
    )""")
    return (
        head + "," + ",".join(rounds)
        + f"\n    SELECT id, CAST(label AS BIGINT) AS label FROM l{iters}\n    "
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous majority-vote label
    propagation (3 fixed rounds, ties to the smallest label) over the
    same customer-supplier purchase graph as graph_pagerank — the
    second graph-analytics modality (density-respecting communities vs
    connected components' pure reachability). Fully integer/count
    arithmetic, so the unrolled-CTE oracle reproduces every round
    bit-for-bit. See ops.graph.label_propagation for the at-scale
    shape (one edge join + combinable vote count + argmax window per
    round, lineage checkpoint-truncated)."""
    edges = purchase_graph(
        purchase_pairs(table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem"))
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    return label_propagation(nodes, edges, iters=3)


@query(
    "graph_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
    ),
    de AS (
      SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    wedge AS (SELECT a.s AS x, a.t AS y, b.t AS z
              FROM de a JOIN de b ON a.t = b.s),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM wedge w JOIN de c ON w.x = c.s AND w.z = c.t),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT stats.n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           stats.n_wedges,
           tri.n_triangles,
           3 * tri.n_triangles * 1000000 // stats.n_wedges AS gcc_ppm
    FROM stats CROSS JOIN tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts sharing an order are adjacent) via
    DEGREE-ORDERED ORIENTATION — the distributed-triangle algorithm
    (Cohen 2009 / Suri-Vassilvitskii MR model): orient every edge from
    its lower-(degree, id) endpoint to the higher, enumerate directed
    wedges x->y->z (each triangle yields exactly ONE wedge, from its
    smallest vertex in the total order), and close them with one
    equi-join on the oriented edge (x, z).

    Orientation is the 100 TB trick: undirected wedge enumeration is
    sum(deg^2) and explodes on hubs; oriented out-degrees are bounded
    by O(sqrt(E)) so total wedge work is O(E^1.5) worst case, and the
    closure is a plain shuffle equi-join (no OR-disjunction — a
    disjunctive closing condition degenerates to a nested loop on
    both engines; the total order guarantees the closing edge is
    oriented x->z). Clustering coefficient is integer ppm:
    3*triangles / undirected wedges.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # e feeds deg, de and n_edges — checkpoint or the lineitem
        # self-join recomputes per consumer (the wave71 candidate-frame
        # lesson; r10 registry probe flagged this entry at 12 s / sf0.1)
        .localCheckpoint()
    )
    # r12 (guide §3): every join in this query after the edge build is
    # a join against a frame bounded by the edge/node count — the
    # degree tables (nodes <= 2 x edges) and the oriented edge list
    # itself. When the edge list fits a broadcast relation, hint them
    # ALL: degree attachment, wedge enumeration and closure then
    # pipeline over scans with no exchange (before: deg shuffled into
    # e twice + de shuffled twice + the full wedge set shuffled for
    # the closure, the dominant exchange). The decision is
    # SCALE-ADAPTIVE, not a pinned hint: e has exactly n_edges rows
    # (2 longs each), counted for free off the checkpoint, and past
    # the threshold everything stays sort-merge where AQE skew
    # splitting (on by default) handles hot oriented-degree
    # partitions. 20M rows ~ 320 MB of key data — comfortably under
    # the 8 GB / 512M-row broadcast cap, sized for executor memory,
    # not local[32].
    n_edge_rows = e.count()
    broadcast_de = n_edge_rows <= 20_000_000

    def _maybe_b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_de else df

    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    de = (
        e.join(_maybe_b(du), "u")
        .join(_maybe_b(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        # de feeds BOTH wedge sides and the closing join (3 consumers)
        .localCheckpoint()
    )
    wa, wb = de.alias("wa"), de.alias("wb")
    wedge = wa.join(_maybe_b(wb), F.col("wa.t") == F.col("wb.s")).select(
        F.col("wa.s").alias("x"), F.col("wa.t").alias("y"), F.col("wb.t").alias("z")
    )
    closing = de.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = wedge.join(_maybe_b(closing), ["x", "z"]).agg(
        F.count("*").alias("n_triangles")
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    # n_edges was already computed driver-side off the checkpointed e
    # (the broadcast decision); same value, one less job
    n_edges = spark.range(1).select(
        F.lit(n_edge_rows).cast("long").alias("n_edges")
    )
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("3 * n_triangles * 1000000 div n_wedges").alias("gcc_ppm"),
        )
    )
