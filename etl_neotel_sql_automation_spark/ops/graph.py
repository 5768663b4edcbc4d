"""Iterative graph algorithms, one implementation each:

- :func:`connected_components` (with :func:`dedup_clusters` and
  :func:`canonical_docs` on top): min-label propagation to a fixpoint;
- :func:`pagerank_int`: fixed-round PageRank in exact integers, uniform
  or personalized to a seed set;
- :func:`label_propagation`: majority-vote community labels;
- :func:`kcore_peel`: fixed-round k-core peeling;
- :func:`bfs`: bounded-depth multi-source breadth-first search.

Connected components is the clustering step a dedup pipeline runs
after candidate generation (pairs -> groups -> one keeper per group).
Algorithm: iterative min-label propagation. Each node starts labeled
with itself; every round each node takes the min label among itself
and its neighbors; fixpoint = components labeled by their min node id.
The result is unique (min over the component) regardless of iteration
order, so it is deterministic and oracle-checkable.

Scale design: each round is one equi-join + one groupBy (both on node
id — AQE-managed shuffles, no driver-side graph). Rounds needed =
graph diameter, which for near-dup clusters is tiny (pairs/triples,
diameter <= 3). The driver loop only orchestrates; per-round
``localCheckpoint`` truncates lineage so plans don't grow with the
iteration count (at cluster scale use ``checkpoint`` to HDFS/S3
instead). The convergence check is one small count per round —
unavoidable for any fixpoint algorithm.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node with the min node id of its connected component.

    ``nodes``: one row per node (singletons allowed — they keep their
    own label). ``edges``: undirected pairs (each pair listed once in
    either direction). Returns (id, component).
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # materialize the edge list ONCE: every propagation round joins
    # `sym`, and an expression-backed edge frame (e.g. the MinHash
    # candidate pipeline) would otherwise recompute its whole tree per
    # round — measured as the dominant cost of split_cluster_routing
    # (r8): candidates took ~30 s/round to rebuild while the CC loop
    # itself ran ~3 s on the checkpointed pairs
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    labels = labels.localCheckpoint(eager=True)
    for it in range(max_iter):
        neigh = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        # r12 POINTER JUMPING (guide §1.2 — fix the distributed
        # algorithm first): after the neighbor-min step, each node also
        # adopts its (new) component's OWN current label — classic path
        # compression, shrinking convergence from O(diameter) to
        # O(log diameter) propagation ROUNDS (each round is a global
        # barrier at scale). The fixpoint is unchanged (the min
        # component id), so the output is identical. Measured at
        # sf0.1: 5 -> 4 rounds on the dedup cluster family, wall-clock
        # FLAT (0.97-1.05 same-session A/B — the saved round is offset
        # by the parent join re-deriving the stepped frame); kept for
        # the round-count bound, which is what matters when a round is
        # a full label shuffle over a 100 TB-derived node set and
        # duplicate chains make diameters double-digit.
        # The convergence flag rides the SAME projection (final label
        # <= old label always, so "changed" === final < old) and its
        # count runs on the materialized checkpoint — no separate
        # new-vs-old join (r12, guide §2.4).
        stepped = labels.join(neigh, "id", "left").select(
            "id",
            F.col("component").alias("oc"),
            F.least("component", F.coalesce("neigh_min", "component")).alias("nc"),
        )
        parent = stepped.select(
            F.col("id").alias("nc"), F.col("nc").alias("parent_comp")
        )
        new_labels = (
            stepped.join(parent, "nc", "left")
            .select(
                "id",
                F.least("nc", F.coalesce("parent_comp", "nc")).alias("component"),
                (
                    F.least("nc", F.coalesce("parent_comp", "nc")) < F.col("oc")
                ).alias("chg"),
            )
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("id", "component")
        logger.info("connected_components iter %d: %d labels changed", it, changed)
        if changed == 0:
            break
    return labels


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Near-dup groups from candidate pairs: every document labeled
    with its cluster (min doc id in the component) and a keeper flag —
    downstream dedup keeps ``is_keeper`` rows and drops the rest."""
    cc = connected_components(nodes, pairs, id_col, src_col, dst_col)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def canonical_docs(
    nodes: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Survivor selection — the dedup endgame: cluster candidate pairs
    into components, then keep each cluster's BEST document by
    ``quality_col`` (greatest value; min id tie-break) instead of the
    arbitrary min-id keeper. This is the policy production pipelines
    actually want ("among near-dups, keep the longest / highest-quality
    copy").

    ``nodes`` must carry (id_col, quality_col). Cost on top of
    :func:`connected_components` is one id-equi-join to reattach
    quality plus one per-cluster window — both shuffles keyed on
    id/cluster, no pair amplification. Returns (doc_id, cluster_id,
    quality_col, is_canonical)."""
    cc = connected_components(nodes, pairs, id_col, src_col, dst_col)
    q = nodes.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q"))
    w = Window.partitionBy("component").orderBy(F.desc("__q"), "id")
    return (
        cc.join(q, "id")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("__q").alias(quality_col),
            (F.col("__rn") == 1).alias("is_canonical"),
        )
    )


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    seeds: DataFrame | None = None,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic, uniform or
    personalized.

    Ranks are bigints in units of 1/``scale``: contributions use
    integer division (``rank div out_degree``), and the damped update
    is ``(15 * scale) div (100 * N) + (85 * sum) div 100``. Integer
    sums are associative — unlike float sums — so the result is
    bit-identical regardless of partitioning/summation order, which
    makes a cross-engine differential oracle possible for an iterative
    algorithm (3 unrolled CTE rounds on the SQL side).

    ``seeds`` (one ``id`` column) makes it personalized PageRank: the
    initial mass and the teleport term go to the seed ids only, with
    N = the number of distinct seeds; every other node starts at 0 and
    receives only walked mass. Without ``seeds`` every node is a
    teleport target and N = the node count. An empty seed set keeps
    SQL ``div`` semantics — nothing teleports and every rank is 0.

    Scale design: each iteration is one equi-join of (edges x ranks) on
    src plus one groupBy on dst — the standard distributed PageRank
    step. Dangling mass is dropped (nodes with no out-edges contribute
    nothing), matching the unrolled oracle exactly. The driver loop
    only orchestrates; ``localCheckpoint`` truncates lineage per round.
    """
    # materialize the edge list ONCE (the connected_components lesson,
    # r11): every iteration's eager checkpoint is an action, and an
    # expression-backed edge frame (orders x lineitem + distinct for
    # the purchase graph) would otherwise recompute its whole tree per
    # round — measured 9.2 -> ~4 s for graph_pagerank at sf0.1. nodes
    # and deg are each consumed every round too; both are O(nodes)
    # after the edge materialization, so checkpointing them costs
    # nothing and saves a per-round union/distinct + groupBy rebuild.
    sym = edges.select(src_col, dst_col).localCheckpoint(eager=True)
    nodes = (
        sym.select(F.col(src_col).alias("id"))
        .union(sym.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.select("id", F.lit(True).alias("seed"))
        nodes = nodes.localCheckpoint(eager=True)
        n = nodes.count()  # one scalar; drives exact integer literals
    else:
        seeds = seeds.select("id").distinct()
        n = seeds.count()
        nodes = nodes.join(
            seeds.select("id", F.lit(True).alias("seed")), "id", "left"
        ).localCheckpoint(eager=True)
    deg = (
        sym.groupBy(src_col)
        .agg(F.count("*").alias("out_deg"))
        .localCheckpoint(eager=True)
    )

    def teleport(numerator: int, denominator: int = 1) -> Column:
        # numerator div (denominator * n) on seed nodes, 0 elsewhere.
        # n = 0 means no node is a seed, so the quotient is never used:
        # 0 stands in for SQL's x div 0 where Python's // would raise
        q = numerator // (denominator * n) if n else 0
        return F.when(F.col("seed"), F.lit(q)).otherwise(F.lit(0)).cast("long")

    ranks = nodes.select("id", teleport(scale).alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    for _ in range(iters):
        contribs = (
            sym.join(ranks, sym[src_col] == ranks.id)
            .join(deg, src_col)
            .select(F.col(dst_col).alias("id"), F.expr("rank div out_deg").alias("c"))
        )
        summed = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, "id", "left")
            .select(
                "id",
                (
                    teleport((100 - damping_pct) * scale, 100)
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous majority-vote label propagation (community
    detection): labels start as node ids; each iteration every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label, isolated nodes keeping their own — fully
    deterministic, so a fixed-``iters`` run unrolls into an exact SQL
    oracle (the same stance as :func:`pagerank_int`; unlike
    :func:`connected_components`' min-label rule, the majority vote
    respects edge density, splitting bridged-but-sparse clusters).

    ``edges`` are taken as undirected (symmetrized here). Returns
    (id, label) after ``iters`` rounds.

    REQUIRES NUMERIC (integral) node ids: the argmax is computed as
    ``max(struct(votes, -label))`` (r11), whose negation trick needs a
    numeric label — string ids would raise/cast under ANSI instead of
    ordering lexicographically the way the old row_number window did.
    All in-repo callers pass longs; cast or re-key before calling with
    anything else (r11 ADVICE).

    Scale: per round, one equi-join of edges to the label table and one
    (dst, label) combinable count + per-node argmax window — the
    standard distributed LPA step; lineage is checkpoint-truncated per
    round like the other iterative ops.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # materialized once: each round's eager checkpoint re-executes the
    # edge tree otherwise (the connected_components lesson, r11 —
    # measured 7.4 -> ~4 s for graph_label_propagation at sf0.1)
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(iters):
        votes = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count("*").alias("votes"))
        )
        # per-node argmax as a combinable max(struct) aggregate instead
        # of a row_number window (r11): max votes, ties to the SMALLEST
        # label == max of (votes, -label) — same deterministic winner,
        # but partial aggregation replaces the per-partition sort
        winner = votes.groupBy("id").agg(
            F.max(F.struct(F.col("votes"), (-F.col("label")).alias("nl"))).alias("m")
        ).select("id", (-F.col("m.nl")).alias("new_label"))
        labels = (
            labels.join(winner, "id", "left")
            .select("id", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-core peeling with a FIXED number of synchronous rounds: each
    round drops every node whose degree within the surviving subgraph
    is < k, then recomputes degrees. Fixed rounds (not run-to-
    convergence) keep the computation a finite unrollable dataflow, so
    a DuckDB oracle replays it round-for-round in exact integer
    arithmetic — the pagerank_int / label_propagation convention.

    ``edges`` must be symmetric (both directions present) and distinct.
    Returns the round-``rounds`` survivors with the degree that
    qualified them (their degree within the round-(rounds-1) subgraph).

    At 100 TB each round is one shuffle equi-join per endpoint against
    the shrinking survivor set plus one combinable count — the
    MR-model peeling shape. Survivor sets shrink monotonically, so AQE
    flips the survivor joins to broadcasts as rounds progress; no
    all-pairs work anywhere.
    """
    # left LAZY deliberately (r11): an eager edge checkpoint measured
    # SLOWER (2.19 -> 2.45 s best-of-3 at sf0.1) — exchange reuse
    # dedupes the repeated edge scans in the one-action unrolled plan
    surv = edges.select(F.col("src").alias("id")).distinct()
    deg = None
    for _ in range(rounds):
        deg = (
            edges.join(surv.select(F.col("id").alias("src")), "src")
            .join(surv.select(F.col("id").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )
        surv = deg.select(F.col("src").alias("id"))
    return deg.select(F.col("src").alias("id"), "core_deg")


def bfs(edges: DataFrame, seeds: DataFrame, depth: int) -> DataFrame:
    """Bounded-depth multi-source breadth-first search: (seed, id, dist)
    for every node within ``depth`` hops of a seed, at its shortest hop
    distance.

    ``seeds`` has (seed, id) rows: ``seed`` is a key, so one pass runs
    any number of independent searches (one key per literal source), and
    a key with several ids is one search from that whole cohort (the
    distance is to the nearest member). Seeds themselves come back at
    dist 0. ``edges`` are directed (src, dst) pairs; pass both
    directions for an undirected graph.

    Per round: frontier ⋈ edges on the node id, distinct (seed, id),
    anti-join against the visited set on the composite key — a node
    reached earlier never re-enters, so min-distance dedup holds by
    construction — and a per-round ``localCheckpoint`` of the new
    frontier and the visited set so the lineage stays flat. O(edges)
    per round, ``depth`` rounds.
    """
    # materialize the edge frame once (r11, the connected_components
    # lesson): every round checkpoints eagerly, and an expression-backed
    # edge frame (orders x lineitem distinct for the purchase graph)
    # re-executes per round otherwise — measured 4.9 -> ~2.5 s for
    # graph_closeness_bfs at sf0.1
    edges = edges.select(F.col("src").alias("id"), "dst").localCheckpoint(eager=True)
    visited = (
        seeds.select("seed", "id")
        .distinct()
        .select("seed", "id", F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for d in range(1, depth + 1):
        frontier = (
            frontier.join(edges, "id")
            .select("seed", F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("seed", "id"), ["seed", "id"], "left_anti")
            .select("seed", "id", F.lit(d).alias("dist"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(frontier).localCheckpoint(eager=True)
    return visited
