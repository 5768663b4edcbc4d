"""Round-8 wave-47 workload: split_cluster_routing — the FIX for the
leakage wave-43 audits: route whole near-dup CLUSTERS to one split.
The doc-keyed md5 split sends two near-duplicates to different splits
in proportion to 2*pa*pb (wave-43 measures it); the standard repair is
to assign every document the split of its CLUSTER representative (the
component's min doc id), so a near-dup family can never straddle a
boundary. Output per routed split: document count, how many documents
the routing MOVED off their naive assignment, the moved share, the
realized split shares (the 90/5/5 target bends only by cluster
granularity) — and the closing proof: the count of candidate pairs
still crossing a split boundary after routing, which the construction
forces to ZERO (both endpoints share a component, components share a
representative). The audit (wave 43) and the fix verify each other.

Determinism: candidates are the bit-exact md5 MinHash pipeline;
components are iterative min-label propagation (ops.graph — the
registered dedup_clusters operator) against the oracle's recursive
CTE; split buckets the md5 arithmetic of split_train_eval.

Scale shape: the LSH bucket join plus the checkpointed per-round CC
equi-joins already priced by dedup_clusters; the routing layer adds
two md5 buckets per doc and a 3-key aggregate with pooled windows.
The zero-leak verification is one candidate-sized join against the
doc-sized label frame and a 1-row aggregate (broadcast — ungrouped,
structurally bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops import dedup as D
from ..ops import graph as G
from ..ops.hashing import hash_split, sql_hash_split
from .llm_ops import _minhash_oracle


def split_cluster_routing_frame(docs: DataFrame) -> DataFrame:
    """Frame core of split_cluster_routing (scaling-probe entry)."""
    # materialize the candidate pairs ONCE: three consumers read them
    # (the CC edge list, both sides of the zero-leak verification
    # join), and the MinHash pipeline is the expensive branch — the
    # margin-miner house pattern
    cand = (
        D.minhash_lsh_candidates(docs, hash_fn="md5")
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    # iterate CC only over docs that APPEAR in a candidate pair — a
    # singleton's component is itself, so the (1 - dup_rate) majority
    # of the corpus never enters the per-round label joins (measured
    # 301 s -> see SCALING.md at the 500k-doc probe); labels join back
    # to the full corpus once, with coalesce for the singletons
    endpoints = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    cc = G.connected_components(endpoints, cand)
    lab = (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            hash_split("doc_id").alias("naive_split"),
            hash_split("cluster_id").alias("routed_split"),
        )
    )
    leak_after = (
        cand.join(
            lab.select(
                F.col("doc_id").alias("id_a"),
                F.col("routed_split").alias("ra"),
            ),
            "id_a",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("id_b"),
                F.col("routed_split").alias("rb"),
            ),
            "id_b",
        )
        .agg(
            F.sum(
                F.when(F.col("ra") != F.col("rb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("cross_pairs_after")
        )
    )
    g = lab.groupBy("routed_split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("naive_split") != F.col("routed_split"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_moved"),
    )
    return (
        g.crossJoin(F.broadcast(leak_after))  # 1-row verification
        .select(
            F.col("routed_split").alias("split"),
            "n_docs",
            "n_docs_moved",
            F.expr(
                "CAST((1000000 * n_docs) div (sum(n_docs) OVER ())"
                " AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                "CAST((1000000 * sum(n_docs_moved) OVER ())"
                " div (sum(n_docs) OVER ()) AS BIGINT)"
            ).alias("moved_share_ppm"),
            "cross_pairs_after",
        )
        .orderBy("split")
    )


def _routing_oracle() -> str:
    return f"""
    WITH RECURSIVE cand AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION ALL SELECT id_b, id_a FROM cand
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id
    ),
    clusters AS (
      SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    ),
    lab AS (
      SELECT doc_id, cluster_id,
             {sql_hash_split("doc_id")} AS naive_split,
             {sql_hash_split("cluster_id")} AS routed_split
      FROM clusters
    ),
    leak_after AS (
      SELECT CAST(sum(CASE WHEN a.routed_split <> b.routed_split
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_pairs_after
      FROM cand
      JOIN lab a ON cand.id_a = a.doc_id
      JOIN lab b ON cand.id_b = b.doc_id
    ),
    g AS (
      SELECT routed_split AS split,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN naive_split <> routed_split
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_moved
      FROM lab GROUP BY 1
    )
    SELECT split, n_docs, n_docs_moved,
           CAST((1000000 * n_docs) // (sum(n_docs) OVER ()) AS BIGINT)
             AS share_ppm,
           CAST((1000000 * sum(n_docs_moved) OVER ())
                // (sum(n_docs) OVER ()) AS BIGINT) AS moved_share_ppm,
           leak_after.cross_pairs_after
    FROM g CROSS JOIN leak_after ORDER BY split
    """


@query("split_cluster_routing", oracle=_routing_oracle())
def split_cluster_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-routed train/eval/test assignment: every document takes
    its near-dup component representative's split, with per-split doc
    counts, moved counts and shares, and the post-routing cross-split
    candidate-pair count (zero by construction — the wave-43 leak
    closed)."""
    return split_cluster_routing_frame(table(spark, sf_dir, "documents"))
