"""Scaling probe: time one family of registered frames over synthetic
tables at 1x / 10x / 100x their sf0.1 volume.

Usage: python tools/scale_probe.py FAMILY [--scales=1,10,100]

``FAMILIES`` maps each family to its legs, leg name -> function of the
scale's :class:`Tables` returning the DataFrame to time. Every leg calls
the registered ``*_frame`` / operator code path; the tables come from
``tools/synth.py``. A family runs in its own session (``get_spark``
defaults, so ``SPARK_GRAFT_CPUS`` sets the cores): the localCheckpoint
blocks of a big synthetic pin the local heap until the session ends,
and blocks left over from another family once starved a broadcast build
at 100x. After one untimed warm-up (the first leg at 1x), each leg is
timed once, construction plus a noop-sink write, and every scale's
timings fold into ``SCALING_<family>.json`` via
``tools/scaling_record.py``. Seconds spent materializing the synthetic
inputs (their localCheckpoint) are left out of the leg.

The registry family times every registered heavy-family query at
sf0.01 (scale 1) and sf0.1 (scale 10); ``tests/test_scaling_records.py``
requires each of them to have a recorded row.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_neotel_sql_automation_spark import workload  # noqa: E402
from etl_neotel_sql_automation_spark.ops import dedup as D  # noqa: E402
from etl_neotel_sql_automation_spark.ops import graph as G  # noqa: E402
from etl_neotel_sql_automation_spark.ops import similarity as S  # noqa: E402
from etl_neotel_sql_automation_spark.ops.asof import session_stats  # noqa: E402
from etl_neotel_sql_automation_spark.ops.geo import grid_nearest  # noqa: E402
from etl_neotel_sql_automation_spark.ops.text import sparse_cosine_topk  # noqa: E402
from etl_neotel_sql_automation_spark.session import get_spark  # noqa: E402
from etl_neotel_sql_automation_spark.workload import (  # noqa: E402
    corpus_mining, corpus_stats, curation, experiments, final_wave, insights,
    quality, wave7, wave8, wave12, wave13, wave14, wave15, wave16, wave17,
    wave18, wave19, wave20, wave21, wave22, wave23, wave24, wave25, wave26,
    wave27, wave29, wave31, wave32, wave33, wave34, wave35, wave36, wave37,
    wave38, wave39, wave40, wave43, wave44, wave45, wave46, wave51, wave52,
    wave53, wave54, wave55, wave57, wave59, wave64, wave65, wave66, wave68,
    wave71, wave72, wave73, wave74, wave75, wave76, wave77, wave78,
)
from tools import synth  # noqa: E402
from tools.scaling_record import record  # noqa: E402

SF_SCALES = {1: "/root/testdata/sf0.01", 10: "/root/testdata/sf0.1"}
HEAVY_PREFIXES = ("dedup_", "sim_", "emb_", "multimodal_", "graph_")


def heavy_queries() -> list[str]:
    return sorted(n for n in workload.queries() if n.startswith(HEAVY_PREFIXES))


def planes_for(n: int) -> int:
    """The documented LSH deploy knob: bucket count scales with the
    corpus so OCCUPANCY stays ~constant — candidate pairs per table are
    ~B*(n/B)^2/2 = n^2/2B, linear in n only when B grows with n; fat
    buckets are the quadratic failure mode. ROUND (not floor) of log2:
    power-of-2 buckets can only grow 8x or 16x per 10x decade, and
    flooring let occupancy swing up to ~32 before the next doubling —
    the r10 100x leg (172 s) was exactly that: floor gave B=8192 at
    200k vectors (occupancy ~24, 37.7M candidate occurrences, wall
    ~11x the 10x leg, r11 diagnosis in SCALING_ann_counts.json).
    Rounding keeps occupancy in a ~12..25 band, so each decade's
    candidate growth stays within ~2x of linear on either side.
    Floored at the local-fixture default of 4. Recall for the planted
    cosine~0.999 dups stays ~1.0 under 16 tables even at 17 planes
    (1-(1-0.986^17)^16); threshold-0.9 pairs hold ~0.86 at 14."""
    return max(4, round(math.log2(max(n, 2))) - 4)


def _sym_distinct(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.union(rev).distinct()


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _bipartite(pairs: DataFrame, offset: int) -> DataFrame:
    """(c, s) pairs as an undirected (src, dst) edge list, suppliers
    shifted by ``offset`` into their own key space."""
    supp = F.lit(offset) + F.col("s")
    return pairs.select(F.col("c").alias("src"), supp.alias("dst")).union(
        pairs.select(supp.alias("src"), F.col("c").alias("dst"))
    )


def _star_nation(t, prefix: str, *extra) -> DataFrame:
    return t.spark.range(25).select(
        F.col("id").alias("n_nationkey"),
        F.concat(F.lit(prefix), F.col("id")).alias("n_name"),
        *extra,
    )


def _wave73_graph(t) -> DataFrame:
    # bipartite purchase graph off the orders keys: customers n/15,
    # suppliers n/150 (the TPC-H ratio), ~n distinct edges, undirected
    n = 150_000 * t.n
    pairs = synth.synth_pairs(t.spark, n, max(n // 15, 5), max(n // 150, 5), first_id=1)
    return workload.purchase_graph(pairs)


# Table name -> builder of the Tables ``t`` of one scale ``t.n``.
TABLES = {
    "events": lambda t: synth.events_at(t.spark, t.n),
    "docs": lambda t: synth.synth_docs(t.spark, synth.BASE_DOCS * t.n),
    "documents": lambda t: synth.synth_documents(t.spark, synth.BASE_DOCS * t.n),
    "embeddings": lambda t: synth.synth_embeddings(t.spark, synth.BASE_VECS * t.n),
    "vectors": lambda t: synth.synth_vectors(t.spark, 60_000 * t.n),
    "graph_edges": lambda t: synth.synth_edges(t.spark, 5_000 * t.n),
    "graph_sym": lambda t: _sym_distinct(t.ckpt("graph_edges")),
    "graph_nodes": lambda t: _nodes(t.ckpt("graph_edges")),
    "orders": lambda t: synth.synth_orders(t.spark, 150_000 * t.n, 15_000 * t.n),
    "orders_prio": lambda t: synth.with_priority(t["orders"]),
    "orders_like": lambda t: synth.synth_orders_like(t.spark, 60_000 * t.n),
    "orders_like_priced": lambda t: synth.with_priced(t["orders_like"]),
    "events5": lambda t: synth.synth_events(t.spark, 200_000 * t.n),
    "star_customers": lambda t: t.spark.range(15_000).select(
        F.col("id").alias("c_custkey"), F.pmod("id", F.lit(25)).alias("c_nationkey")
    ),
    "li_brand": lambda t: synth.synth_lineitem_brand(t.spark, 240_000 * t.n),
    "sourced_docs": lambda t: t["docs"].withColumn(
        "source", F.concat(F.lit("src"), F.col("doc_id") % 20)
    ),
    "lineitem_qty": lambda t: synth.synth_lineitem_qty(t.spark, 600_000 * t.n, 1_500 * t.n),
    "cust_nation": lambda t: synth.synth_keyed_nation(
        t.spark, 15_000 * t.n, "c_custkey", "c_nationkey"
    ),
    "supp_nation": lambda t: synth.synth_keyed_nation(
        t.spark, 1_500 * t.n, "s_suppkey", "s_nationkey"
    ),
    "nation": lambda t: t.spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("N"), F.col("id")).alias("n_name"),
    ),
    "purchase_events": lambda t: synth.synth_purchase_events(
        t.spark, 150_000 * t.n, 15_000 * t.n
    ),
    "priced_orders": lambda t: synth.synth_priced_orders(t.spark, 150_000 * t.n),
    "purchase_graph73": _wave73_graph,
}


class Tables:
    """The synthetic tables of one scale ``n``, each built on first use
    and shared by the legs of that scale. ``preset`` tables replace the
    built ones. Seconds spent in ``ckpt`` materializing a table
    accumulate in ``build_s``, so the timing loop can leave them out."""

    def __init__(self, spark, n: int, **preset):
        self.spark, self.n = spark, n
        self._memo = dict(preset)
        self.build_s = 0.0

    def __getitem__(self, name: str):
        if name not in self._memo:
            self._memo[name] = TABLES[name](self)
        return self._memo[name]

    def ckpt(self, name: str) -> DataFrame:
        key = name + "@ckpt"
        if key not in self._memo:
            built, t0 = self.build_s, time.perf_counter()
            self._memo[key] = self[name].localCheckpoint()
            self.build_s = built + time.perf_counter() - t0
        return self._memo[key]


def _hits_frame(edges: DataFrame, rounds: int = 2, scale: int = 10**6) -> DataFrame:
    """The registered graph_hits loop (workload/wave6d.py) over a
    generic edge frame: max-normalized exact-integer HITS, top-25
    authorities."""
    hub = edges.select("src").distinct().select("src", F.lit(scale).alias("hub"))
    auth = None
    for _ in range(rounds):
        a0 = edges.join(hub, "src").groupBy("dst").agg(F.sum("hub").alias("auth"))
        amax = a0.agg(F.max("auth").alias("m"))
        auth = a0.crossJoin(F.broadcast(amax)).select(
            "dst", F.expr(f"auth * {scale} div m").alias("auth")
        )
        h0 = edges.join(auth, "dst").groupBy("src").agg(F.sum("auth").alias("hub"))
        hmax = h0.agg(F.max("hub").alias("m"))
        hub = h0.crossJoin(F.broadcast(hmax)).select(
            "src", F.expr(f"hub * {scale} div m").alias("hub")
        )
    return auth.orderBy(F.desc("auth"), "dst").limit(25)


def _ivf_pq(t) -> DataFrame | None:
    """The sampled locally-fit IVF-PQ: its hash-sample collect and
    k-means fits run at construction, so its construct and exec seconds
    are recorded apart (``SPLIT_LEGS``); run at 1x and 10x only."""
    if t.n > 10:
        return None
    emb = t.ckpt("embeddings")
    return S.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, train_fraction=0.25,
        rerank=max(100, synth.BASE_VECS * t.n // 5),
    )


def _curation_docs(t) -> DataFrame:
    # 4 sources (src0 = the DSIR target) and ~10% non-English, so the
    # per-source budget windows see real groups and the language gate prunes
    docs = t["docs"]
    return docs.select(
        "doc_id",
        F.concat(F.lit("src"), F.col("doc_id") % 4).alias("source"),
        F.when(F.col("doc_id") % 10 == 9, "es").otherwise("en").alias("lang"),
        "text",
    )


def _wave17_ev2(t) -> DataFrame:
    # the funnel needs signups besides purchases
    signup = F.pmod(F.xxhash64(F.lit("e2"), "event_id"), F.lit(10)) == 0
    return t["purchase_events"].withColumn(
        "event_type", F.when(signup, "signup").otherwise(F.col("event_type"))
    )


def _wave17_li_pc(t) -> DataFrame:
    # returnflag and shipdate for the p-chart
    ship = F.pmod(F.xxhash64(F.lit("sd"), "l_orderkey"), F.lit(2190 * 86_400))
    return t["lineitem_qty"].withColumn(
        "l_returnflag",
        F.when(
            F.pmod(F.xxhash64(F.lit("rf"), "l_orderkey"), F.lit(10)) == 0, "R"
        ).otherwise("N"),
    ).withColumn(
        "l_shipdate", F.timestamp_micros((F.lit(820_454_400) + ship) * 1_000_000)
    )


def _wave17_orphans(t) -> DataFrame:
    # the orphan audit over the 4 heavy edges the synthetics model
    n_supp = 1_500 * t.n
    li_fk = t["lineitem_qty"].withColumn(
        "l_partkey", F.pmod(F.xxhash64(F.lit("p"), "l_orderkey"), F.lit(n_supp))
    )
    return wave18.referential_orphans_frame({
        "lineitem": li_fk,
        "orders": t["orders_prio"],
        "part": t.spark.range(n_supp).selectExpr("id AS p_partkey"),
        "supplier": t["supp_nation"],
        "customer": t["cust_nation"],
        "nation": t["nation"].withColumn("n_regionkey", F.lit(0).cast("int")),
        "region": t.spark.range(1).selectExpr("CAST(id AS INT) AS r_regionkey"),
    })


def _wave17_scorecard(t) -> DataFrame:
    price = F.pmod(F.xxhash64(F.lit("xp"), "l_orderkey"), F.lit(1_000_000)) / 100.0
    return wave25.scorecard_frame(
        _wave17_li_pc(t).withColumn("l_extendedprice", price)
    )


def _wave31_shapley(t) -> DataFrame:
    price = F.pmod(F.xxhash64(F.lit("tp"), "o_orderkey"), F.lit(5_000_000)) / 100.0
    orders = synth.with_priority(t["orders_like"]).withColumn("o_totalprice", price)
    return wave40.shapley_airport_frame(orders)


def _wave31_abc_xyz(t) -> DataFrame:
    price = F.pmod(F.xxhash64(F.lit("xp"), "l_partkey"), F.lit(1_000_000)) / 100.0
    li = synth.synth_li_sparse(t.spark, 600_000 * t.n)
    return wave40.abc_xyz_frame(li.withColumn("l_extendedprice", price))


def _wave41_reconcile(t) -> DataFrame:
    nation = _star_nation(t, "N", F.pmod("id", F.lit(5)).alias("n_regionkey"))
    region = t.spark.range(5).select(
        F.col("id").alias("r_regionkey"), F.concat(F.lit("R"), F.col("id")).alias("r_name")
    )
    return wave45.reconcile_hierarchy_frame(
        t["orders_like_priced"], t["star_customers"], nation, region
    )


def _wave50_littles(t) -> DataFrame:
    orders = t.ckpt("orders_like_priced")
    day = F.col("o_orderdate").cast("date")
    lag = F.pmod(F.xxhash64(F.lit("sh"), "o_orderkey"), F.lit(30)).cast("int")
    return wave68.littles_frame(
        orders.select("o_orderkey", day.alias("o_orderdate")),
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"), F.date_add(day, lag).alias("l_shipdate")
        ),
    )


def _wave50_energy(t) -> DataFrame:
    urgent = F.pmod(F.xxhash64(F.lit("pr"), "o_orderkey"), F.lit(2)) == 0
    return wave59.energy_distance_frame(
        t.ckpt("orders_like_priced").withColumn(
            "o_orderpriority", F.when(urgent, "1-URGENT").otherwise("5-LOW")
        )
    )


def _wave50_within(t) -> DataFrame:
    supp = F.pmod(F.xxhash64(F.lit("s"), "l_quantity", "l_extendedprice"), F.lit(1_000))
    return wave65.within_frame(t.ckpt("li_brand").withColumn("l_suppkey", supp))


def _wave73_dated(t) -> DataFrame:
    return t.ckpt("priced_orders").select(
        "o_orderkey",
        "o_totalprice",
        F.expr("date_add(DATE '1992-01-01', CAST(o_orderkey % 2400 AS INT))").alias(
            "o_orderdate"
        ),
    )


def _registry_leg(name: str):
    return lambda t: workload.queries()[name](t.spark, SF_SCALES[t.n])


FAMILIES = {
    "events": {
        "sessionize": lambda t: session_stats(t["events"], gap_minutes=30.0),
        "funnel": lambda t: final_wave.funnel_frame(t["events"]),
        "rolling_wau_sketch": lambda t: quality.wau_sketch_frame(t["events"]),
        "markov_transitions": lambda t: insights.markov_frame(t["events"]),
        "lifecycle_weekly": lambda t: insights.lifecycle_frame(t["events"]),
        "ab_test_readout": lambda t: experiments.ab_test_frame(t["events"]),
    },
    "dedup": {
        "exact": lambda t: D.exact_groups(t["docs"]),
        "fingerprint": lambda t: D.fingerprint_groups(t["docs"]),
        "minhash_lsh": lambda t: D.minhash_lsh_candidates(t["docs"], hash_fn="xxhash64"),
        "simhash": lambda t: D.simhash(t["docs"]),
    },
    "ann": {
        # planes track log2(corpus): the deploy configuration at each
        # scale, not a fixed-bucket toy that would blow up at 100x
        "lsh_near_dup": lambda t: S.lsh_near_dup_pairs(
            t["embeddings"], threshold=0.9,
            planes_per_table=planes_for(synth.BASE_VECS * t.n),
        ),
        "brute_force_topk10q": lambda t: S.brute_force_topk(
            t["embeddings"], t["embeddings"].filter(F.col("vec_id") < 10), k=5
        ),
        "sq8_topk10q": lambda t: S.sq8_topk(
            t["embeddings"], t["embeddings"].filter(F.col("vec_id") < 10), k=5
        ),
        # the Chapman coverage audit over the 16-table hyperplane index
        # rides the same planes knob (fixed 4-plane buckets measured
        # 262 s at 10x)
        "emb_capture_recapture": lambda t: wave78.emb_capture_recapture_frame(
            t["embeddings"], planes_per_table=planes_for(synth.BASE_VECS * t.n)
        ),
        "ivf_pq_sampled_local": _ivf_pq,
    },
    "curation": {
        "gopher_gate": lambda t: curation.gopher_frame(t["docs"]),
        "hashed_classifier": lambda t: curation.classifier_frame(t["docs"]),
        "dup_span": lambda t: corpus_mining.dup_span_frame(t["docs"]),
        "contam_span": lambda t: corpus_mining.contam_span_frame(t["docs"]),
        # the composed dedup -> excision -> gate -> DSIR -> budget pipeline
        "pretrain_e2e": lambda t: corpus_mining.pretrain_frame(_curation_docs(t)),
        "semantic_prune": lambda t: S.semantic_prune(
            t["embeddings"], planes=planes_for(synth.BASE_VECS * t.n), threshold=0.9
        ),
        "knn_graph": lambda t: S.knn_graph(
            t["embeddings"], k=3, planes=planes_for(synth.BASE_VECS * t.n)
        ),
    },
    "hashed": {
        "dsir_hashed": lambda t: corpus_mining.dsir_hashed_frame(
            t["docs"].select(
                "doc_id", F.concat(F.lit("src"), F.col("doc_id") % 4).alias("source"), "text"
            )
        ),
        "bigram_lm_hashed": lambda t: corpus_stats.bigram_lm_hashed_frame(t["docs"]),
        # planes track log2 of one label's population (n/10)
        "margin_indexed": lambda t: corpus_mining.margin_indexed_frame(
            t["embeddings"].withColumn("label", (F.col("vec_id") % 10).cast("int")),
            planes=planes_for(synth.BASE_VECS * t.n // 10),
        ),
        # bloom bits scale with the eval-gram count so kn/m (the FP
        # rate) stays at the registered design point
        "bloom_prefilter": lambda t: corpus_mining.bloom_prefilter_frame(
            t["docs"], bits=65536 * t.n
        ),
        "cms_heavy_hitters": lambda t: corpus_stats.cms_heavy_hitters_frame(t["docs"]),
        "lc_distinct": lambda t: corpus_stats.lc_distinct_frame(t["docs"]),
        "bloom_fp_meter": lambda t: corpus_mining.bloom_fp_frame(t["docs"], bits=65536 * t.n),
    },
    "graph": {
        "pagerank": lambda t: G.pagerank_int(t.ckpt("graph_edges"), iters=3),
        "kcore": lambda t: G.kcore_peel(t.ckpt("graph_sym"), k=3, rounds=3),
        "hits": lambda t: _hits_frame(t.ckpt("graph_edges")),
        "label_propagation": lambda t: G.label_propagation(
            t.ckpt("graph_nodes"), t.ckpt("graph_edges"), iters=3
        ),
    },
    "wave6": {
        "jaccard_prefix": lambda t: D.jaccard_prefix_pairs(
            t["docs"], block_col=None, num=1, den=2, gram_n=3
        ),
        "sparse_cosine": lambda t: sparse_cosine_topk(t["docs"]),
        # a symmetric bipartite purchase-shaped graph, suppliers offset 10M
        "kcore": lambda t: G.kcore_peel(
            _bipartite(
                synth.synth_pairs(t.spark, 60_000 * t.n, 15_000 * t.n, 1_000 * t.n),
                10_000_000,
            ),
            k=48, rounds=3,
        ),
        # cell ~ 1/sqrt(target density) keeps occupancy constant: a fixed
        # cell with both sides scaling is O(N*M) (0.8 -> 20.1 s at 10x)
        "grid_knn": lambda t: grid_nearest(
            synth.synth_points(t.spark, 15_000 * t.n, "p", "pid"),
            synth.synth_points(t.spark, 1_000 * t.n, "t", "tid"),
            max(1, int(30_000_000 / (t.n ** 0.5))),
        ),
    },
    "wave7": {
        "inverted_index": lambda t: wave7.inverted_index_frame(t["sourced_docs"]),
        "quantile_normalize": lambda t: wave7.quantile_normalize_frame(t["sourced_docs"]),
        "link_predict": lambda t: wave7.link_predict_frame(
            synth.synth_pairs(t.spark, 50_000 * t.n, 15_000 * t.n, 1_000 * t.n)
        ),
        "epoch_shuffle": lambda t: wave7.epoch_shuffle_frame(t["sourced_docs"]),
    },
    "wave8": {
        # part population scales with volume, so per-part lot depth (the
        # FIFO window's state) stays in the sf0.1 band
        "fifo_allocation": lambda t: wave8.fifo_allocation_frame(
            *synth.synth_lots_dem(t.spark, 600_000 * t.n, 20_000 * t.n)
        ),
        "t_closeness": lambda t: wave8.t_closeness_frame(
            synth.synth_customers(t.spark, 15_000 * t.n)
        ),
        "kneser_ney": lambda t: wave8.kneser_ney_frame(
            synth.synth_bigrams(t.spark, synth.BASE_DOCS * t.n)
        ),
    },
    "wave12": {
        "psi_drift": lambda t: wave12.psi_drift_frame(t["orders"]),
        "bootstrap_ci": lambda t: wave12.bootstrap_ci_frame(t["orders"]),
        "cohens_kappa": lambda t: wave12.cohens_kappa_frame(
            synth.synth_lineitem(t.spark, 600_000 * t.n)
        ),
        "calibration": lambda t: wave12.calibration_bins_frame(t["documents"]),
        "info_gain": lambda t: wave12.info_gain_frame(t["documents"]),
        # ranks globally in one partition by construction; the registered
        # docstring prescribes a hash-sample at 100 TB, and this measures
        # what ignoring that advice costs
        "zorder_layout": lambda t: wave12.zorder_layout_frame(t["orders"]),
    },
    "wave13": {
        "wasserstein": lambda t: wave13.wasserstein_frame(t["orders"]),
        "ks_drift": lambda t: wave14.ks_drift_frame(t["orders"]),
        "mann_whitney": lambda t: wave13.mann_whitney_frame(
            t["orders"].withColumn(
                "o_orderpriority",
                F.when(
                    F.pmod(F.xxhash64(F.lit("pr"), "o_orderkey"), F.lit(5)) == 0,
                    "1-URGENT",
                ).otherwise("3-MEDIUM"),
            )
        ),
        "join_size": lambda t: wave14.join_size_estimate_frame(
            synth.synth_keys(t.spark, 150_000 * t.n, 150_000 * t.n, "a"),
            synth.synth_keys(t.spark, 600_000 * t.n, 150_000 * t.n, "b"),
        ),
        "lexical_diversity": lambda t: wave13.lexical_diversity_frame(t["documents"]),
        "ngram_coverage": lambda t: wave14.ngram_coverage_frame(t["documents"]),
    },
    "wave15": {
        "oov_rate": lambda t: wave15.oov_rate_frame(t["documents"]),
        "sequential_gaps": lambda t: wave15.sequential_gaps_frame(t["orders"]),
        "interarrival": lambda t: wave15.interarrival_quartiles_frame(t["orders"]),
        "dedup_impact": lambda t: wave15.dedup_impact_frame(t["documents"]),
    },
    "wave17": {
        "water_filling": lambda t: wave16.water_filling_frame(t["documents"]),
        "rfm_migration": lambda t: wave16.rfm_migration_frame(t["orders_prio"]),
        "spearman": lambda t: wave17.spearman_frame(t["lineitem_qty"]),
        "kruskal": lambda t: wave17.kruskal_wallis_frame(t["orders_prio"]),
        "modularity": lambda t: wave17.modularity_frame(
            t["orders_prio"], t["lineitem_qty"], t["cust_nation"], t["supp_nation"],
            t["nation"],
        ),
        "coding_length": lambda t: wave17.coding_length_frame(t["documents"]),
        "orphans": _wave17_orphans,
        "anisotropy": lambda t: wave18.anisotropy_frame(t["vectors"]),
        "holt": lambda t: wave18.holt_linear_frame(t["orders_prio"]),
        "knapsack": lambda t: wave19.greedy_knapsack_frame(t["documents"]),
        "sensitivity": lambda t: wave19.sensitivity_audit_frame(t["orders_prio"]),
        "theil": lambda t: wave19.theil_frame(
            t["orders_prio"], t["cust_nation"].withColumn("c_name", F.lit("c"))
        ),
        "seasonal": lambda t: wave19.seasonal_decompose_frame(t["orders_prio"]),
        "cuped": lambda t: experiments.cuped_frame(t["purchase_events"]),
        "power_mde": lambda t: experiments.power_mde_frame(t["purchase_events"]),
        "hill": lambda t: wave20.hill_frame(t["orders_prio"]),
        "best_split": lambda t: wave20.best_split_frame(t["orders_prio"]),
        "dup_payments": lambda t: wave21.duplicate_payments_frame(t["orders_prio"]),
        "pchart": lambda t: wave21.pchart_frame(_wave17_li_pc(t)),
        "funnel_latency": lambda t: wave21.funnel_latency_frame(_wave17_ev2(t)),
        "seasonal_anomaly": lambda t: wave22.seasonal_anomaly_frame(t["orders_prio"]),
        "markov": lambda t: wave23.markov_stationary_frame(t["purchase_events"]),
        "binary_rerank": lambda t: wave24.binary_rerank_frame(t["vectors"]),
        "pareto_nbd": lambda t: wave24.pareto_nbd_frame(t["orders_prio"]),
        "nrr": lambda t: wave25.nrr_frame(t["orders_prio"]),
        "scorecard": _wave17_scorecard,
        "stickiness": lambda t: wave25.stickiness_frame(t["purchase_events"]),
        "sprt": lambda t: experiments.sprt_frame(t["purchase_events"]),
        "weekday_mix": lambda t: wave26.weekday_concentration_frame(t["orders_prio"]),
        "contrastive": lambda t: wave27.contrastive_pairs_frame(t["documents"]),
        "rolling_median": lambda t: wave27.rolling_median_frame(t["orders_prio"]),
        "pvm": lambda t: wave29.pvm_frame(t["orders_prio"]),
        "mlm_masking": lambda t: wave29.mlm_masking_frame(t["documents"]),
        "rank_metrics": lambda t: wave31.rank_metrics_frame(t["vectors"]),
        "pr_curve": lambda t: wave31.pr_curve_frame(t["vectors"]),
    },
    "wave31": {
        "rank_metrics": lambda t: wave31.rank_metrics_frame(t.ckpt("vectors")),
        "pr_curve": lambda t: wave31.pr_curve_frame(t.ckpt("vectors")),
        "rank_metrics_sampled": lambda t: wave31.rank_metrics_sampled_frame(
            t.ckpt("vectors")
        ),
        "pr_curve_sampled": lambda t: wave31.pr_curve_sampled_frame(t.ckpt("vectors")),
        "brier": lambda t: wave32.brier_decomposition_frame(t.ckpt("documents")),
        "charset": lambda t: wave32.charset_profile_frame(t.ckpt("documents")),
        # the every-part shape of the registered literal-part-set query
        "croston": lambda t: wave33.croston_frame(
            synth.synth_li_sparse(t.spark, 600_000 * t.n)
        ),
        "markov_attr": lambda t: wave34.markov_attribution_frame(t["events5"]),
        "jl_distortion": lambda t: wave35.jl_distortion_frame(t.ckpt("vectors")),
        "hilbert_layout": lambda t: wave36.hilbert_layout_frame(t["orders_like"]),
        "gate_sweep": lambda t: wave37.gate_sweep_frame(t.ckpt("documents")),
        "length_buckets": lambda t: wave37.length_bucket_frame(t.ckpt("documents")),
        "holt_winters": lambda t: wave38.holt_winters_frame(t["orders_like"]),
        "fertility": lambda t: wave38.fertility_frame(t.ckpt("documents")),
        "ses_sweep": lambda t: wave39.ses_sweep_frame(t["orders_like"]),
        "gen_ladder": lambda t: wave39.generalization_ladder_frame(t["orders_like"]),
        "shapley": _wave31_shapley,
        "abc_xyz": _wave31_abc_xyz,
    },
    # the four retrieval meters side by side: what the md5 corpus
    # sample buys the exact brute-force legs
    "wave31b": {
        "rank_metrics": lambda t: wave31.rank_metrics_frame(t.ckpt("vectors")),
        "rank_metrics_sampled": lambda t: wave31.rank_metrics_sampled_frame(
            t.ckpt("vectors")
        ),
        "pr_curve": lambda t: wave31.pr_curve_frame(t.ckpt("vectors")),
        "pr_curve_sampled": lambda t: wave31.pr_curve_sampled_frame(t.ckpt("vectors")),
    },
    # the layout simulation (one global row_number) against the deployed
    # bucket-local write shape, on the same orders
    "wave36b": {
        "simulation": lambda t: wave36.hilbert_layout_frame(t.ckpt("orders_like")),
        "deployed": lambda t: wave36.hilbert_layout_deployed_frame(t.ckpt("orders_like")),
    },
    "wave41": {
        "experiment_e2e": lambda t: experiments.experiment_pipeline_frame(t.ckpt("events5")),
        "srm": lambda t: experiments.srm_frame(t.ckpt("events5")),
        "did": lambda t: experiments.did_frame(t.ckpt("events5")),
        "split_leakage": lambda t: wave43.split_leakage_frame(t.ckpt("documents")),
        "threshold_sweep": lambda t: wave44.dedup_threshold_sweep_frame(
            t.ckpt("documents")
        ),
        "conformal": lambda t: wave46.conformal_bounds_frame(t.ckpt("documents")),
        "reconcile": _wave41_reconcile,
    },
    "wave50": {
        "anova_f": lambda t: experiments.anova_frame(t.ckpt("events5")),
        "qini": lambda t: experiments.qini_frame(t.ckpt("events5")),
        "tukey": lambda t: experiments.tukey_frame(t.ckpt("events5")),
        "permutation": lambda t: experiments.permutation_test_frame(t.ckpt("events5")),
        "ips": lambda t: experiments.ips_frame(t.ckpt("events5")),
        "cluster_se": lambda t: experiments.cluster_se_frame(t.ckpt("events5")),
        "event_study": lambda t: experiments.event_study_frame(t.ckpt("events5")),
        "bh_fdr": lambda t: experiments.bh_fdr_frame(t.ckpt("events5")),
        "neyman": lambda t: wave72.neyman_frame(t.ckpt("events5")),
        "roc_auc": lambda t: wave51.roc_auc_frame(t.ckpt("documents")),
        "isotonic": lambda t: wave54.isotonic_frame(t.ckpt("documents")),
        "heaps": lambda t: wave64.heaps_frame(t.ckpt("documents")),
        "dispersion": lambda t: wave66.dispersion_frame(t.ckpt("documents")),
        "capture_recapture": lambda t: wave71.capture_recapture_frame(
            t.ckpt("documents")
        ),
        "cross_corr": lambda t: wave53.cross_corr_frame(
            t.ckpt("orders_like_priced"), t["star_customers"], _star_nation(t, "NATION_")
        ),
        "pacf": lambda t: wave55.pacf_frame(t.ckpt("orders_like_priced")),
        "littles": _wave50_littles,
        "energy": _wave50_energy,
        "ols": lambda t: wave52.ols_frame(t.ckpt("li_brand")),
        "elasticity": lambda t: wave57.elasticity_frame(t.ckpt("li_brand")),
        "within": _wave50_within,
    },
    "wave73": {
        # mod scales with the corpus so the sampled ground-truth join
        # stays constant-sized
        "phash_quality": lambda t: wave73.phash_quality_frame(
            t.ckpt("documents"), mod=2 * t.n
        ),
        "phash_capture_recapture": lambda t: wave73.phash_capture_recapture_frame(
            t.ckpt("documents")
        ),
        "dim_profile": lambda t: wave73.dim_profile_frame(t.ckpt("documents")),
        "byte_entropy": lambda t: wave74.byte_entropy_frame(t.ckpt("documents")),
        "clipping_rate": lambda t: wave74.clipping_rate_frame(t.ckpt("documents")),
        "silence_runs": lambda t: wave74.silence_runs_frame(t.ckpt("documents")),
        "doc_perplexity": lambda t: wave75.doc_perplexity_frame(t.ckpt("documents")),
        "weighted_reservoir": lambda t: wave75.weighted_reservoir_frame(
            t.ckpt("priced_orders")
        ),
        "median_of_means": lambda t: wave75.median_of_means_frame(t.ckpt("priced_orders")),
        "pareto_front": lambda t: wave77.pareto_front_frame(_wave73_dated(t)),
        "spectral_peaks": lambda t: wave76.spectral_peaks_frame(_wave73_dated(t)),
        "closeness_bfs": lambda t: wave77.closeness_bfs_frame(t.ckpt("purchase_graph73")),
    },
    "registry": {name: _registry_leg(name) for name in heavy_queries()},
}

SPLIT_LEGS = {"ivf_pq_sampled_local"}


def lsh_counts(df: DataFrame, planes: int) -> dict:
    """UNTIMED per-scale diagnosis counts of the ann family: bucket
    occupancy and candidate-pair volume of the multi-table hyperplane
    index at the scale's planes knob — the numbers that say whether a
    superlinear wall decade is candidate-bound (occupancy grew) or
    fixed-overhead amortization. cand_occurrences = sum over (t,
    bucket) of n*(n-1)/2 (the bucket self-join's row count before pair
    dedup); cand_pairs = distinct candidate pairs (what exact-cosine
    verification actually scores)."""
    banded = S.multi_table_buckets(
        df, "vec_id", "embedding", 16, planes, 42, synth.DIM
    ).select("id", "t", "bucket")
    occ = banded.groupBy("t", "bucket").agg(F.count("*").alias("n"))
    row = occ.agg(
        F.count("*").alias("n_buckets_occupied"),
        F.max("n").alias("max_occ"),
        F.round(F.avg("n"), 2).alias("mean_occ"),
        F.sum((F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("cand_occurrences"),
    ).collect()[0]
    a, b = banded.alias("a"), banded.alias("b")
    same_bucket = (
        (F.col("a.t") == F.col("b.t"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id"))
    )
    n_pairs = a.join(b, same_bucket).select(F.col("a.id"), F.col("b.id")).distinct().count()
    return {
        "planes": planes,
        "n_buckets_occupied": int(row.n_buckets_occupied),
        "max_occ": int(row.max_occ),
        "mean_occ": float(row.mean_occ),
        "cand_occurrences": int(row.cand_occurrences),
        "cand_pairs": int(n_pairs),
    }


def record_counts(scale: int, counts: dict) -> None:
    """Merge-update SCALING_ann_counts.json ({scale: counts}) — kept
    out of SCALING_ann.json, whose legs are timings only."""
    path = os.path.join(ROOT, "SCALING_ann_counts.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[str(scale)] = counts
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_family(family: str, scales: list[int]) -> None:
    legs = FAMILIES[family]
    # Python workers (the events family's DataSource) import the package
    # too; they inherit the JVM's environment, not this sys.path, and the
    # JVM copies os.environ when get_spark starts it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(app_name=f"scale_probe_{family}")
    try:
        warm = Tables(spark, 1)
        _noop(next(iter(legs.values()))(warm))  # untimed warm-up
        for n in scales:
            t = warm if n == 1 else Tables(spark, n)
            times: dict = {}
            for name, leg in legs.items():
                built, t0 = t.build_s, time.perf_counter()
                df = leg(t)
                if df is None:  # the leg does not run at this scale
                    continue
                t1 = time.perf_counter()
                _noop(df)
                t2 = time.perf_counter()
                skip = t.build_s - built
                construct, total = t1 - t0 - skip, t2 - t0 - skip
                if name in SPLIT_LEGS:
                    times[name] = {
                        "construct": round(construct, 2),
                        "exec": round(total - construct, 2),
                        "total": round(total, 2),
                    }
                else:
                    times[name] = round(total, 2)
                print(f"  {name} @ {n}x: {total:.2f}s", flush=True)
            record(family, n, times)
            if family == "ann":
                record_counts(n, lsh_counts(t["embeddings"], planes_for(synth.BASE_VECS * n)))
            print(json.dumps({"family": family, "scale": n, **times}), flush=True)
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("family", choices=sorted(FAMILIES))
    ap.add_argument("--scales", type=lambda s: [int(x) for x in s.split(",")])
    args = ap.parse_args(argv)
    default = sorted(SF_SCALES) if args.family == "registry" else [1, 10, 100]
    run_family(args.family, args.scales or default)


if __name__ == "__main__":
    main()
