"""Round-7 wave-31 workloads: rank-aware retrieval metrology — the
binary-rerank path (wave-24) already ships a recall meter, but recall
is position-blind: a system that returns the true #1 at rank 10 scores
the same as one that returns it at rank 1. These queries add the
standard IR position-aware metrics against the exact cosine top-10 as
graded ground truth (relevance = 11 - exact_rank):

- emb_rerank_rank_metrics — per-query MRR (reciprocal rank of the true
  #1 neighbor), NDCG@10 (graded, log2 discount), and MAP@10 (binary
  relevance = exact-top-10 membership), each in ppm, plus the pooled
  means. This is the meter a user tunes the candidate pool against
  when position — not just membership — is the SLO.
- emb_rerank_pr_curve — the pooled precision@i / recall@i curve for
  i = 1..10: the 10-row table a user reads to pick k.

Determinism rules (house style): every metric is integer arithmetic.
The log2 discounts are TEN module-init integer constants
round(1e9 / log2(i+1)) baked verbatim into both engines' texts (no
runtime transcendentals to disagree on); IDCG@10 for a full graded
list is itself a constant. Average precision uses the LCM(1..10)=2520
trick so precision@i sums stay integral. Pooled means are ppm with
floor division on both engines.

Scale notes: both queries are metric layers over the rerank frame's
candidate-bounded join (Hamming top-500 per query, queries
literally bounded at 5); the added work is one broadcast-size left
join against the exact top-10 (50 rows) and a 10-position window.
At 100 TB the metering recipe is the hash-sampled twin pattern
(sim_margin_quality_sampled precedent) — registered here (r8) as
emb_rerank_rank_metrics_sampled / emb_rerank_pr_curve_sampled: the
CORPUS side is restricted to a deterministic md5 hash-sample before
BOTH legs (the Hamming candidate generator and the exact cosine
truth), so the sampled metric is the exact metric ON the sample — an
unbiased estimate of the corpus metric whose exact-leg cost scales
with |sample| instead of |corpus|.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import query, table
from ..ops.hashing import sql_md5_long
from .wave23 import _BH_K, _BH_QUERIES
from .wave24 import _rerank_sql, binary_rerank_frame

# integer log2 discounts: INVD[i] = round(1e9 / log2(i+1)), i = 1.._BH_K.
# Computed once from literals at import and injected verbatim into BOTH
# engines' SQL texts, so no runtime log2 can disagree in the last ulp.
_INVD = tuple(round(1e9 / math.log2(i + 1)) for i in range(1, _BH_K + 1))
# ideal DCG of a full graded list (rel 10..1 at ranks 1..10) — constant
_IDCG = sum((_BH_K - i) * _INVD[i] for i in range(_BH_K))
_LCM = 2520  # LCM(1..10): makes every precision@i numerator integral


def _invd_case(col: str) -> str:
    """CASE mapping rank -> 1e9/log2(rank+1) constants (both engines)."""
    whens = " ".join(
        f"WHEN {i + 1} THEN CAST({v} AS BIGINT)" for i, v in enumerate(_INVD)
    )
    return f"(CASE {col} {whens} ELSE CAST(0 AS BIGINT) END)"


def _metrics_select(idiv: str) -> str:
    """The shared metric CTE chain; `idiv` is the engine's integer-div
    operator ('//' DuckDB, 'div' Spark)."""
    return f"""
    , met AS (
      SELECT rer.qid, rer.rnk,
             CAST(CASE WHEN exact.n_id IS NOT NULL
                       THEN {_BH_K} + 1 - exact.e_rnk ELSE 0 END AS BIGINT)
               AS rel,
             CAST(CASE WHEN exact.n_id IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS hit,
             CASE WHEN exact.e_rnk = 1 THEN rer.rnk END AS rr_rank
      FROM rer LEFT JOIN exact
        ON rer.qid = exact.qid AND rer.n_id = exact.n_id
    ),
    pos AS (
      SELECT qid, rnk, rel, hit, rr_rank,
             SUM(hit) OVER (PARTITION BY qid ORDER BY rnk) AS hits_at
      FROM met
    ),
    perq AS (
      SELECT qid,
             CAST(coalesce(1000000 {idiv} min(rr_rank), 0) AS BIGINT)
               AS rr_ppm,
             CAST((1000000 * sum(rel * {_invd_case('rnk')}))
                  {idiv} {_IDCG} AS BIGINT) AS ndcg_ppm,
             CAST((1000000 * sum(CASE WHEN hit = 1
                                      THEN hits_at * ({_LCM} {idiv} rnk)
                                      ELSE 0 END))
                  {idiv} ({_LCM} * {_BH_K}) AS BIGINT) AS ap_ppm
      FROM pos GROUP BY qid
    )
    SELECT qid, rr_ppm, ndcg_ppm, ap_ppm,
           CAST(sum(rr_ppm) OVER () {idiv} {_BH_QUERIES} AS BIGINT)
             AS mean_rr_ppm,
           CAST(sum(ndcg_ppm) OVER () {idiv} {_BH_QUERIES} AS BIGINT)
             AS mean_ndcg_ppm,
           CAST(sum(ap_ppm) OVER () {idiv} {_BH_QUERIES} AS BIGINT)
             AS map_ppm
    FROM perq ORDER BY qid
    """


@query("emb_rerank_rank_metrics", oracle=_rerank_sql(_metrics_select("//")))
def emb_rerank_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware retrieval meters for the binary-rerank path:
    per-query MRR / NDCG@10 / AP@10 vs the exact cosine top-10, plus
    the pooled means, all integer ppm."""
    return rank_metrics_frame(table(spark, sf_dir, "embeddings"))


def _met_frame(emb: DataFrame) -> DataFrame:
    """(qid, rnk, rel, hit, rr_rank, hits_at) — the shared metric
    join: rerank positions left-joined to the exact graded truth."""
    from ..ops import similarity as S

    rer = binary_rerank_frame(emb).select("qid", "rnk", "neighbor")
    exact = S.brute_force_topk(
        emb.filter(F.col("vec_id") >= _BH_QUERIES),
        emb.filter(F.col("vec_id") < _BH_QUERIES),
        k=_BH_K,
    ).select(
        F.col("q_id").alias("qid"),
        F.col("n_id").alias("neighbor"),
        F.col("rank").alias("e_rnk"),
    )
    met = rer.join(exact, ["qid", "neighbor"], "left").select(
        "qid",
        "rnk",
        F.expr(
            f"CAST(CASE WHEN e_rnk IS NOT NULL THEN {_BH_K} + 1 - e_rnk"
            " ELSE 0 END AS BIGINT)"
        ).alias("rel"),
        F.expr(
            "CAST(CASE WHEN e_rnk IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("hit"),
        F.expr("CASE WHEN e_rnk = 1 THEN rnk END").alias("rr_rank"),
    )
    wc = W.partitionBy("qid").orderBy("rnk")
    return met.withColumn("hits_at", F.sum("hit").over(wc))


def metrics_over_positions(pos: DataFrame, n_queries: int) -> DataFrame:
    """MRR/NDCG/AP metric layer over a (qid, rnk, rel, hit, rr_rank,
    hits_at) positions frame — split out so fixtures can feed a
    hand-computed ranking."""
    perq = pos.groupBy("qid").agg(
        F.expr("CAST(coalesce(1000000 div min(rr_rank), 0) AS BIGINT)").alias(
            "rr_ppm"
        ),
        F.expr(
            f"CAST((1000000 * sum(rel * {_invd_case('rnk')})) div {_IDCG}"
            " AS BIGINT)"
        ).alias("ndcg_ppm"),
        F.expr(
            f"CAST((1000000 * sum(CASE WHEN hit = 1 THEN hits_at *"
            f" ({_LCM} div rnk) ELSE 0 END)) div ({_LCM} * {_BH_K})"
            " AS BIGINT)"
        ).alias("ap_ppm"),
    )
    # pooled means as an unpartitioned window over the <=|queries|-row
    # per-query frame: ONE pass — the 1-row-aggregate crossJoin shape
    # recomputes the whole rerank+exact branch per consumer (measured
    # 176 s vs 72 s for the pool-free PR curve at the 100x probe)
    return perq.select(
        "qid",
        "rr_ppm",
        "ndcg_ppm",
        "ap_ppm",
        F.expr(
            f"CAST(sum(rr_ppm) OVER () div {n_queries} AS BIGINT)"
        ).alias("mean_rr_ppm"),
        F.expr(
            f"CAST(sum(ndcg_ppm) OVER () div {n_queries} AS BIGINT)"
        ).alias("mean_ndcg_ppm"),
        F.expr(
            f"CAST(sum(ap_ppm) OVER () div {n_queries} AS BIGINT)"
        ).alias("map_ppm"),
    ).orderBy("qid")


def rank_metrics_frame(emb: DataFrame) -> DataFrame:
    """Frame core of emb_rerank_rank_metrics (scaling-probe entry)."""
    return metrics_over_positions(_met_frame(emb), _BH_QUERIES)


# ---------------------------------------------------------------------------
# emb_rerank_pr_curve — pooled precision@i / recall@i for i = 1..k:
# at each cutoff i, precision = hits within the first i positions over
# i * |queries|, recall = the same hits over k * |queries| (ground
# truth has exactly k relevant per query). The 10-row curve a user
# reads to pick k for their precision/recall SLO.
# ---------------------------------------------------------------------------


_PR_SELECT = f"""
    , met AS (
      SELECT rer.qid, rer.rnk,
             CAST(CASE WHEN exact.n_id IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS hit
      FROM rer LEFT JOIN exact
        ON rer.qid = exact.qid AND rer.n_id = exact.n_id
    ),
    cuts AS (SELECT unnest(range(1, {_BH_K} + 1)) AS cutoff),
    pooled AS (
      SELECT cuts.cutoff, sum(met.hit) AS n_hits
      FROM cuts JOIN met ON met.rnk <= cuts.cutoff
      GROUP BY cuts.cutoff
    )
    SELECT CAST(cutoff AS INTEGER) AS cutoff,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST((1000000 * n_hits) // (cutoff * {_BH_QUERIES}) AS BIGINT)
             AS precision_ppm,
           CAST((1000000 * n_hits) // ({_BH_K} * {_BH_QUERIES}) AS BIGINT)
             AS recall_ppm
    FROM pooled ORDER BY cutoff
    """


@query("emb_rerank_pr_curve", oracle=_rerank_sql(_PR_SELECT))
def emb_rerank_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled precision@i / recall@i curve (i = 1..10) of the
    binary-rerank retrieval vs the exact cosine top-10."""
    return pr_curve_frame(table(spark, sf_dir, "embeddings"))


def pr_curve_frame(emb: DataFrame) -> DataFrame:
    """Frame core of emb_rerank_pr_curve (scaling-probe entry)."""
    met = _met_frame(emb).select("qid", "rnk", "hit")
    cuts = F.broadcast(
        met.sparkSession.range(1, _BH_K + 1).select(
            F.col("id").cast("int").alias("cutoff")
        )
    )
    pooled = (
        met.join(cuts, met.rnk <= cuts.cutoff)
        .groupBy("cutoff")
        .agg(F.sum("hit").cast("bigint").alias("n_hits"))
    )
    return pooled.select(
        "cutoff",
        "n_hits",
        F.expr(
            f"CAST((1000000 * n_hits) div (cutoff * {_BH_QUERIES}) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            f"CAST((1000000 * n_hits) div ({_BH_K} * {_BH_QUERIES})"
            " AS BIGINT)"
        ).alias("recall_ppm"),
    ).orderBy("cutoff")


# ---------------------------------------------------------------------------
# Sampled twins (r8) — the 100 TB metering recipe the module docstring
# prescribed, registered as executable oracle-checked queries (the
# sim_margin_quality_sampled precedent, corpus_mining.py:1458): the
# CORPUS side (vec_id >= |queries|) is restricted to a deterministic
# md5 hash-sample BEFORE both legs — the Hamming candidate generator
# AND the exact cosine ground truth — so both legs rank the identical
# sampled population and the metric is the exact metric ON the sample:
# an unbiased estimate of the production number under a uniform hash
# sample. The exact leg's brute-force cost drops from |queries|x|corpus|
# to |queries|x|sample|; at 100 TB you tighten the modulus until the
# validation pass fits its budget. The sample filter sits under the
# corpus scans, plan-visibly (tests/test_plans.py
# test_rerank_sampled_filter_below_exact_leg).
# ---------------------------------------------------------------------------

_RRM_SAMPLE_MOD = 4


def _rerank_sampled_sql(select_clause: str) -> str:
    """The _rerank_sql text with every embeddings scan replaced by the
    hash-sampled view (queries always kept; corpus ids kept when the
    md5_long is 0 mod _RRM_SAMPLE_MOD — the exact predicate of
    corpus_mining._margin_sides_sql)."""
    sampled = (
        f"(SELECT * FROM embeddings WHERE vec_id < {_BH_QUERIES}"
        f" OR {sql_md5_long('vec_id')} % {_RRM_SAMPLE_MOD} = 0) embs"
    )
    return _rerank_sql(select_clause).replace(
        "FROM embeddings", f"FROM {sampled}"
    )


def sampled_emb(emb: DataFrame) -> DataFrame:
    """Spark twin of the sampled view: keep every query vector and the
    md5 hash-sample of the corpus (the DuckDB predicate's md5_long, so
    both engines keep identical ids)."""
    from .corpus_mining import _margin_sample_pred

    return emb.filter(
        (F.col("vec_id") < _BH_QUERIES)
        | _margin_sample_pred(_RRM_SAMPLE_MOD)
    )


@query(
    "emb_rerank_rank_metrics_sampled",
    oracle=_rerank_sampled_sql(_metrics_select("//")),
)
def emb_rerank_rank_metrics_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hash-sampled twin of emb_rerank_rank_metrics: MRR / NDCG@10
    / AP@10 of the rerank path vs the exact top-10, both computed on
    the md5-sampled corpus — the exact leg scans only the sample."""
    return rank_metrics_sampled_frame(table(spark, sf_dir, "embeddings"))


def rank_metrics_sampled_frame(emb: DataFrame) -> DataFrame:
    """Frame core of emb_rerank_rank_metrics_sampled (probe entry)."""
    return rank_metrics_frame(sampled_emb(emb))


@query(
    "emb_rerank_pr_curve_sampled",
    oracle=_rerank_sampled_sql(_PR_SELECT),
)
def emb_rerank_pr_curve_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hash-sampled twin of emb_rerank_pr_curve: the pooled
    precision@i / recall@i curve on the md5-sampled corpus."""
    return pr_curve_sampled_frame(table(spark, sf_dir, "embeddings"))


def pr_curve_sampled_frame(emb: DataFrame) -> DataFrame:
    """Frame core of emb_rerank_pr_curve_sampled (probe entry)."""
    return pr_curve_frame(sampled_emb(emb))
