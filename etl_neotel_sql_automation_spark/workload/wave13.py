"""Round-6 wave-13 workloads: the nonparametric-statistics pass —
exact 1-D Wasserstein (earth-mover) drift between the same two order
windows the PSI monitor compares (bin-free, so it catches shifts PSI's
fixed bins smear), a Mann-Whitney rank-sum test with exact tie-averaged
ranks (the distribution-free A/B readout when means lie), and
per-source lexical diversity (type-token ratio, hapax rate — the
corpus-health numbers a mixture designer reads next to cross-BLEU).

Determinism rules (house style, see workload/__init__ docstring):
CDFs in integer ppm by one floor division (operands non-negative, so
Spark ``div`` and DuckDB ``//`` agree); tie-averaged ranks carried
DOUBLED so .5 averages stay integers; money quantized to whole dollars
per row before any distribution work.

Scale notes: both nonparametric stats aggregate BY VALUE first
(combinable), so their windows run over the bounded value SUPPORT
(distinct dollar amounts / distinct cents), not the row count — the
classic trick that makes exact rank statistics feasible at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# quality_wasserstein_drift — exact W1 between the pre-1998 and 1998+
# order-value distributions: W1 = integral |F_ref - F_cur| dv over the
# merged support. Values quantize to whole dollars per row FIRST, so
# the support (and the single CDF window) is bounded by the value
# DOMAIN (~600k dollar points at any corpus size), never by row count;
# the per-value counts underneath are one combinable aggregate. CDF
# shares in integer ppm; each term |F_ref - F_cur| * gap lands in
# exact micro-dollars.
#
# Beside quality_psi_drift on purpose: PSI over 6 fixed bins smears
# within-bin shifts; W1 is bin-free and metric-aware (a $10 shift
# costs 10x a $1 shift). Same split literal, same table — the two
# monitors differ only in what they can see.
# ---------------------------------------------------------------------------


@query(
    "quality_wasserstein_drift",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS is_ref
      FROM orders
    ),
    c AS (
      SELECT v,
             CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
      FROM q GROUP BY v
    ),
    t AS (
      SELECT CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
             CAST(sum(cur_cnt) AS BIGINT) AS n_cur,
             CAST(count(*) AS BIGINT) AS n_support
      FROM c
    ),
    cdf AS (
      SELECT v,
             CAST(sum(ref_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_ref,
             CAST(sum(cur_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_cur,
             lead(v) OVER (ORDER BY v) AS nxt
      FROM c
    ),
    terms AS (
      SELECT abs((1000000 * cum_ref) // (SELECT n_ref FROM t)
                 - (1000000 * cum_cur) // (SELECT n_cur FROM t))
             * (nxt - v) AS term
      FROM cdf WHERE nxt IS NOT NULL
    )
    SELECT t.n_ref, t.n_cur, t.n_support,
           (SELECT CAST(coalesce(sum(term), 0) AS BIGINT) FROM terms)
             AS w1_microdollars
    FROM t
    """,
)
def quality_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact earth-mover distance (micro-dollars) between the
    pre-1998 and 1998+ order-value distributions, computed over the
    dollar-quantized value support."""
    return wasserstein_frame(table(spark, sf_dir, "orders"))


def wasserstein_frame(orders: DataFrame) -> DataFrame:
    """Frame core of quality_wasserstein_drift — the exact registered
    body over any orders-shaped frame (scaling-probe entry point)."""
    q = orders.select(
        F.floor("o_totalprice").cast("bigint").alias("v"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    c = q.groupBy("v").agg(
        F.sum("is_ref").cast("bigint").alias("ref_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("bigint").alias("cur_cnt"),
    )
    t = c.agg(
        F.sum("ref_cnt").cast("bigint").alias("n_ref"),
        F.sum("cur_cnt").cast("bigint").alias("n_cur"),
        F.count("*").cast("bigint").alias("n_support"),
    )
    wv = W.orderBy("v")
    cdf = c.select(
        "v",
        F.sum("ref_cnt").over(wv).cast("bigint").alias("cum_ref"),
        F.sum("cur_cnt").over(wv).cast("bigint").alias("cum_cur"),
        F.lead("v").over(wv).alias("nxt"),
    )
    terms = (
        cdf.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(t))  # 1-row totals
        .select(
            (
                F.abs(
                    F.expr("(1000000 * cum_ref) div n_ref")
                    - F.expr("(1000000 * cum_cur) div n_cur")
                )
                * (F.col("nxt") - F.col("v"))
            ).alias("term")
        )
    )
    w1 = terms.agg(
        F.coalesce(F.sum("term"), F.lit(0)).cast("bigint").alias("w1_microdollars")
    )
    return t.crossJoin(F.broadcast(w1)).select(  # two 1-row aggregates
        "n_ref", "n_cur", "n_support", "w1_microdollars"
    )


# ---------------------------------------------------------------------------
# agg_mann_whitney — the distribution-free two-sample test: does the
# URGENT priority ship different order values than the rest? U is
# computed from tie-averaged ranks carried DOUBLED (avg rank of a tie
# run = preceding + (count+1)/2, so 2*rank = 2*preceding + count + 1 —
# always an integer), built per distinct VALUE (combinable counts, the
# rank window runs over the bounded support). The effect size is the
# probability-of-superiority AUC = U / (n1*n2) in ppm — the number a
# reviewer reads when means are outlier-hostage.
# ---------------------------------------------------------------------------


@query(
    "agg_mann_whitney",
    oracle="""
    WITH q AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
    ),
    c AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS cnt_a,
             CAST(sum(1 - g) AS BIGINT) AS cnt_b
      FROM q GROUP BY v
    ),
    r AS (
      SELECT v, cnt_a, cnt_b,
             CAST(2 * (sum(cnt_a + cnt_b) OVER (ORDER BY v)
                       - (cnt_a + cnt_b)) + (cnt_a + cnt_b) + 1
                  AS BIGINT) AS avgrank_x2
      FROM c
    ),
    s AS (
      SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt_b) AS BIGINT) AS n_b,
             CAST(sum(cnt_a * avgrank_x2) AS BIGINT) AS r_a_x2
      FROM r
    )
    SELECT n_a AS n_urgent, n_b AS n_other,
           CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_urgent_x2,
           CAST(2 * n_a * n_b - (r_a_x2 - n_a * (n_a + 1)) AS BIGINT)
             AS u_other_x2,
           CAST((1000000 * (r_a_x2 - n_a * (n_a + 1)))
                // (2 * n_a * n_b) AS BIGINT) AS auc_ppm
    FROM s
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (doubled, tie-exact) and probability-of-
    superiority AUC ppm for URGENT vs other order values."""
    return mann_whitney_frame(table(spark, sf_dir, "orders"))


def mann_whitney_frame(orders: DataFrame) -> DataFrame:
    """Frame core of agg_mann_whitney (scaling-probe entry point)."""
    q = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    c = q.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("cnt_a"),
        F.sum(F.lit(1) - F.col("g")).cast("bigint").alias("cnt_b"),
    )
    wv = W.orderBy("v")
    r = c.select(
        "cnt_a",
        F.expr(
            "CAST(2 * (sum(cnt_a + cnt_b) OVER (ORDER BY v)"
            " - (cnt_a + cnt_b)) + (cnt_a + cnt_b) + 1 AS BIGINT)"
        ).alias("avgrank_x2"),
        "cnt_b",
    )
    s = r.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("avgrank_x2")).cast("bigint").alias("r_a_x2"),
    )
    return s.select(
        F.col("n_a").alias("n_urgent"),
        F.col("n_b").alias("n_other"),
        F.expr("CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT)").alias("u_urgent_x2"),
        F.expr(
            "CAST(2 * n_a * n_b - (r_a_x2 - n_a * (n_a + 1)) AS BIGINT)"
        ).alias("u_other_x2"),
        F.expr(
            "CAST((1000000 * (r_a_x2 - n_a * (n_a + 1)))"
            " div (2 * n_a * n_b) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# text_lexical_diversity — per-source corpus health: type-token ratio,
# hapax (once-only type) share, and mean token length. The numbers
# that separate a template farm (low TTR, few hapaxes) from organic
# text, read next to corpus_cross_bleu when weighting a mixture.
#
# Scale shape: one tokenize/explode pass into (source, token) counts —
# combinable, bounded by vocabulary x sources, with every per-source
# readout one aggregate over that bounded frame.
# ---------------------------------------------------------------------------


@query(
    "text_lexical_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKS}) AS t FROM documents
    ),
    c AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(len(t)) AS BIGINT) AS chars
      FROM tok GROUP BY source, t
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST((1000000 * count(*)) // sum(n) AS BIGINT) AS ttr_ppm,
           CAST((1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS hapax_ppm,
           CAST((1000 * sum(chars)) // sum(n) AS BIGINT)
             AS mean_token_millichars
    FROM c GROUP BY source ORDER BY source
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio, hapax share, and mean token length
    (integer ppm / millichars)."""
    return lexical_diversity_frame(table(spark, sf_dir, "documents"))


def lexical_diversity_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_lexical_diversity (scaling-probe entry)."""
    tok = docs.select(
        "source", F.explode(X.tokens(F.col("text"))).alias("t")
    )
    c = tok.groupBy("source", "t").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.length("t")).cast("bigint").alias("chars"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.expr("CAST((1000000 * count(*)) div sum(n) AS BIGINT)").alias(
                "ttr_ppm"
            ),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("hapax_ppm"),
            F.expr("CAST((1000 * sum(chars)) div sum(n) AS BIGINT)").alias(
                "mean_token_millichars"
            ),
        )
        .orderBy("source")
    )
