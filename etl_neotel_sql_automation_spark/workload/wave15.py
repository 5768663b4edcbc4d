"""Round-6 wave-15 workloads: the operational-readout pass — OOV rate
against a top-K vocabulary (the tokenizer-coverage number an eval
pipeline tracks per source), a sequential-key integrity audit (the
cheapest data-quality check a warehouse runs on every load), exact
inter-arrival-time quartiles via the support-collapsed CDF (the CRM
cadence readout), and a dedup-impact report (what exact dedup costs
each source — the curation summary a data lead reads before approving
the run).

Determinism rules (house style): shares in integer ppm by one floor
division over non-negative operands; interpolated quartiles in exact
quarter-day integers (k/4 fractions clear exactly — the
agg_percentile_cont_exact convention); the vocabulary is top-K by
(count DESC, token ASC) with the tiebreak pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# text_oov_rate — the tokenizer-coverage eval: build the top-K token
# vocabulary from the TRAIN sources (src0..src4, the split literal is
# pinned) and measure each EVAL source's out-of-vocabulary token share.
# The number that says whether a vocabulary trained on one mixture
# transfers to another.
#
# Scale shape: vocabulary candidates aggregate by token (combinable,
# vocab-bounded); the top-K cut is ONE window over token types; the
# K-row vocabulary then anti-joins the eval token stream — a K-bounded
# build side AQE broadcasts on its own (no hint needed, no pinning).
# ---------------------------------------------------------------------------

_OOV_K = 1000
_OOV_TRAIN = ("src0", "src1", "src2", "src3", "src4")


@query(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKS}) AS t FROM documents
    ),
    vc AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok
      WHERE source IN {str(_OOV_TRAIN)}
      GROUP BY t
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY n DESC, t) AS rn FROM vc
      ) WHERE rn <= {_OOV_K}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((1000000 * sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    WHERE source NOT IN {str(_OOV_TRAIN)}
    GROUP BY source ORDER BY source
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token share (ppm) of each eval source against
    the top-1000 vocabulary of the train sources."""
    return oov_rate_frame(table(spark, sf_dir, "documents"))


def oov_rate_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_oov_rate (scaling-probe entry point)."""
    tok = docs.select("source", F.explode(X.tokens(F.col("text"))).alias("t"))
    train = tok.filter(F.col("source").isin(*_OOV_TRAIN))
    vc = train.groupBy("t").agg(F.count("*").cast("bigint").alias("n"))
    vocab = (
        vc.select(
            "t", F.row_number().over(W.orderBy(F.desc("n"), "t")).alias("rn")
        )
        .filter(F.col("rn") <= _OOV_K)
        .select("t")
    )
    ev = tok.filter(~F.col("source").isin(*_OOV_TRAIN))
    return (
        ev.join(vocab.withColumn("_inv", F.lit(1)), "t", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("CAST((1000000 * n_oov) div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dq_sequential_gaps — is the "sequential" key actually sequential?
# Missing keys (holes in [min, max]) and duplicated keys, in one
# combinable aggregate over the key column — the O(scan) load check
# that catches dropped batches and double-loads before anything
# downstream does. No window, no join: expected = max - min + 1,
# missing = expected - distinct, dups = rows - distinct.
# ---------------------------------------------------------------------------


@query(
    "dq_sequential_gaps",
    oracle="""
    SELECT CAST(min(o_orderkey) AS BIGINT) AS key_min,
           CAST(max(o_orderkey) AS BIGINT) AS key_max,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(max(o_orderkey) - min(o_orderkey) + 1
                - count(DISTINCT o_orderkey) AS BIGINT) AS n_missing,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dups
    FROM orders
    """,
)
def dq_sequential_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-key integrity of orderkey: holes in [min, max] and
    duplicate keys, one aggregate, no window."""
    return sequential_gaps_frame(table(spark, sf_dir, "orders"))


def sequential_gaps_frame(orders: DataFrame) -> DataFrame:
    """Frame core of dq_sequential_gaps (scaling-probe entry point)."""
    return orders.agg(
        F.min("o_orderkey").cast("bigint").alias("key_min"),
        F.max("o_orderkey").cast("bigint").alias("key_max"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_distinct"),
        (
            F.max("o_orderkey") - F.min("o_orderkey") + 1
            - F.countDistinct("o_orderkey")
        )
        .cast("bigint")
        .alias("n_missing"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# orders_interarrival_quartiles — customer purchase cadence: the gaps
# (days) between consecutive orders of the same customer, summarized
# as EXACT interpolated quartiles. The lag window is key-partitioned
# (per customer); the quartiles then come off the SUPPORT-COLLAPSED
# gap-day CDF (counts per distinct gap length — bounded by the date
# span, ~2400 values at any corpus size), never a global rank over all
# gaps: position p = (n-1)*k/4 needs only the values at ranks
# floor(p)+1 and ceil(p)+1, each found by one cum-range lookup, and
# v_lo*(4-frac) + v_hi*frac lands in exact quarter-days (the
# agg_percentile_cont_exact convention).
# ---------------------------------------------------------------------------


@query(
    "orders_interarrival_quartiles",
    oracle="""
    WITH g AS (
      SELECT datediff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap
      FROM orders
    ),
    gg AS (SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL),
    c AS (SELECT gap, CAST(count(*) AS BIGINT) AS m FROM gg GROUP BY gap),
    cum AS (
      SELECT gap, m, CAST(sum(m) OVER (ORDER BY gap) AS BIGINT) AS cum
      FROM c
    ),
    t AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM c),
    ks AS (SELECT unnest([1, 2, 3]) AS k),
    pos AS (
      SELECT k,
             ((SELECT n FROM t) - 1) * k // 4 AS i_lo,
             ((SELECT n FROM t) - 1) * k % 4 AS frac
      FROM ks
    ),
    q AS (
      SELECT pos.k, pos.frac,
             (SELECT min(gap) FROM cum
               WHERE cum >= pos.i_lo + 1) AS v_lo,
             (SELECT min(gap) FROM cum
               WHERE cum >= pos.i_lo + (CASE WHEN pos.frac > 0
                                             THEN 2 ELSE 1 END)) AS v_hi
      FROM pos
    )
    SELECT q.k AS quartile, t.n AS n_gaps,
           CAST(q.v_lo * (4 - q.frac) + q.v_hi * q.frac AS BIGINT)
             AS gap_quarterdays
    FROM q CROSS JOIN t
    ORDER BY quartile
    """,
)
def orders_interarrival_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles (quarter-days) of per-customer
    inter-order gaps, off the support-collapsed gap CDF."""
    return interarrival_quartiles_frame(table(spark, sf_dir, "orders"))


def interarrival_quartiles_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_interarrival_quartiles (probe entry)."""
    wc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        F.datediff("o_orderdate", F.lag("o_orderdate").over(wc)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    c = g.groupBy(F.col("gap").cast("bigint").alias("gap")).agg(
        F.count("*").cast("bigint").alias("m")
    )
    cum = c.select(
        "gap", "m", F.sum("m").over(W.orderBy("gap")).cast("bigint").alias("cum")
    )
    t = c.agg(F.sum("m").cast("bigint").alias("n"))
    ks = orders.sparkSession.createDataFrame([(1,), (2,), (3,)], "k bigint")
    pos = ks.crossJoin(F.broadcast(t)).select(  # 1-row total
        "k",
        "n",
        F.expr("(n - 1) * k div 4").alias("i_lo"),
        F.expr("(n - 1) * k % 4").alias("frac"),
    )
    lo = (
        pos.join(cum, F.col("cum") >= F.col("i_lo") + 1)
        .groupBy("k", "n", "frac")
        .agg(F.min("gap").cast("bigint").alias("v_lo"))
    )
    hi = (
        pos.join(
            cum,
            F.col("cum")
            >= F.col("i_lo") + F.when(F.col("frac") > 0, 2).otherwise(1),
        )
        .groupBy("k")
        .agg(F.min("gap").cast("bigint").alias("v_hi"))
    )
    return (
        lo.join(hi, "k")
        .select(
            F.col("k").alias("quartile"),
            F.col("n").alias("n_gaps"),
            F.expr("CAST(v_lo * (4 - frac) + v_hi * frac AS BIGINT)").alias(
                "gap_quarterdays"
            ),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# quality_dedup_impact — what exact dedup costs each source: run the
# registered fingerprint dedup (normalized md5, min-id keeper) and
# report per source how many documents and tokens the keeper policy
# REMOVES — the curation summary that decides whether a source is
# mostly mirrors (drop it) or mostly original (keep it).
#
# Scale shape: one fingerprint aggregate (combinable) marks keepers;
# the per-source readout is one more combinable aggregate. Nothing
# pairwise — this is the exact-dedup family's decision layer.
# ---------------------------------------------------------------------------


@query(
    "quality_dedup_impact",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp)
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.doc_id != k.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(sum(f.nt) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f.doc_id != k.keep_id THEN f.nt ELSE 0 END)
                AS BIGINT) AS tokens_removed,
           CAST((1000000 * sum(CASE WHEN f.doc_id != k.keep_id
                                    THEN f.nt ELSE 0 END))
                // greatest(1, sum(f.nt)) AS BIGINT) AS token_loss_ppm
    FROM f JOIN k ON f.fp = k.fp
    GROUP BY f.source ORDER BY f.source
    """,
)
def quality_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document/token loss under exact fingerprint dedup
    (min-id keeper) — the dedup run's curation summary."""
    return dedup_impact_frame(table(spark, sf_dir, "documents"))


def dedup_impact_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_dedup_impact (scaling-probe entry)."""
    f = docs.select(
        "doc_id",
        "source",
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("nt"),
        X.fingerprint_md5(F.col("text")).alias("fp"),
    )
    k = f.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    removed = F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0)
    return (
        f.join(k, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(removed).cast("bigint").alias("n_removed"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("doc_id") != F.col("keep_id"), F.col("nt")).otherwise(0)
            )
            .cast("bigint")
            .alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_removed",
            "n_tokens",
            "tokens_removed",
            F.expr(
                "CAST((1000000 * tokens_removed) div greatest(1, n_tokens)"
                " AS BIGINT)"
            ).alias("token_loss_ppm"),
        )
        .orderBy("source")
    )
