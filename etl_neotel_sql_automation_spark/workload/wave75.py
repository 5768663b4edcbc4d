"""Round-9 wave-75 workloads: three sampling/robust-estimation
operators a 100 TB curation run leans on and the registry did not yet
carry —

- sample_weighted_reservoir — Efraimidis–Spirakis A-ES weighted
  sampling without replacement: ONE pass, each row keyed by
  ln(u)/w with a deterministic md5-derived u, global top-k by key.
  The distributed-sampling workhorse (pick k docs proportional to
  length/quality weight) whose naive alternative is a full sort by
  a random number per epoch.
- agg_median_of_means — the robust location estimator: 32 md5 buckets,
  exact-integer bucket means, median read at a pinned rank. Heavy-tail
  resistant where the plain mean is one corrupted shard away from
  garbage; same one-wide-pass + 32-row-shuffle shape as the
  bit-sliced bootstrap.
- text_doc_perplexity — per-document cross-entropy (micro-nats/token)
  under the corpus's own Laplace-smoothed unigram LM: the classic
  "which documents look nothing like the corpus" curation surprise
  meter (high = gibberish/outlier, low = boilerplate).

Determinism (house style): u is the md5_long 60-bit integer mapped to
(0, 1] by an exact power-of-two division; every ln() is applied to
the same integer-derived rational on both engines and rounded to
micro-units PER TERM (the insights.py entropy recipe); ranks and
medians are pinned at explicit row numbers with integer tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops.hashing import md5_long, sql_md5_long

_RES_K = 20
_TWO60 = 1 << 60
_MOM_B = 32
_MOM_RANKS = (16, 17)  # median of 32 ordered bucket means (avg of both)


# ---------------------------------------------------------------------------
# sample_weighted_reservoir — A-ES (Efraimidis & Spirakis 2006): a
# weighted sample without replacement is the top-k rows by u^(1/w),
# u ~ U(0,1] — equivalently by ln(u)/w, which keeps the arithmetic in
# one ln and one division. u = (md5_long(key)+1)/2^60 is deterministic
# and identical across engines, runs, partitionings, and appends.
#
# Scale shape: one scan computing the key, then a global top-k —
# Spark plans orderBy+limit as TakeOrderedAndProject (per-partition
# heaps + a k-row driver merge), never a full sort. At 100 TB the
# sample is reproducible because the randomness is IN THE DATA (hash),
# not in the executor RNG state.
# ---------------------------------------------------------------------------


def weighted_reservoir_frame(orders: DataFrame, k: int = _RES_K) -> DataFrame:
    """Frame core of sample_weighted_reservoir (scaling-probe entry)."""
    keyed = orders.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("w_cents"),
        md5_long(F.col("o_orderkey")).alias("h"),
    ).select(
        "o_orderkey",
        "w_cents",
        # ln(u)/w in integer micro-units; u in (0, 1] so the key is
        # <= 0 and LARGER (closer to 0) means selected
        F.expr(
            f"CAST(round(1.0e6 * ln((h + 1) / {float(_TWO60)}) / w_cents)"
            " AS BIGINT)"
        ).alias("key_micro"),
    )
    return (
        keyed.orderBy(
            F.col("key_micro").desc(), F.col("o_orderkey").asc()
        )
        .limit(k)
        .select(
            "o_orderkey",
            "w_cents",
            "key_micro",
            F.row_number()
            .over(W.orderBy(F.col("key_micro").desc(), F.col("o_orderkey").asc()))
            .cast("int")
            .alias("rank"),
        )
    )


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
             CAST(round(1.0e6 * ln(({sql_md5_long("o_orderkey")} + 1)
                                   / {float(_TWO60)}) /
                        CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS key_micro
      FROM orders
    )
    SELECT o_orderkey, w_cents, key_micro,
           CAST(row_number() OVER (ORDER BY key_micro DESC, o_orderkey)
                AS INTEGER) AS rank
    FROM keyed
    ORDER BY key_micro DESC, o_orderkey
    LIMIT {_RES_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted reservoir sample of 20 orders with
    selection probability proportional to order value: one pass keying
    each row by ln(u)/w (u = deterministic md5 uniform), global top-k
    by key — reproducible weighted sampling with no RNG state, the
    shape that samples 100 TB in a single scan."""
    return weighted_reservoir_frame(table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# agg_median_of_means — split rows into 32 deterministic md5 buckets,
# average each in exact millicents, report the median bucket mean
# (avg of pinned ranks 16/17). One corrupted bucket moves the MoM by
# at most one rank — the plain mean has unbounded sensitivity.
# ---------------------------------------------------------------------------


def median_of_means_frame(orders: DataFrame) -> DataFrame:
    """Frame core of agg_median_of_means (scaling-probe entry)."""
    b = (
        orders.select(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
            (md5_long(F.col("o_orderkey")) % _MOM_B).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.expr(
                "CAST((1000 * sum(cents)) div count(*) AS BIGINT)"
            ).alias("bucket_mean_millicents"),
            F.count("*").cast("bigint").alias("bucket_n"),
        )
    )
    ranked = b.select(
        "bucket_mean_millicents",
        "bucket_n",
        F.row_number()
        .over(W.orderBy("bucket_mean_millicents", "b"))
        .alias("rn"),
    )
    lo, hi = _MOM_RANKS
    agg = ranked.agg(
        F.expr(
            f"CAST((max(CASE WHEN rn = {lo} THEN bucket_mean_millicents END)"
            f" + max(CASE WHEN rn = {hi} THEN bucket_mean_millicents END))"
            " div 2 AS BIGINT)"
        ).alias("mom_millicents"),
        F.min("bucket_mean_millicents").alias("bucket_min_millicents"),
        F.max("bucket_mean_millicents").alias("bucket_max_millicents"),
        F.min("bucket_n").cast("bigint").alias("min_bucket_n"),
    )
    point = orders.agg(
        F.expr(
            "CAST((1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))"
            " div count(*) AS BIGINT)"
        ).alias("mean_millicents")
    )
    return point.crossJoin(F.broadcast(agg)).select(  # two 1-row aggregates
        "mean_millicents",
        "mom_millicents",
        "bucket_min_millicents",
        "bucket_max_millicents",
        "min_bucket_n",
        F.lit(_MOM_B).cast("bigint").alias("n_buckets"),
    )


@query(
    "agg_median_of_means",
    oracle=f"""
    WITH b AS (
      SELECT {sql_md5_long("o_orderkey")} % {_MOM_B} AS b,
             CAST((1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))
                  // count(*) AS BIGINT) AS bucket_mean_millicents,
             CAST(count(*) AS BIGINT) AS bucket_n
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT bucket_mean_millicents, bucket_n,
             row_number() OVER (ORDER BY bucket_mean_millicents, b) AS rn
      FROM b
    ),
    agg AS (
      SELECT CAST((max(CASE WHEN rn = {_MOM_RANKS[0]}
                           THEN bucket_mean_millicents END)
                   + max(CASE WHEN rn = {_MOM_RANKS[1]}
                              THEN bucket_mean_millicents END)) // 2
                  AS BIGINT) AS mom_millicents,
             min(bucket_mean_millicents) AS bucket_min_millicents,
             max(bucket_mean_millicents) AS bucket_max_millicents,
             CAST(min(bucket_n) AS BIGINT) AS min_bucket_n
      FROM ranked
    ),
    point AS (
      SELECT CAST((1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))
                  // count(*) AS BIGINT) AS mean_millicents
      FROM orders
    )
    SELECT mean_millicents, mom_millicents, bucket_min_millicents,
           bucket_max_millicents, min_bucket_n,
           CAST({_MOM_B} AS BIGINT) AS n_buckets
    FROM point, agg
    """,
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean of order value: 32 deterministic
    md5 buckets, exact-integer bucket means, median pinned at ranks
    16/17 — beside the plain mean and the bucket envelope. One wide
    combinable pass and a 32-row shuffle at any scale."""
    return median_of_means_frame(table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# text_doc_perplexity — cross-entropy of each document under the
# corpus unigram LM, Laplace-smoothed: H_d = (1/N_d) * sum over doc
# tokens of ln((CT + V) / (c_tok + 1)), in micro-nats per token.
# Every ln argument is the same integer-derived rational on both
# engines; terms are rounded per token occurrence, and every term is
# > 0 (CT + V > c + 1 always, since V counts each type once).
#
# Scale shape: token explode -> (token) count aggregate (combinable),
# an equi-join of doc tokens against the count table, a 1-row corpus
# total broadcast, one per-doc combinable aggregate. No driver math.
# ---------------------------------------------------------------------------


def doc_perplexity_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_doc_perplexity (scaling-probe entry)."""
    from ..ops.text import tokens

    tok = docs.select(
        F.col("doc_id").alias("id"), F.explode(tokens("text")).alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("bigint").alias("ct"),
        F.count("*").cast("bigint").alias("v"),
    )
    scored = (
        tok.join(counts, "tok")
        .crossJoin(F.broadcast(totals))  # 1-row corpus totals
        .select(
            "id",
            F.expr(
                "CAST(round(ln((ct + v) * 1.0e0 / (c + 1)) * 1.0e6)"
                " AS BIGINT)"
            ).alias("term"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.expr("CAST(sum(term) div count(*) AS BIGINT)").alias(
                "xent_micronat"
            ),
        )
        .select(
            F.col("id").alias("doc_id"), "n_tokens", "xent_micronat"
        )
        .orderBy("doc_id")
    )


@query(
    "text_doc_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    totals AS (
      SELECT CAST(sum(c) AS BIGINT) AS ct,
             CAST(count(*) AS BIGINT) AS v
      FROM counts
    )
    SELECT id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(round(ln((ct + v) * 1.0e0 / (c + 1)) * 1.0e6)
                         AS BIGINT)) // count(*) AS BIGINT)
             AS xent_micronat
    FROM tok JOIN counts USING (tok), totals
    GROUP BY id
    ORDER BY doc_id
    """,
)
def text_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (micro-nats per token) under the
    corpus's own Laplace-smoothed unigram LM — the curation surprise
    meter: high = the document looks nothing like the corpus
    (gibberish, wrong language, corruption), low = boilerplate. Token
    counts are one combinable aggregate; corpus totals a 1-row
    broadcast; scoring an equi-join."""
    return doc_perplexity_frame(table(spark, sf_dir, "documents"))
