"""Round-6 wave-14 workloads: planner- and tokenizer-side estimation —
join-size estimation via count-min-sketch inner product (the classic
AMS/CMS application: predict |A JOIN B| from two fixed-size sketches
BEFORE paying the key shuffle, with the exact answer computed beside
it and the one-sided error metered), the Kolmogorov-Smirnov statistic
completing the drift trio (PSI = binned, W1 = integral, KS = sup), and
an n-gram vocabulary coverage curve (what share of the token stream
the top-N bigrams cover — the meter that sizes a tokenizer merge
table or a phrase vocabulary).

Determinism rules (house style): sketches are md5-salted integer
bucket counts (cross-engine replayable, the text_heavy_hitters_cms
convention); CDFs and coverage in integer ppm by one floor division
over non-negative operands; the CMS inner product provably
OVERestimates (upward-biased), so the error ppm stays non-negative
and `div` vs `//` cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from ..ops.hashing import salted_bucket, sql_salted_bucket

# ---------------------------------------------------------------------------
# diag_join_size_estimate — |orders JOIN lineitem ON orderkey| without
# the shuffle: each side folds to a 4 x 2048 count-min sketch (md5
# row-salted buckets — one combinable aggregate, fixed size at ANY
# data volume), the inner product of matching (row, bucket) cells
# upper-bounds the true join size per hash row, and min over the 4
# rows is the estimate. The exact count (sum over keys of
# cnt_a * cnt_b) is computed beside it for the differential; at
# 100 TB you ship only the sketches (64 KB) to the planner, never the
# key-count join this oracle-side exact leg pays.
#
# The estimate is provably >= exact (every colliding key pair only
# ADDS to a cell product), so overest_ppm is non-negative.
# ---------------------------------------------------------------------------

_JSE_D = 4
_JSE_W = 2048
_SQL_JSE_BUCKET = sql_salted_bucket("k", ":jse", _JSE_W)


@query(
    "diag_join_size_estimate",
    oracle=f"""
    WITH ra AS (SELECT o_orderkey AS k, unnest([0, 1, 2, 3]) AS r FROM orders),
    rb AS (SELECT l_orderkey AS k, unnest([0, 1, 2, 3]) AS r FROM lineitem),
    ska AS (SELECT r, {_SQL_JSE_BUCKET} AS b,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM ra GROUP BY 1, 2),
    skb AS (SELECT r, {_SQL_JSE_BUCKET} AS b,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM rb GROUP BY 1, 2),
    ip AS (
      SELECT ska.r, CAST(sum(ska.cnt * skb.cnt) AS BIGINT) AS est
      FROM ska JOIN skb ON ska.r = skb.r AND ska.b = skb.b
      GROUP BY ska.r
    ),
    est AS (SELECT CAST(min(est) AS BIGINT) AS est_rows FROM ip),
    ca AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1),
    cb AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1),
    exact AS (
      SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT) AS exact_rows
      FROM ca JOIN cb ON ca.k = cb.k
    )
    SELECT exact_rows, est_rows,
           CAST((1000000 * (est_rows - exact_rows)) // exact_rows AS BIGINT)
             AS overest_ppm
    FROM exact CROSS JOIN est
    """,
)
def diag_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation for orders JOIN lineitem via CMS inner
    product (4 x 2048 md5-salted sketches), with the exact key-count
    answer and the one-sided error ppm beside it."""
    return join_size_estimate_frame(
        table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k")),
        table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k")),
    )


def join_size_estimate_frame(a: DataFrame, b: DataFrame) -> DataFrame:
    """Frame core of diag_join_size_estimate over two single-column
    key frames named ``k`` (scaling-probe entry point).

    r12 (guide §2.3/§4.1): the CMS rows are built from the PER-KEY
    count frame, not the raw rows — a bucket count is a sum of its
    keys' multiplicities, so summing ``n`` over distinct keys is
    bit-identical to counting raw exploded rows, while the d md5
    bucket evaluations run once per DISTINCT key instead of once per
    row (4x fewer hashes on lineitem), and the per-key frames are the
    SAME aggregation the exact side needs, so each input is scanned
    and aggregated once (exchange reuse dedupes the subtree)."""
    rs = F.explode(F.array(*[F.lit(i) for i in range(_JSE_D)])).alias("r")

    ca = a.groupBy("k").agg(F.count("*").cast("bigint").alias("n"))
    cb = b.groupBy("k").agg(F.count("*").cast("bigint").alias("n"))

    def sketch(kc: DataFrame) -> DataFrame:
        return (
            kc.select("k", "n", rs)
            .select(
                "r", salted_bucket(F.col("k"), ":jse", F.col("r"), _JSE_W).alias("b"), "n"
            )
            .groupBy("r", "b")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )

    ska, skb = sketch(ca), sketch(cb)
    ip = (
        ska.alias("x")
        .join(skb.alias("y"), ["r", "b"])
        .groupBy("r")
        .agg(F.sum(F.col("x.cnt") * F.col("y.cnt")).cast("bigint").alias("est"))
    )
    est = ip.agg(F.min("est").cast("bigint").alias("est_rows"))
    exact = (
        ca.join(cb, "k")
        .agg(
            F.coalesce(F.sum(ca.n * cb.n), F.lit(0))
            .cast("bigint")
            .alias("exact_rows")
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(  # two 1-row aggregates
        "exact_rows",
        "est_rows",
        F.expr(
            "CAST((1000000 * (est_rows - exact_rows)) div exact_rows AS BIGINT)"
        ).alias("overest_ppm"),
    )


# ---------------------------------------------------------------------------
# quality_ks_drift — the sup-norm member of the drift trio: max
# |F_ref - F_cur| over the merged dollar support, with the value where
# the maximum is attained (smallest such value — the tie rule is
# pinned). Same split, same quantization, same support-bounded CDF
# window as quality_wasserstein_drift; the three monitors (binned PSI,
# integral W1, sup KS) differ only in which shifts they can see.
# ---------------------------------------------------------------------------


@query(
    "quality_ks_drift",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS is_ref
      FROM orders
    ),
    c AS (
      SELECT v, CAST(sum(is_ref) AS BIGINT) AS ref_cnt,
             CAST(sum(1 - is_ref) AS BIGINT) AS cur_cnt
      FROM q GROUP BY v
    ),
    t AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
                 CAST(sum(cur_cnt) AS BIGINT) AS n_cur FROM c),
    cdf AS (
      SELECT v,
             abs((1000000 * sum(ref_cnt) OVER (ORDER BY v))
                   // (SELECT n_ref FROM t)
                 - (1000000 * sum(cur_cnt) OVER (ORDER BY v))
                   // (SELECT n_cur FROM t)) AS diff_ppm
      FROM c
    ),
    mx AS (SELECT CAST(max(diff_ppm) AS BIGINT) AS ks_ppm FROM cdf)
    SELECT t.n_ref, t.n_cur, mx.ks_ppm,
           (SELECT CAST(min(v) AS BIGINT) FROM cdf
             WHERE diff_ppm = mx.ks_ppm) AS ks_at_dollars
    FROM t CROSS JOIN mx
    """,
)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift (ppm) between the pre-1998 and 1998+
    order-value distributions, with the smallest dollar value
    attaining the supremum."""
    return ks_drift_frame(table(spark, sf_dir, "orders"))


def ks_drift_frame(orders: DataFrame) -> DataFrame:
    """Frame core of quality_ks_drift (scaling-probe entry point)."""
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
    )
    wv = W.orderBy("v")
    cdf = (
        c.select(
            "v",
            F.sum("ref_cnt").over(wv).cast("bigint").alias("cum_ref"),
            F.sum("cur_cnt").over(wv).cast("bigint").alias("cum_cur"),
        )
        .crossJoin(F.broadcast(t))  # 1-row totals
        .select(
            "v",
            F.abs(
                F.expr("(1000000 * cum_ref) div n_ref")
                - F.expr("(1000000 * cum_cur) div n_cur")
            ).alias("diff_ppm"),
        )
    )
    mx = cdf.agg(F.max("diff_ppm").cast("bigint").alias("ks_ppm"))
    at = (
        cdf.crossJoin(F.broadcast(mx))  # 1-row max
        .filter(F.col("diff_ppm") == F.col("ks_ppm"))
        .agg(F.min("v").cast("bigint").alias("ks_at_dollars"))
    )
    return (
        t.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))  # all 1-row aggregates
        .select("n_ref", "n_cur", "ks_ppm", "ks_at_dollars")
    )


# ---------------------------------------------------------------------------
# text_ngram_coverage — the vocabulary-sizing curve: what share of the
# corpus's bigram OCCURRENCES do the top-100 / top-1000 / top-10000
# bigram TYPES cover? The number that decides how large a tokenizer
# merge table (or phrase vocabulary, or cache) needs to be; Zipfian
# corpora saturate early and the curve shows exactly where.
#
# Scale shape: one tokenize/explode into bigram counts (combinable,
# vocabulary-bounded), then the counts COLLAPSE to a count-of-counts
# histogram (types per frequency — Zipf makes this a few hundred rows
# at any corpus size) and the cutoff window runs over THAT. Coverage
# of "top-N by count (gram tiebreak)" is computable from the histogram
# alone — every gram tied at the cutoff count contributes the same n,
# so which ties win cannot change the covered sum. No per-gram rank
# window anywhere (measured: the ranked form cost 55.8 s at 100x
# sf0.1; this form is support-collapsed).
# ---------------------------------------------------------------------------

_COV_NS = (100, 1000, 10000)


@query(
    "text_ngram_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS ts FROM documents
    ),
    bg AS (
      SELECT ts[i] || ' ' || ts[i + 1] AS gram
      FROM tok, unnest(range(1, len(ts))) AS u(i)
      WHERE len(ts) >= 2
    ),
    c AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY gram),
    cc AS (SELECT n, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY n),
    cum AS (
      SELECT n, m,
             CAST(sum(m) OVER (ORDER BY n DESC) AS BIGINT) AS cum_t,
             CAST(sum(n * m) OVER (ORDER BY n DESC) AS BIGINT) AS cum_o
      FROM cc
    ),
    t AS (SELECT CAST(sum(n * m) AS BIGINT) AS total,
                 CAST(sum(m) AS BIGINT) AS n_types FROM cc),
    ks AS (SELECT unnest([{", ".join(map(str, _COV_NS))}]) AS top_n),
    hit AS (
      SELECT ks.top_n,
             CAST(cum.cum_o - cum.n * cum.m
                  + (ks.top_n - (cum.cum_t - cum.m)) * cum.n AS BIGINT)
               AS covered
      FROM ks JOIN cum
        ON cum.cum_t >= ks.top_n AND cum.cum_t - cum.m < ks.top_n
    )
    SELECT ks.top_n, t.n_types, t.total AS n_occurrences,
           CAST(coalesce(hit.covered, t.total) AS BIGINT) AS covered,
           CAST((1000000 * coalesce(hit.covered, t.total)) // t.total
                AS BIGINT) AS coverage_ppm
    FROM ks LEFT JOIN hit ON ks.top_n = hit.top_n CROSS JOIN t
    ORDER BY ks.top_n
    """,
)
def text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of bigram occurrences covered by the top-100/1k/10k
    bigram types — the vocabulary-sizing curve (integer ppm)."""
    return ngram_coverage_frame(table(spark, sf_dir, "documents"))


def ngram_coverage_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_ngram_coverage (scaling-probe entry point).

    Per-gram counts collapse to the count-of-counts histogram before
    any window: coverage of the top-N (by count, gram tiebreak) is a
    pure function of the histogram because cutoff ties all carry the
    same count — so the only window runs over the distinct FREQUENCY
    values (Zipf: a few hundred rows at any corpus size)."""
    toks = X.tokens(F.col("text"))
    tok = docs.select(toks.alias("ts")).filter(F.size("ts") >= 2)
    bg = tok.select(
        F.explode(F.sequence(F.lit(1), F.size("ts") - 1)).alias("i"), "ts"
    ).select(
        F.concat_ws(
            " ", F.element_at("ts", F.col("i")), F.element_at("ts", F.col("i") + 1)
        ).alias("gram")
    )
    c = bg.groupBy("gram").agg(F.count("*").cast("bigint").alias("n"))
    cc = c.groupBy("n").agg(F.count("*").cast("bigint").alias("m"))
    wn = W.orderBy(F.desc("n"))
    cum = cc.select(
        "n",
        "m",
        F.sum("m").over(wn).cast("bigint").alias("cum_t"),
        F.sum(F.col("n") * F.col("m")).over(wn).cast("bigint").alias("cum_o"),
    )
    t = cc.agg(
        F.sum(F.col("n") * F.col("m")).cast("bigint").alias("total"),
        F.sum("m").cast("bigint").alias("n_types"),
    )
    ks = docs.sparkSession.createDataFrame(
        [(k,) for k in _COV_NS], "top_n bigint"
    )
    hit = ks.join(
        cum,
        (F.col("cum_t") >= F.col("top_n"))
        & (F.col("cum_t") - F.col("m") < F.col("top_n")),
    ).select(
        "top_n",
        (
            F.col("cum_o")
            - F.col("n") * F.col("m")
            + (F.col("top_n") - (F.col("cum_t") - F.col("m"))) * F.col("n")
        )
        .cast("bigint")
        .alias("covered"),
    )
    return (
        ks.join(hit, "top_n", "left")
        .crossJoin(F.broadcast(t))  # 1-row totals
        .select(
            "top_n",
            "n_types",
            F.col("total").alias("n_occurrences"),
            F.coalesce("covered", F.col("total")).cast("bigint").alias("covered"),
            F.expr(
                "CAST((1000000 * coalesce(covered, total)) div total AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("top_n")
    )
