"""Round-6 wave-9 workloads: corpus-diversity and validity meters —
cross-source BLEU-style novelty (clipped n-gram precision of each
source against the rest), a seasonal-naive backtest with MASE,
deterministic pseudonymization with preserved joinability, exact
interpolated percentiles without a float, degree assortativity of the
purchase graph, and the duplicate-cluster size histogram (the power-
law readout every dedup run should end with).

Determinism rules (house style, see workload/__init__ docstring):
precisions/errors are integer ppm by single (or documented two-step)
integer division; interpolated percentiles live in quarter-cent
integers (the k/4 quantile fractions clear exactly); pseudonyms are
md5 hex prefixes (identical in both engines); the one float
(assortativity) is a single corr() rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, _SQL_TOKS, purchase_graph, purchase_pairs, query, table
from ..ops import text as X
from .wave8 import _MONTHLY_SQL, _monthly_segment_series

# ---------------------------------------------------------------------------
# corpus_cross_bleu — per-source novelty: the BLEU-2-style clipped
# bigram precision of each source against the REST of the corpus.
# clipped(g) = min(c_src(g), c_rest(g)) — a source whose bigrams are
# all abundantly present elsewhere scores ~10^6 ppm (it adds nothing
# new); a source full of corpus-unique bigrams scores low. The
# self-vs-rest form is the curation meter ("which feeds are
# redundant?"); pairwise BLEU is its n^2 cousin. No brevity penalty:
# precision is the diversity signal here, BP corrects generation
# length, not corpus novelty.
#
# Scale shape: one (source, gram) hash aggregation over the bigram
# stream, then a gram-partitioned window for the corpus totals
# (gram-TYPE-bounded, not stream-bounded), then a source-level
# re-aggregation. c_rest = total - c_own needs no anti-join.
# ---------------------------------------------------------------------------


@query(
    "corpus_cross_bleu",
    oracle=f"""
    WITH tok AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
    pg AS (SELECT source, unnest(range(1, len(toks))) AS pos, toks FROM tok),
    b AS (SELECT source, toks[pos] || ' ' || toks[pos + 1] AS g FROM pg),
    sc AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
    w AS (SELECT source, g, c, sum(c) OVER (PARTITION BY g) AS tot FROM sc)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(sum(least(c, tot - c)) AS BIGINT) AS n_clipped,
           CAST((1000000 * sum(least(c, tot - c))) // sum(c) AS BIGINT)
             AS cross_bleu_ppm
    FROM w GROUP BY source ORDER BY source
    """,
)
def corpus_cross_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped bigram precision of each source against the rest of
    the corpus (BLEU-2 numerator, integer ppm): the redundancy meter
    a mixture designer reads before weighting feeds."""
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    b = docs.select("source", toks.alias("toks"), F.explode(idx).alias("pos")).select(
        "source",
        F.concat_ws(
            " ",
            F.element_at("toks", F.col("pos")),
            F.element_at("toks", F.col("pos") + 1),
        ).alias("g"),
    )
    sc = b.groupBy("source", "g").agg(F.count("*").alias("c"))
    w = sc.withColumn("tot", F.sum("c").over(W.partitionBy("g")))
    return (
        w.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(F.least(F.col("c"), F.col("tot") - F.col("c")))
            .cast("bigint")
            .alias("n_clipped"),
            F.expr(
                "CAST((1000000 * sum(least(c, tot - c))) div sum(c) AS BIGINT)"
            ).alias("cross_bleu_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# timeseries_seasonal_backtest — the honest baseline every forecaster
# must beat: seasonal-naive (y_hat[t] = y[t-12]) backtested over the
# monthly revenue series, scored by MAE and by MASE (Hyndman &
# Koehler 2006) — the seasonal error scaled by the one-step naive
# error, unit-free and comparable across segments. Integer two-step:
# both means floor to BIGINT cents first, then one ppm division
# (documented flooring; keeps every intermediate < 2^63 where the
# single-expression form would overflow at sf1 volumes).
#
# Scale shape: lag(12)/lag(1) windows partitioned by segment over the
# month-grain series — series length is time-bounded, the only
# data-sized work is the monthly aggregation.
# ---------------------------------------------------------------------------


@query(
    "timeseries_seasonal_backtest",
    oracle=f"""
    WITH s AS ({_MONTHLY_SQL}),
    r AS (
      SELECT seg, m, y,
             lag(y, 12) OVER (PARTITION BY seg ORDER BY m) AS y12,
             lag(y, 1)  OVER (PARTITION BY seg ORDER BY m) AS y1
      FROM s
    ),
    e AS (
      SELECT seg,
             CAST(count(y12) AS BIGINT) AS n_s,
             CAST(sum(CASE WHEN y12 IS NOT NULL THEN abs(y - y12) END)
                  AS BIGINT) AS sum_s,
             CAST(count(y1) AS BIGINT) AS n_n,
             CAST(sum(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END)
                  AS BIGINT) AS sum_n
      FROM r GROUP BY seg
    )
    SELECT seg, n_s AS n_backtest_months,
           CAST(sum_s // n_s AS BIGINT) AS mae_cents,
           CAST((1000000 * (sum_s // n_s)) // (sum_n // n_n) AS BIGINT)
             AS mase_ppm
    FROM e ORDER BY seg
    """,
)
def timeseries_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-12) backtest of monthly segment revenue:
    MAE in cents and MASE in ppm (seasonal error over one-step naive
    error, both floored to integer cents before the ratio)."""
    s = _monthly_segment_series(spark, sf_dir)
    wm = W.partitionBy("seg").orderBy("m")
    r = s.select(
        "seg",
        "y",
        F.lag("y", 12).over(wm).alias("y12"),
        F.lag("y", 1).over(wm).alias("y1"),
    )
    e = r.groupBy("seg").agg(
        F.count("y12").cast("bigint").alias("n_s"),
        F.sum(F.when(F.col("y12").isNotNull(), F.abs(F.col("y") - F.col("y12"))))
        .cast("bigint")
        .alias("sum_s"),
        F.count("y1").cast("bigint").alias("n_n"),
        F.sum(F.when(F.col("y1").isNotNull(), F.abs(F.col("y") - F.col("y1"))))
        .cast("bigint")
        .alias("sum_n"),
    )
    return e.select(
        "seg",
        F.col("n_s").alias("n_backtest_months"),
        F.expr("CAST(sum_s div n_s AS BIGINT)").alias("mae_cents"),
        F.expr(
            "CAST((1000000 * (sum_s div n_s)) div (sum_n div n_n) AS BIGINT)"
        ).alias("mase_ppm"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# privacy_pseudonymize — deterministic pseudonymization that PRESERVES
# joinability: customer keys become md5 hex prefixes (same input →
# same surrogate, engine-replayable), analytics on the pseudonymized
# stream still aggregate and join correctly, and no raw key reaches
# the output. The operational counterpart of the k/l/t audits: those
# measure exposure, this is the mitigation. 16 hex chars = 64 bits —
# collision odds ~n^2/2^65 (negligible below ~10^8 subjects; widen
# the prefix past that, the injectivity test is the canary).
#
# Scale shape: the surrogate is a projection (no shuffle); the join
# is the same custkey equi-join the raw pipeline runs — pseudonyms
# never need to be joined ON (the raw key joins, then drops).
# ---------------------------------------------------------------------------


@query(
    "privacy_pseudonymize",
    oracle="""
    WITH p AS (
      SELECT c_custkey,
             substr(md5('cust:' || CAST(c_custkey AS VARCHAR)), 1, 16)
               AS pseud,
             c_nationkey
      FROM customer
    ),
    j AS (
      SELECT p.pseud, p.c_nationkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders JOIN p ON o_custkey = p.c_custkey
      GROUP BY p.pseud, p.c_nationkey
    )
    SELECT pseud, CAST(c_nationkey AS BIGINT) AS nationkey,
           n_orders, total_cents
    FROM j ORDER BY n_orders DESC, pseud LIMIT 10
    """,
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order count AFTER pseudonymization: the
    surrogate (md5-prefix) key carries through join + aggregation,
    the raw key never reaches the output."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    p = cust.select(
        "c_custkey",
        F.expr("substr(md5(concat('cust:', CAST(c_custkey AS STRING))), 1, 16)").alias(
            "pseud"
        ),
        "c_nationkey",
    )
    return (
        orders.join(p, orders.o_custkey == p.c_custkey)
        .groupBy("pseud", "c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .select(
            "pseud",
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "n_orders",
            "total_cents",
        )
        .orderBy(F.desc("n_orders"), "pseud")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# agg_percentile_cont_exact — interpolated (PERCENTILE_CONT) quartiles
# WITHOUT a float: at quantile k/4 over n rows the continuous
# position is (n-1)*k/4, so lo = (n-1)*k div 4 (0-based), frac =
# (n-1)*k mod 4, and the interpolated value in QUARTER-CENT units is
# exactly v_lo*(4-frac) + v_hi*frac. Engine percentile builtins
# disagree in their float rounding; this form is bit-identical by
# construction and generalizes to any fixed rational quantile.
#
# Scale shape: one rank window per group + two rank-keyed joins onto
# a 9-row (group x quartile) index frame. The window is the cost; the
# quartile index is construction-bounded.
# ---------------------------------------------------------------------------


@query(
    "agg_percentile_cont_exact",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    q AS (
      SELECT DISTINCT flag, n, k,
             ((n - 1) * k) // 4 + 1 AS lo_rn,
             ((n - 1) * k) % 4 AS frac
      FROM r CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
    ),
    v AS (
      SELECT q.flag, q.k, q.n, q.frac,
             lo.cents AS v_lo, coalesce(hi.cents, lo.cents) AS v_hi
      FROM q
      JOIN r lo ON lo.flag = q.flag AND lo.rn = q.lo_rn
      LEFT JOIN r hi ON hi.flag = q.flag AND hi.rn = q.lo_rn + 1
    )
    SELECT flag, CAST(k AS BIGINT) AS quartile, CAST(n AS BIGINT) AS n_rows,
           CAST(v_lo * (4 - frac) + v_hi * frac AS BIGINT)
             AS value_quarter_cents
    FROM v ORDER BY flag, quartile
    """,
)
def agg_percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of extended price per return flag
    in quarter-cent integers: PERCENTILE_CONT semantics with zero
    float arithmetic."""
    li = table(spark, sf_dir, "lineitem")
    wf = W.partitionBy("l_returnflag")
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.row_number()
        .over(wf.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("rn"),
        F.count("*").over(wf).alias("n"),
    )
    q = (
        r.select("flag", "n")
        .distinct()
        .select("flag", "n", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .select(
            "flag",
            "n",
            "k",
            F.expr("((n - 1) * k) div 4 + 1").alias("lo_rn"),
            F.expr("((n - 1) * k) % 4").alias("frac"),
        )
    )
    lo = r.select(F.col("flag").alias("flag_lo"), F.col("rn").alias("rn_lo"), F.col("cents").alias("v_lo"))
    hi = r.select(F.col("flag").alias("flag_hi"), F.col("rn").alias("rn_hi"), F.col("cents").alias("v_hi"))
    v = (
        q.join(lo, (q.flag == lo.flag_lo) & (q.lo_rn == lo.rn_lo))
        .join(
            hi,
            (q.flag == hi.flag_hi) & ((q.lo_rn + 1) == hi.rn_hi),
            "left",
        )
        .withColumn("v_hi", F.coalesce("v_hi", "v_lo"))
    )
    return v.select(
        "flag",
        F.col("k").cast("bigint").alias("quartile"),
        F.col("n").cast("bigint").alias("n_rows"),
        (F.col("v_lo") * (F.lit(4) - F.col("frac")) + F.col("v_hi") * F.col("frac"))
        .cast("bigint")
        .alias("value_quarter_cents"),
    ).orderBy("flag", "quartile")


# ---------------------------------------------------------------------------
# graph_degree_assortativity — Newman's degree assortativity of the
# purchase graph: the Pearson correlation of endpoint degrees across
# (symmetrized) edges. Negative = hubs attach to leaves (the usual
# shape of transactional bipartite projections); positive = rich club.
# One degree aggregation + two degree joins + one corr() — the single
# float, rounded identically on both sides (the agg_corr precedent).
# ---------------------------------------------------------------------------

from .wave6d import _EDGES_SQL  # noqa: E402


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    raw2 AS (SELECT c, {GRAPH_SUPP_OFFSET} + s AS s FROM raw),
    edges AS (SELECT c AS src, s AS dst FROM raw2
              UNION ALL SELECT s, c FROM raw2),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src)
    SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
           round(corr(ds.d, dd.d), 6) AS assortativity
    FROM edges e
    JOIN deg ds ON e.src = ds.id
    JOIN deg dd ON e.dst = dd.id
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson corr of endpoint degrees) of the
    symmetrized customer-supplier purchase graph."""
    edges = purchase_graph(
        purchase_pairs(table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem"))
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    ds = deg.select(F.col("id").alias("id_s"), F.col("d").alias("d_s"))
    dd = deg.select(F.col("id").alias("id_d"), F.col("d").alias("d_d"))
    return (
        edges.join(ds, edges.src == ds.id_s)
        .join(dd, edges.dst == dd.id_d)
        .agg(
            F.count("*").cast("bigint").alias("n_directed_edges"),
            F.round(F.corr("d_s", "d_d"), 6).alias("assortativity"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cluster_size_histogram — the readout a dedup run should end
# with: the size distribution of near-duplicate clusters. A healthy
# crawl shows a power law (mostly singletons, a thin tail of big
# families); a fat tail of large clusters means a template or mirror
# is flooding the corpus. Reuses the registered clustering machinery
# (token-Jaccard >= 0.5 within source blocks -> connected components)
# and adds two bounded aggregations on top.
# ---------------------------------------------------------------------------


def _cluster_hist_oracle() -> str:
    from .llm_ops import _CLUSTER_ORACLE

    return f"""
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT cluster_id, count(*) AS sz
      FROM ({_CLUSTER_ORACLE})
      GROUP BY cluster_id
    ) GROUP BY sz ORDER BY cluster_size
    """


@query("dedup_cluster_size_histogram", oracle=_cluster_hist_oracle())
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-duplicate cluster sizes off the registered
    clustering path (ops.graph connected components over prefix-
    filtered token-Jaccard candidate pairs — r10 VERDICT #1: same
    pairs as the brute postings join at threshold 0.5 by the
    prefix-filtering lemma, bounded candidates as blocks grow)."""
    from ..ops import dedup as D
    from ..ops import graph as G

    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_prefix_pairs(
        docs, block_col="source", num=1, den=2, gram_n=1, materialize=True
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    clusters = G.dedup_clusters(nodes, pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )
