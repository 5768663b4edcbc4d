"""Round-6 wave-17 workloads: rank statistics and structure meters —
tie-exact Spearman rank correlation (the monotone-association readout
when Pearson is outlier-hostage), Kruskal-Wallis H (Mann-Whitney's
k-group generalization — one test across ALL order priorities instead
of one-vs-rest), nation-partition graph modularity (is trade
nation-assortative? the number that says whether a community detector
would even find geography), and per-source Shannon coding length (the
compression-ratio quality proxy data-curation pipelines read beside
TTR: templated text codes far below its uniform bound).

Determinism rules (house style): tie-averaged ranks carried DOUBLED so
.5 averages stay integers (the wave-13 Mann-Whitney machinery); moment
sums are exact BIGINTs with the closed form in DECIMAL(38,0)/HUGEINT
and only the final division in double, round(…, 6) (the
agg_corr_price_qty precedent — Spark `div` and DuckDB `//` truncate
identically on decimal/hugeint when the quotient fits int64, verified);
entropies per-term-rounded to integer micro-nats (the
events_entropy_profile precedent).

Scale notes: every rank window runs over the bounded value SUPPORT
(distinct cents), never the row count; modularity is two combinable
edge aggregates keyed by nation; coding length is one tokenize pass
into (source, token) counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, purchase_pairs, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# agg_spearman_corr — Spearman rank correlation between line-item
# quantity and extended price, tie-exact: average ranks are computed
# per DISTINCT value (doubled so .5 stays an integer), joined back to
# the (x, y) pair counts, and the Pearson closed form runs over exact
# BIGINT moment sums promoted to DECIMAL(38,0)/HUGEINT — only the
# final divide-and-sqrt touches floats, identically on both engines.
#
# Scale shape: two support-bounded rank windows (distinct cents /
# distinct quantities), one combinable pair-count aggregate, two
# value-keyed joins AQE is free to plan (rank tables are
# support-sized), five integer states in the final aggregate.
# ---------------------------------------------------------------------------


@query(
    "agg_spearman_corr",
    oracle="""
    WITH q AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ),
    pairs AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY x, y
    ),
    xr AS (
      SELECT x, CAST(2 * (sum(cnt) OVER (ORDER BY x) - cnt) + cnt + 1
                  AS BIGINT) AS rx2
      FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY x)
    ),
    yr AS (
      SELECT y, CAST(2 * (sum(cnt) OVER (ORDER BY y) - cnt) + cnt + 1
                  AS BIGINT) AS ry2
      FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY y)
    ),
    s AS (
      SELECT CAST(sum(n) AS BIGINT) AS nr,
             CAST(sum(n * rx2) AS BIGINT) AS sx,
             CAST(sum(n * ry2) AS BIGINT) AS sy,
             CAST(sum(n * rx2 * rx2) AS BIGINT) AS sxx,
             CAST(sum(n * ry2 * ry2) AS BIGINT) AS syy,
             CAST(sum(n * rx2 * ry2) AS BIGINT) AS sxy
      FROM pairs JOIN xr USING (x) JOIN yr USING (y)
    )
    SELECT nr AS n_rows,
           round(CAST(CAST(nr AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(CAST(nr AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                 / sqrt(CAST(CAST(nr AS HUGEINT) * syy
                             - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
             AS rho_spearman
    FROM s
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-exact Spearman rank correlation of l_quantity vs
    l_extendedprice (cents), doubled average ranks + decimal closed
    form, rounded to 6 decimals."""
    return spearman_frame(table(spark, sf_dir, "lineitem"))


def spearman_frame(li: DataFrame) -> DataFrame:
    """Frame core of agg_spearman_corr (scaling-probe entry point)."""
    q = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    pairs = q.groupBy("x", "y").agg(F.count("*").cast("bigint").alias("n"))

    def ranks(col: str, out: str) -> DataFrame:
        c = q.groupBy(col).agg(F.count("*").cast("bigint").alias("cnt"))
        return c.select(
            col,
            F.expr(
                f"CAST(2 * (sum(cnt) OVER (ORDER BY {col}) - cnt)"
                " + cnt + 1 AS BIGINT)"
            ).alias(out),
        )

    joined = pairs.join(ranks("x", "rx2"), "x").join(ranks("y", "ry2"), "y")
    s = joined.agg(
        F.sum("n").cast("bigint").alias("nr"),
        F.sum(F.col("n") * F.col("rx2")).cast("bigint").alias("sx"),
        F.sum(F.col("n") * F.col("ry2")).cast("bigint").alias("sy"),
        F.sum(F.col("n") * F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("n") * F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        F.sum(F.col("n") * F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    nr, sx, sy = dec("nr"), dec("sx"), dec("sy")
    rho = (
        (nr * dec("sxy") - sx * sy).cast("double")
        / F.sqrt((nr * dec("sxx") - sx * sx).cast("double"))
        / F.sqrt((nr * dec("syy") - sy * sy).cast("double"))
    )
    return s.select(
        F.col("nr").alias("n_rows"), F.round(rho, 6).alias("rho_spearman")
    )


# ---------------------------------------------------------------------------
# agg_kruskal_wallis — the k-group rank test: do the five order
# priorities ship different value distributions? Global tie-averaged
# doubled ranks over the cent support, exact per-group rank sums, and
# the tie-corrected H statistic from integer-exact components:
# sum_c R_c^2/n_c is carried as the exact floor sum_c (r2_c^2 div n_c)
# in DECIMAL/HUGEINT (error < 1 per group, identical on both engines),
# so only the final H arithmetic is float, round(…, 6).
#
# The per-group rows (n_c, doubled rank sum) are the differential
# payload; H rides along repeated, computed once from two 1-row
# aggregates.
#
# Domain bound: the exact-floor quotient r2_c^2/n_c must fit int64
# (Spark `div` yields BIGINT) — true up to ~1e9 rows per group; past
# that, compute s2 in a wider floor (the DuckDB side already carries
# HUGEINT end-to-end).
# ---------------------------------------------------------------------------


@query(
    "agg_kruskal_wallis",
    oracle="""
    WITH q AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             o_orderpriority AS grp
      FROM orders
    ),
    cv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v),
    r AS (
      SELECT v, CAST(2 * (sum(cnt) OVER (ORDER BY v) - cnt) + cnt + 1
                  AS BIGINT) AS avgrank_x2
      FROM cv
    ),
    g AS (
      SELECT grp, CAST(sum(n) AS BIGINT) AS n_c,
             CAST(sum(n * avgrank_x2) AS BIGINT) AS rank_sum_x2
      FROM (SELECT v, grp, CAST(count(*) AS BIGINT) AS n
            FROM q GROUP BY v, grp) p
      JOIN r USING (v)
      GROUP BY grp
    ),
    tot AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n_total,
             CAST(sum(CAST(rank_sum_x2 AS HUGEINT) * rank_sum_x2 // n_c)
                  AS HUGEINT) AS s2,
             CAST(count(*) AS BIGINT) AS k_groups
      FROM g
    ),
    ties AS (
      SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT)
               AS tie_term
      FROM cv
    )
    SELECT g.grp AS o_orderpriority, g.n_c, g.rank_sum_x2,
           tot.n_total, tot.k_groups,
           round((3.0 * CAST(tot.s2 AS DOUBLE)
                  / (CAST(tot.n_total AS DOUBLE) * (tot.n_total + 1))
                  - 3.0 * (tot.n_total + 1))
                 / (1.0 - CAST(ties.tie_term AS DOUBLE)
                          / (CAST(tot.n_total AS DOUBLE) * tot.n_total
                             * tot.n_total - tot.n_total)), 6) AS h_stat
    FROM g CROSS JOIN tot CROSS JOIN ties
    ORDER BY o_orderpriority
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H across the five order priorities
    on order value (cents): per-group exact doubled rank sums plus the
    H statistic, rounded to 6 decimals."""
    return kruskal_wallis_frame(table(spark, sf_dir, "orders"))


def kruskal_wallis_frame(orders: DataFrame) -> DataFrame:
    """Frame core of agg_kruskal_wallis (scaling-probe entry point)."""
    q = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
        F.col("o_orderpriority").alias("grp"),
    )
    cv = q.groupBy("v").agg(F.count("*").cast("bigint").alias("cnt"))
    r = cv.select(
        "v",
        F.expr(
            "CAST(2 * (sum(cnt) OVER (ORDER BY v) - cnt) + cnt + 1 AS BIGINT)"
        ).alias("avgrank_x2"),
    )
    p = q.groupBy("v", "grp").agg(F.count("*").cast("bigint").alias("n"))
    g = (
        p.join(r, "v")
        .groupBy("grp")
        .agg(
            F.sum("n").cast("bigint").alias("n_c"),
            F.sum(F.col("n") * F.col("avgrank_x2"))
            .cast("bigint")
            .alias("rank_sum_x2"),
        )
    )
    dec = "decimal(38,0)"
    tot = g.agg(
        F.sum("n_c").cast("bigint").alias("n_total"),
        F.sum(
            F.expr(
                f"CAST(rank_sum_x2 AS {dec}) * CAST(rank_sum_x2 AS {dec})"
                f" div CAST(n_c AS {dec})"
            )
        )
        .cast(dec)
        .alias("s2"),
        F.count("*").cast("bigint").alias("k_groups"),
    )
    ties = cv.agg(
        F.sum(
            F.expr(f"CAST(cnt AS {dec}) * cnt * cnt - cnt")
        )
        .cast(dec)
        .alias("tie_term")
    )
    h = (
        (
            F.lit(3.0) * F.col("s2").cast("double")
            / (F.col("n_total").cast("double") * (F.col("n_total") + 1))
            - F.lit(3.0) * (F.col("n_total") + 1)
        )
        / (
            F.lit(1.0)
            - F.col("tie_term").cast("double")
            / (
                F.col("n_total").cast("double") * F.col("n_total")
                * F.col("n_total")
                - F.col("n_total")
            )
        )
    )
    stats = tot.crossJoin(F.broadcast(ties)).select(  # two 1-row aggregates
        "n_total", "k_groups", F.round(h, 6).alias("h_stat")
    )
    return (
        g.crossJoin(F.broadcast(stats))  # 1-row stats
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_c",
            "rank_sum_x2",
            "n_total",
            "k_groups",
            "h_stat",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# graph_modularity_nations — modularity Q of the NATION partition over
# the undirected customer-supplier purchase graph (the wave the other
# graph workloads ride: distinct (cust, supp) pairs from
# orders x lineitem). Q = sum_c [ e_c/m - (d_c/2m)^2 ]: e_c = edges
# with BOTH endpoints in nation c, d_c = degree mass of nation c's
# nodes (customers and suppliers both carry a nation). Q near 0 means
# trade ignores geography — the number that says whether running a
# community detector on this graph would even find nations.
#
# Exact integer construction: both terms are non-negative floor
# divisions to ppm (DECIMAL/HUGEINT guards d_c^2 at scale), subtracted
# after — identical on both engines. Scale shape (r8): ONE pass over
# the distinct-pair edge tree into a <=|nations|^2 contracted pair-
# count frame; m / intra / degree all derive from the contraction
# (explode to endpoints + one keyed aggregate + pooled windows), so
# the expensive join tree is no longer recomputed per consumer.
# ---------------------------------------------------------------------------


@query(
    "graph_modularity_nations",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (
      SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
      FROM raw JOIN customer c ON raw.ck = c.c_custkey
               JOIN supplier s ON raw.sk = s.s_suppkey
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    intra AS (
      SELECT cn AS nk, CAST(count(*) AS BIGINT) AS e_intra
      FROM e WHERE cn = sn GROUP BY cn
    ),
    deg AS (
      SELECT nk, CAST(sum(d) AS BIGINT) AS d_degree FROM (
        SELECT cn AS nk, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY cn
        UNION ALL
        SELECT sn AS nk, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY sn
      ) GROUP BY nk
    ),
    contrib AS (
      SELECT n.n_nationkey, n.n_name,
             coalesce(intra.e_intra, 0) AS e_intra,
             coalesce(deg.d_degree, 0) AS d_degree,
             CAST((1000000 * coalesce(intra.e_intra, 0)) // (SELECT m FROM m)
                  - (1000000 * CAST(coalesce(deg.d_degree, 0) AS HUGEINT)
                     * coalesce(deg.d_degree, 0))
                    // (4 * CAST((SELECT m FROM m) AS HUGEINT)
                        * (SELECT m FROM m)) AS BIGINT) AS contribution_ppm
      FROM nation n
      LEFT JOIN intra ON n.n_nationkey = intra.nk
      LEFT JOIN deg ON n.n_nationkey = deg.nk
    )
    SELECT n_nationkey, n_name, e_intra, d_degree, contribution_ppm,
           CAST((SELECT sum(contribution_ppm) FROM contrib) AS BIGINT)
             AS q_ppm
    FROM contrib ORDER BY n_nationkey
    """,
)
def graph_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity (ppm) of the nation partition over the undirected
    customer-supplier purchase graph: per-nation intra-edge count,
    degree mass, contribution, and the global Q."""
    return modularity_frame(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "nation"),
    )


def modularity_frame(
    orders: DataFrame,
    li: DataFrame,
    cust: DataFrame,
    supp: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Frame core of graph_modularity_nations (scaling-probe entry)."""
    raw = purchase_pairs(orders, li)
    e = (
        raw.join(cust, raw.c == cust.c_custkey)
        .join(supp, raw.s == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn")
        )
    )
    # ONE pass over the expensive edge tree: contract the edge list to
    # <=|nations|^2 (cn, sn) pair counts, then derive m / e_intra /
    # d_degree from the contracted frame. The previous shape aggregated
    # `e` three times (m, intra, deg) — three independent plan branches
    # each recomputing the orders⋈lineitem⋈customer⋈supplier distinct-
    # pair tree (r7 judge plan audit: 20 exchanges; 51.3 s at the 100x
    # probe). Each pair explodes into its two nation endpoints: degree
    # mass `d` on both rows, intra count `i` and the edge-total part
    # `mp` on the cn row only (an intra edge contributes 2 to its
    # nation's degree — the old unionAll semantics — but once to m).
    pairc = e.groupBy("cn", "sn").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ends = pairc.select(
        F.explode(
            F.expr(
                "array("
                "  named_struct('nk', cn, 'd', cnt,"
                "    'i', CASE WHEN cn = sn THEN cnt"
                "         ELSE CAST(0 AS BIGINT) END, 'mp', cnt),"
                "  named_struct('nk', sn, 'd', cnt,"
                "    'i', CAST(0 AS BIGINT), 'mp', CAST(0 AS BIGINT)))"
            )
        ).alias("x")
    ).select("x.nk", "x.d", "x.i", "x.mp")
    per_nk = ends.groupBy("nk").agg(
        F.sum("d").cast("bigint").alias("d_degree"),
        F.sum("i").cast("bigint").alias("e_intra"),
        F.sum("mp").cast("bigint").alias("m_part"),
    )
    # pooled scalars as unpartitioned windows over the <=|nations|-row
    # frame (the r7 pooled-window lesson): m spread to the edge-less
    # nations the left join leaves NULL, q as the sum of contributions.
    contrib = (
        nation.join(
            F.broadcast(per_nk), nation.n_nationkey == per_nk.nk, "left"
        )
        .withColumn("m", F.expr("sum(m_part) OVER ()"))
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("e_intra", F.lit(0)).cast("bigint").alias("e_intra"),
            F.coalesce("d_degree", F.lit(0)).cast("bigint").alias("d_degree"),
            F.expr(
                "CAST((1000000 * coalesce(e_intra, 0)) div m"
                " - (1000000 * CAST(coalesce(d_degree, 0) AS DECIMAL(38,0))"
                "    * coalesce(d_degree, 0))"
                "   div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"
            ).alias("contribution_ppm"),
        )
    )
    return contrib.select(
        "n_nationkey",
        "n_name",
        "e_intra",
        "d_degree",
        "contribution_ppm",
        F.expr("CAST(sum(contribution_ppm) OVER () AS BIGINT)").alias(
            "q_ppm"
        ),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# text_coding_length — per-source optimal (Shannon) coding length under
# the source's own unigram model: sum_t n_t * ln(N/n_t), in integer
# micro-nats (per-term rounding, the events_entropy_profile precedent —
# every term is >= 0 so the floor divisions agree across engines).
# The compression-ratio proxy quality signal: templated text codes far
# below its uniform bound ln(V); compression_ratio_ppm says how far.
#
# Scale shape: one tokenize/explode pass into (source, token) counts
# (combinable, bounded by vocabulary x sources), a #sources-row totals
# join AQE is free to broadcast, one aggregate per source on top.
# ---------------------------------------------------------------------------


@query(
    "text_coding_length",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKS}) AS t FROM documents
    ),
    c AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY source, t
    ),
    tot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS v
      FROM c GROUP BY source
    )
    SELECT c.source,
           tot.nt AS n_tokens,
           tot.v AS n_types,
           CAST(sum(c.n * CAST(round(ln(tot.nt * 1.0e0 / c.n) * 1.0e6)
                               AS BIGINT)) AS BIGINT) AS coding_micronats,
           CAST(sum(c.n * CAST(round(ln(tot.nt * 1.0e0 / c.n) * 1.0e6)
                               AS BIGINT)) // tot.nt AS BIGINT)
             AS nats_per_token_micro,
           CAST((1000000 * (sum(c.n * CAST(round(ln(tot.nt * 1.0e0 / c.n)
                                                 * 1.0e6) AS BIGINT))
                            // tot.nt))
                // nullif(CAST(round(ln(tot.v * 1.0e0) * 1.0e6) AS BIGINT), 0)
                AS BIGINT) AS compression_ratio_ppm
    FROM c JOIN tot USING (source)
    GROUP BY c.source, tot.nt, tot.v
    ORDER BY c.source
    """,
)
def text_coding_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon coding length under the source's unigram
    model (integer micro-nats), nats/token, and the ratio to the
    uniform ln(V) bound in ppm — the compression quality proxy."""
    return coding_length_frame(table(spark, sf_dir, "documents"))


def coding_length_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_coding_length (scaling-probe entry point)."""
    tok = docs.select("source", F.explode(X.tokens(F.col("text"))).alias("t"))
    c = tok.groupBy("source", "t").agg(F.count("*").cast("bigint").alias("n"))
    tot = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("v"),
    )
    return (
        c.join(tot, "source")
        .groupBy("source", "nt", "v")
        .agg(
            F.sum(
                F.expr(
                    "n * CAST(round(ln(nt * 1.0e0 / n) * 1.0e6) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("coding"),
        )
        .select(
            "source",
            F.col("nt").alias("n_tokens"),
            F.col("v").alias("n_types"),
            F.col("coding").alias("coding_micronats"),
            F.expr("coding div nt").cast("bigint").alias(
                "nats_per_token_micro"
            ),
            # nullif: a one-type vocabulary has uniform bound ln(1)=0;
            # both engines return NULL instead of DuckDB erroring on //0
            F.expr(
                "CAST((1000000 * (coding div nt))"
                " div nullif(CAST(round(ln(v * 1.0e0) * 1.0e6) AS BIGINT), 0)"
                " AS BIGINT)"
            ).alias("compression_ratio_ppm"),
        )
        .orderBy("source")
    )
