"""Round-6 wave-3c workloads: distributed 2-D skyline (Pareto
frontier) and grid-based density clustering (DBSCAN on cells).

Both demonstrate scale patterns the registry lacked: the skyline's
bucketed prefix-max decomposition (a global-order problem solved
without a global single-task window) and density clustering as
cell-aggregation + bounded-round component labeling (DBSCAN's
neighborhood scan turned into combinable counts — no pair joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from .quality import SNAP_NEW_SQL, SNAP_OLD_SQL
from ..ops.hashing import md5_long, sql_md5_long

# ---------------------------------------------------------------------------
# skyline_suppliers — the Pareto frontier of suppliers on
# (account balance, total revenue): points no other supplier beats on
# both axes. The naive formulation is a quadratic dominance anti-join;
# the single-window formulation (sort by x desc, keep y above the
# running max) is O(n log n) but puts the WHOLE table through one
# global-order window task. The registered plan is the distributed
# decomposition: value-bucket x, within-bucket running max (per-bucket
# window — parallel), plus a cumulative max over the tiny bucket-stats
# frame joined back so higher buckets dominate lower ones without any
# global row order. Exact duplicates pre-aggregated so strict-
# dominance tie rules reduce to "running/prefix max >= y".
# ---------------------------------------------------------------------------

_XB = 200_000_000  # acctbal micro-unit bucket width (~55 buckets over TPC-H range)


@query(
    "skyline_suppliers",
    oracle=f"""
    WITH pts0 AS (
      SELECT s.s_suppkey,
             CAST(round(s.s_acctbal * 1000000) AS BIGINT) AS x,
             CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100)
                  AS BIGINT) AS y
      FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_suppkey, s.s_acctbal
    ),
    -- strict dominance: among distinct (x, y) a point is dominated
    -- iff some point with greater-or-equal x (and any strict edge)
    -- has y >= its y; duplicates share a row so they can't knock
    -- each other out
    pts AS (SELECT x, y, min(s_suppkey) AS keep_key, count(*) AS n_dup
            FROM pts0 GROUP BY x, y),
    b AS (SELECT *, x // {_XB} AS bx FROM pts),
    bstats AS (SELECT bx, max(y) AS by FROM b GROUP BY bx),
    cum AS (
      SELECT bx, max(by) OVER (ORDER BY bx DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS higher_max
      FROM bstats
    ),
    loc AS (
      SELECT b.*, cum.higher_max,
             max(y) OVER (PARTITION BY b.bx ORDER BY x DESC, y DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS run_max
      FROM b JOIN cum ON b.bx = cum.bx
    )
    SELECT keep_key AS s_suppkey, x AS acctbal_micro, y AS revenue_cent
    FROM loc
    WHERE (higher_max IS NULL OR higher_max < y)
      AND (run_max IS NULL OR run_max < y)
    """,
)
def skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers on the (acctbal, revenue) Pareto frontier via the
    bucketed prefix-max decomposition — see the module comment. Exact
    integer micro/cent units; a point survives iff no higher-x bucket
    reaches its y (tiny cumulative-max frame) AND no prior point in
    its own bucket's (x desc, y desc) order does (per-bucket window).
    At 100 TB the only per-row work is one bucket-keyed window; the
    cross-bucket coordination is a bucket-count-sized frame."""
    from pyspark.sql import Window as W

    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    pts0 = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .groupBy("s_suppkey", "s_acctbal")
        .agg(
            F.expr(
                "CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)"
            ).alias("y")
        )
        .select(
            "s_suppkey",
            F.expr("CAST(round(s_acctbal * 1000000) AS BIGINT)").alias("x"),
            "y",
        )
    )
    pts = pts0.groupBy("x", "y").agg(
        F.min("s_suppkey").alias("keep_key"), F.count("*").alias("n_dup")
    )
    b = pts.select("*", F.expr(f"x div {_XB}").alias("bx"))
    bstats = b.groupBy("bx").agg(F.max("y").alias("by"))
    wcum = W.orderBy(F.desc("bx")).rowsBetween(W.unboundedPreceding, -1)
    cum = bstats.select("bx", F.max("by").over(wcum).alias("higher_max"))
    wrun = (
        W.partitionBy("bx")
        .orderBy(F.desc("x"), F.desc("y"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    loc = b.join(cum, "bx").select("*", F.max("y").over(wrun).alias("run_max"))
    return loc.filter(
        (F.col("higher_max").isNull() | (F.col("higher_max") < F.col("y")))
        & (F.col("run_max").isNull() | (F.col("run_max") < F.col("y")))
    ).select(
        F.col("keep_key").alias("s_suppkey"),
        F.col("x").alias("acctbal_micro"),
        F.col("y").alias("revenue_cent"),
    )


# ---------------------------------------------------------------------------
# geo_grid_dbscan — density-based clustering on the customer point
# cloud, DBSCAN recast for the grid: per-cell counts (one hash
# aggregate over the point scan), 3x3 neighborhood density via a
# 9-way shifted self-equi-join on the CELL table (combinable counts —
# no point-pair join anywhere), "core" = cells in the TOP DECILE of
# neighborhood density (percentile_disc threshold, so the operator is
# meaningful at any uniform-ish density and any SF), clusters = TRUE
# connected components of 8-adjacent core cells
# (ops.graph.connected_components run to convergence; the oracle
# computes the same fixpoint with a recursive CTE — the
# dedup_clusters convention).
# ---------------------------------------------------------------------------

_DB_CELL = 15_000_000
_LAT_MOD = 180_000_000
_LON_MOD = 360_000_000


def _dbscan_oracle() -> str:
    clat = sql_md5_long("'clat|' || CAST(c_custkey AS VARCHAR)")
    clon = sql_md5_long("'clon|' || CAST(c_custkey AS VARCHAR)")
    return f"""
    WITH RECURSIVE pts AS (
      SELECT ({clat} % {_LAT_MOD}) // {_DB_CELL} AS cy,
             ({clon} % {_LON_MOD}) // {_DB_CELL} AS cx
      FROM customer
    ),
    cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY cx, cy),
    hood AS (
      SELECT c.cx, c.cy, c.n, sum(o.n) AS hood_n
      FROM cells c
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dxs
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dys
      JOIN cells o ON o.cx = c.cx + dxs.dx AND o.cy = c.cy + dys.dy
      GROUP BY c.cx, c.cy, c.n
    ),
    thr AS (SELECT quantile_disc(hood_n, 0.9) AS t FROM hood),
    core AS (
      SELECT cx, cy, n, hood_n, cx * 100000 + cy AS id
      FROM hood, thr WHERE hood_n >= thr.t
    ),
    adj0 AS (
      SELECT a.id AS src, b.id AS dst
      FROM core a
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dxs
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dys
      JOIN core b ON b.cx = a.cx + dxs.dx AND b.cy = a.cy + dys.dy
    ),
    reach AS (
      SELECT id, id AS lbl FROM core
      UNION
      SELECT e.dst, reach.lbl FROM reach JOIN adj0 e ON e.src = reach.id
    ),
    lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
    SELECT c.cx, c.cy, CAST(c.n AS BIGINT) AS n_points,
           CAST(c.hood_n AS BIGINT) AS hood_n,
           CAST(l.cluster AS BIGINT) AS cluster
    FROM core c JOIN lab l ON c.id = l.id
    """


@query("geo_grid_dbscan", oracle=_dbscan_oracle())
def geo_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density hotspot clustering (grid-DBSCAN): top-decile
    neighborhood-density cells, merged into TRUE connected components
    over 8-adjacency. See the module comment for the plan shape; the
    percentile threshold is a 1-row aggregate (broadcast-legitimate
    by construction), and component labeling runs to convergence with
    the recursive-CTE oracle checking the exact fixpoint.

    At 100 TB: cell stats are one combinable aggregate over the point
    scan; everything after touches the CELL table (orders of magnitude
    smaller); CC rounds ~ hotspot-chain diameter. Cell size follows
    the ops.geo density knob."""
    from ..ops.graph import connected_components

    cust = table(spark, sf_dir, "customer").select(
        (md5_long(F.concat(F.lit("clat|"), F.col("c_custkey"))) % _LAT_MOD).alias(
            "lat_u"
        ),
        (md5_long(F.concat(F.lit("clon|"), F.col("c_custkey"))) % _LON_MOD).alias(
            "lon_u"
        ),
    )
    pts = cust.select(
        F.expr(f"lat_u div {_DB_CELL}").alias("cy"),
        F.expr(f"lon_u div {_DB_CELL}").alias("cx"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count("*").alias("n"))
    nb = cells.select(
        "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx")
    ).select("*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"))
    o = cells.select(
        F.col("cx").alias("ox"), F.col("cy").alias("oy"), F.col("n").alias("on")
    )
    hood = (
        nb.join(
            o,
            (F.col("ox") == F.col("cx") + F.col("dx"))
            & (F.col("oy") == F.col("cy") + F.col("dy")),
        )
        .groupBy("cx", "cy", "n")
        .agg(F.sum("on").alias("hood_n"))
    )
    thr = hood.agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY hood_n)").alias("t")
    )
    core = (
        hood.crossJoin(F.broadcast(thr))
        .filter(F.col("hood_n") >= F.col("t"))
        .select(
            "cx", "cy", "n", "hood_n", (F.col("cx") * 100000 + F.col("cy")).alias("id")
        )
    )
    ca = core.select("cx", "cy", F.col("id").alias("a_id"))
    na = ca.select(
        "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx")
    ).select("*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"))
    cb = core.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("id").alias("b_id")
    )
    adj = na.join(
        cb,
        (F.col("bx") == F.col("cx") + F.col("dx"))
        & (F.col("by") == F.col("cy") + F.col("dy")),
    ).select("a_id", "b_id")
    cc = connected_components(core.select("id"), adj, src_col="a_id", dst_col="b_id")
    return core.join(cc, "id").select(
        "cx",
        "cy",
        F.col("n").cast("bigint").alias("n_points"),
        F.col("hood_n").cast("bigint").alias("hood_n"),
        F.col("component").cast("bigint").alias("cluster"),
    )


# ---------------------------------------------------------------------------
# events_sequence_mining — sequential pattern counts: the top 3-step
# event-type sequences across user streams (the market-basket idea
# lifted to ORDERED behavior). Two lags per user stream turn sequence
# extraction into a per-key window projection; counting is one
# combinable aggregate over (sequence) — no self-joins, no explosion
# beyond one row per event. Full (ts, event_id) ordering key so tie
# order cannot differ across engines.
# ---------------------------------------------------------------------------


@query(
    "events_sequence_mining",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             lag(event_type, 2) OVER w AS e1,
             lag(event_type, 1) OVER w AS e2,
             event_type AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(epoch(ts) AS BIGINT), event_id)
    ),
    pat AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS pattern, user_id
      FROM seq WHERE e1 IS NOT NULL
    )
    SELECT pattern,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM pat
    GROUP BY pattern
    ORDER BY n_occurrences DESC, pattern
    LIMIT 20
    """,
)
def events_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 3-step event-type sequences over per-user
    streams, with occurrence and distinct-user counts. One per-user
    window shuffle + one combinable pattern aggregate — sequence
    mining without self-joins (the naive formulation joins the event
    stream to itself twice)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("tse")
    )
    w = W.partitionBy("user_id").orderBy("tse", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    ).filter(F.col("e1").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("pattern"), "user_id"
        )
        .groupBy("pattern")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "pattern")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# events_session_overlap — INTERVAL x INTERVAL overlap join: per-user
# per-type activity sessions (30-min gap rule), paired where sessions
# of two different types overlap in time — "errors during purchase
# flows". The pair join is banded (intervals explode into the 1-day
# bands they span, candidates form on (user, band) equi-keys, exact
# overlap predicate after, distinct de-dups multi-band hits) — the
# interval generalization of the point-in-range banding the range
# join uses. Explode factor is bounded by session span / band (1 for
# 30-min-gap sessions). All integer epoch arithmetic.
# ---------------------------------------------------------------------------

_SESS_GAP_S = 1800
_OVL_BAND_S = 86_400


@query(
    "events_session_overlap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, CAST(epoch(ts) AS BIGINT) AS tse
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, tse,
             CASE WHEN tse - lag(tse) OVER w > {_SESS_GAP_S} OR
                       lag(tse) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tse)
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id, event_type
                               ORDER BY tse
                               ROWS UNBOUNDED PRECEDING) AS sid,
             tse
      FROM marked
    ),
    iv AS (
      SELECT user_id, event_type, sid,
             min(tse) AS s, max(tse) AS en
      FROM sess GROUP BY user_id, event_type, sid
    ),
    pairs AS (
      SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
             greatest(a.s, b.s) AS os, least(a.en, b.en) AS oe
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id
       AND a.event_type < b.event_type
       AND a.s <= b.en AND b.s <= a.en
    )
    SELECT type_a, type_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(oe - os) AS BIGINT) AS overlap_s,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM pairs
    GROUP BY type_a, type_b
    """,
)
def events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping activity-session pairs across event types per user
    (which behaviors co-occur in time), aggregated per type pair with
    total overlap seconds and user support. Sessions are the standard
    gap rule (30 min); the overlap join runs banded — see the module
    comment. The oracle joins intervals directly (DuckDB's quadratic
    is fine at oracle scale); the Spark plan must produce the
    identical pair set through the bands, which the distinct after
    the band join guarantees (a pair overlapping k bands collapses to
    one row before aggregation)."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("tse")
    )
    w = W.partitionBy("user_id", "event_type").orderBy("tse")
    marked = e.select(
        "*",
        F.when(
            (F.col("tse") - F.lag("tse").over(w) > _SESS_GAP_S)
            | F.lag("tse").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    cum = W.partitionBy("user_id", "event_type").orderBy("tse").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = marked.select("*", F.sum("is_new").over(cum).alias("sid"))
    iv = sess.groupBy("user_id", "event_type", "sid").agg(
        F.min("tse").alias("s"), F.max("tse").alias("en")
    )
    banded = iv.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"s div {_OVL_BAND_S}"), F.expr(f"en div {_OVL_BAND_S}")
            )
        ).alias("band"),
    )
    a = banded.select(
        "user_id",
        "band",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("sa"),
        F.col("en").alias("ea"),
    )
    b = banded.select(
        "user_id",
        "band",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("sb"),
        F.col("en").alias("eb"),
    )
    pairs = (
        a.join(b, ["user_id", "band"])
        .filter(
            (F.col("type_a") < F.col("type_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select(
            "user_id",
            "type_a",
            "type_b",
            # session starts identify the pair (same-type sessions are
            # disjoint by the gap rule), so the distinct removes ONLY
            # multi-band duplicates, never two genuine pairs
            "sa",
            "sb",
            F.greatest("sa", "sb").alias("os"),
            F.least("ea", "eb").alias("oe"),
        )
        .distinct()
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("oe") - F.col("os")).cast("bigint").alias("overlap_s"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# text_textrank_keywords — TextRank (Mihalcea & Tarau 2004): PageRank
# over the word co-occurrence graph (tokens adjacent within a +-2
# window anywhere in the corpus). A pure COMPOSITION of registered
# machinery: the co-occurrence edge build is two shifted zips of the
# token array (codegen, no self-join), and the rank is
# ops.graph.pagerank_int — exact bigint arithmetic, so the unrolled
# 3-round oracle replays bit-for-bit over string node ids.
# ---------------------------------------------------------------------------

_TR_SCALE = 10**12


def _textrank_oracle(iters: int = 3, scale: int = _TR_SCALE) -> str:
    toks = _SQL_TOKS
    head = f"""
    WITH t AS (SELECT {toks} AS toks FROM documents),
    pr0 AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS s
      FROM t
      UNION ALL
      SELECT unnest(list_transform(range(1, len(toks) - 1),
                    i -> struct_pack(a := toks[i], b := toks[i + 2]))) AS s
      FROM t
    ),
    e0 AS (
      SELECT DISTINCT least(s.a, s.b) AS a, greatest(s.a, s.b) AS b
      FROM pr0 WHERE s.a <> s.b
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    params AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT id, CAST({scale} // n AS BIGINT) AS rank FROM nodes, params)"""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(f"""
    c{i} AS (
      SELECT e.dst AS id, SUM(r.rank // d.out_deg) AS s
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.id,
             CAST((15 * {scale}) // (100 * p.n) AS BIGINT)
               + (85 * COALESCE(c{i}.s, 0)) // 100 AS rank
      FROM nodes n CROSS JOIN params p
      LEFT JOIN c{i} ON n.id = c{i}.id
    )""")
    return (
        head + "," + ",".join(rounds)
        + f"""
    SELECT id AS token, CAST(rank AS BIGINT) AS rank_int FROM r{iters}
    ORDER BY rank_int DESC, token
    LIMIT 20
    """
    )


@query("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus keywords by TextRank — 3-round exact-integer
    PageRank over the +-2-window token co-occurrence graph. The graph
    build never self-joins the token stream: both co-occurrence
    offsets come from array zips inside codegen, and the distinct
    edge set is one combinable aggregate. Complements the frequency
    (heavy hitters), contrast (RAKE/rarity) and PMI keyword families
    with the graph-centrality notion of importance."""
    from ..ops.graph import pagerank_int
    from ..ops.text import tokens

    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    p1 = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("a"), F.element_at(toks, i + 1).alias("b")
        ),
    )
    p2 = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(0))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("a"), F.element_at(toks, i + 2).alias("b")
        ),
    )
    prs = docs.select(F.explode(F.concat(p1, p2)).alias("s")).filter(
        F.col("s.a") != F.col("s.b")
    )
    # the distinct edge set is vocabulary-bounded (<= |V|^2/2 rows,
    # tiny next to the corpus); checkpoint it so the 3 rank rounds
    # iterate over the materialized edges instead of re-running the
    # corpus-wide pair explode per round (measured 14.0 -> ~3.0 s warm
    # at sf0.1)
    e0 = (
        prs.select(
            F.least("s.a", "s.b").alias("a"), F.greatest("s.a", "s.b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return (
        pagerank_int(edges, iters=3, scale=_TR_SCALE)
        .select(F.col("id").alias("token"), F.col("rank").alias("rank_int"))
        .orderBy(F.desc("rank_int"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# link_customer_entities — entity resolution with a multi-evidence
# match score (the Fellegi-Sunter shape with fixed integer agreement
# weights): corrupted probe records are matched back to the master on
# a blocking key, then scored on THREE independent evidence fields —
# name edit distance, nation equality, account-balance proximity —
# and accepted above a threshold. One field can disagree (the
# corruption) and the remaining evidence still links the record; a
# single-field matcher (join_fuzzy_names) can't do that. All weights
# and the balance band are exact integers.
# ---------------------------------------------------------------------------


# The probe/score CTE bodies are named pieces so wave7's golden-record
# survivorship can embed the SAME link definition — the two queries
# must agree on what "linked" means or the golden records drift from
# the link table.
PROBES_SQL = """probes AS (
      SELECT c_custkey AS probe_key,
             substr(c_name, 1, 11) || 'X' || substr(c_name, 13) AS p_name,
             c_nationkey AS p_nation,
             CAST(round(c_acctbal * 100) AS BIGINT) + (c_custkey % 7) - 3
               AS p_bal_cent
      FROM customer WHERE c_custkey % 17 = 0
    )"""

SCORED_SQL = """scored AS (
      SELECT probe_key, c_custkey AS match_key,
             levenshtein(p_name, c_name) AS name_dist,
             CASE WHEN levenshtein(p_name, c_name) = 0 THEN 40
                  WHEN levenshtein(p_name, c_name) = 1 THEN 25
                  WHEN levenshtein(p_name, c_name) = 2 THEN 10
                  ELSE 0 END
             + CASE WHEN p_nation = c_nationkey THEN 20 ELSE 0 END
             + CASE WHEN abs(p_bal_cent
                             - CAST(round(c_acctbal * 100) AS BIGINT)) <= 5
                    THEN 15 ELSE 0 END AS score
      FROM probes
      JOIN customer
        ON substr(p_name, length(p_name) - 2, 3)
           = substr(c_name, length(c_name) - 2, 3)
    )"""

LINK_ORACLE = f"""
    WITH {PROBES_SQL},
    {SCORED_SQL}
    SELECT probe_key, match_key, CAST(name_dist AS INTEGER) AS name_dist,
           CAST(score AS INTEGER) AS score
    FROM scored WHERE score >= 45
    """


def probe_frame(cust: DataFrame) -> DataFrame:
    """The corrupted probe records (Spark twin of PROBES_SQL): every
    17th customer with one name char replaced and a few-cent balance
    drift. Shared with wave7's golden-record survivorship."""
    return cust.filter(F.col("c_custkey") % 17 == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.concat(
            F.substring("c_name", 1, 11), F.lit("X"), F.expr("substr(c_name, 13)")
        ).alias("p_name"),
        F.col("c_nationkey").alias("p_nation"),
        (
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
            + (F.col("c_custkey") % 7)
            - 3
        ).alias("p_bal_cent"),
    )


@query("link_customer_entities", oracle=LINK_ORACLE)
def link_customer_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe records with a corrupted name char and a few-cent
    balance drift are linked to the customer master: suffix blocking
    (corruption never touches the last 3 chars), then the integer
    evidence score — name distance band (40/25/10/0) + nation
    equality (20) + balance within 5 cents (15) — thresholded at 45,
    so two strong evidences carry a record whose third is corrupted.
    At 100 TB: blocked equi-join + codegen levenshtein, no UDF, no
    cross product; weights would come from EM-fitted m/u
    probabilities, here fixed constants (the plan is identical)."""
    cust = table(spark, sf_dir, "customer")
    probes = probe_frame(cust)
    blk = lambda c: F.substring(c, -3, 3)  # noqa: E731
    dist = F.levenshtein("p_name", "c_name")
    score = (
        F.when(dist == 0, 40).when(dist == 1, 25).when(dist == 2, 10).otherwise(0)
        + F.when(F.col("p_nation") == F.col("c_nationkey"), 20).otherwise(0)
        + F.when(
            F.abs(
                F.col("p_bal_cent") - F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
            )
            <= 5,
            15,
        ).otherwise(0)
    )
    return (
        probes.join(cust, blk(F.col("p_name")) == blk(F.col("c_name")))
        .select(
            "probe_key",
            F.col("c_custkey").alias("match_key"),
            dist.cast("int").alias("name_dist"),
            score.cast("int").alias("score"),
        )
        .filter(F.col("score") >= 45)
    )


# ---------------------------------------------------------------------------
# dq_merkle_diff — anti-entropy table diff by per-bucket digests: both
# snapshots reduce to 256 order-independent bucket digests (sum of
# 40-bit row fingerprints — combinable, one aggregate pass per side),
# digests are compared (a 256-row frame — the "exchange KB, not
# terabytes" step), and ONLY the mismatched buckets are row-diffed
# with the full-outer-join CDC shape. The at-scale win over
# cdc_snapshot_diff: when the daily delta touches k of 256 buckets,
# the row-level join scans k/256 of each snapshot (with the bucket
# filter pushed to both scans) instead of everything; a real
# deployment nests levels (Merkle tree) and ships only digests across
# clusters. Fingerprints are truncated to 40 bits so a bucket's sum
# stays far from BIGINT overflow (2^40 x rows-per-bucket; re-bucket
# wider before ~2^22 rows/bucket).
# ---------------------------------------------------------------------------

_MK_BUCKETS = 256
_MK_FP_MOD = 1 << 40


def _mk_fp_sql(key: str, status: str, price: str) -> str:
    return (
        sql_md5_long(
            f"CAST({key} AS VARCHAR) || '|' || {status} || '|' || "
            f"CAST(CAST(round({price} * 100) AS BIGINT) AS VARCHAR)"
        )
        + f" % {_MK_FP_MOD}"
    )


@query(
    "dq_merkle_diff",
    oracle=f"""
    WITH snap_old AS ({SNAP_OLD_SQL}),
    snap_new AS ({SNAP_NEW_SQL}),
    od AS (
      SELECT o_orderkey % {_MK_BUCKETS} AS bucket,
             sum({_mk_fp_sql('o_orderkey', 'o_orderstatus', 'o_totalprice')}) AS dig
      FROM snap_old GROUP BY 1
    ),
    nd AS (
      SELECT o_orderkey % {_MK_BUCKETS} AS bucket,
             sum({_mk_fp_sql('o_orderkey', 'o_orderstatus', 'o_totalprice')}) AS dig
      FROM snap_new GROUP BY 1
    ),
    bad AS (
      SELECT coalesce(od.bucket, nd.bucket) AS bucket
      FROM od FULL OUTER JOIN nd ON od.bucket = nd.bucket
      WHERE od.dig IS DISTINCT FROM nd.dig
    ),
    o2 AS (SELECT * FROM snap_old WHERE o_orderkey % {_MK_BUCKETS} IN
           (SELECT bucket FROM bad)),
    n2 AS (SELECT * FROM snap_new WHERE o_orderkey % {_MK_BUCKETS} IN
           (SELECT bucket FROM bad))
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           coalesce(o.o_orderkey, n.o_orderkey) % {_MK_BUCKETS} AS bucket
    FROM o2 o FULL OUTER JOIN n2 n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def dq_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff via bucket digests — see the module comment.
    Digest mismatch has no false negatives up to fingerprint-sum
    collision (~2^-40 per bucket per day); a Spark-side test pins the
    changed-key set equal to cdc_snapshot_diff's on this fixture."""
    from .quality import snapshot_new, snapshot_old

    orders = table(spark, sf_dir, "orders")
    old, new = snapshot_old(orders), snapshot_new(orders)

    def fp(df):
        return df.select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % _MK_BUCKETS).alias("bucket"),
            (
                md5_long(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey"),
                        F.col("o_orderstatus"),
                        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
                    )
                )
                % _MK_FP_MOD
            ).alias("fp"),
        )

    od = fp(old).groupBy("bucket").agg(F.sum("fp").alias("dig"))
    nd = fp(new).groupBy("bucket").agg(F.sum("fp").alias("dig"))
    bad = (
        od.alias("od")
        .join(nd.alias("nd"), F.col("od.bucket") == F.col("nd.bucket"), "full_outer")
        .filter(~F.col("od.dig").eqNullSafe(F.col("nd.dig")))
        .select(
            F.coalesce(F.col("od.bucket"), F.col("nd.bucket")).alias("bad_bucket")
        )
    )
    o2 = fp(old).join(
        F.broadcast(bad), F.col("bucket") == F.col("bad_bucket"), "left_semi"
    )
    n2 = fp(new).join(
        F.broadcast(bad), F.col("bucket") == F.col("bad_bucket"), "left_semi"
    )
    j = o2.alias("o").join(
        n2.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    key = F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey"))
    return j.filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    ).select(
        key.alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        (key % _MK_BUCKETS).alias("bucket"),
    )
