"""Round-6 wave-3e workloads: the remaining graph-analytics family
members (HITS mutual reinforcement, personalized PageRank
recommendations) plus time-decayed customer value and corpus source
clustering — each an exact-integer unrolled/bounded dataflow with a
replayable oracle, the pagerank_int convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, purchase_graph, purchase_pairs, query, table
from ..ops.graph import pagerank_int

_SCALE = 10**12

_EDGES_SQL = f"""
    raw AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )"""


# ---------------------------------------------------------------------------
# graph_hits — HITS (Kleinberg) on the bipartite purchase graph:
# customers are hubs, suppliers are authorities, 2 rounds of mutual
# reinforcement (auth = sum of pointing hubs, hub = sum of pointed
# authorities), each round normalized by the MAX in exact integer
# arithmetic (sum-normalization needs a square root; max-normalization
# is division-free and equally standard). Every round is one edge
# equi-join + one combinable aggregate + a 1-row max broadcast.
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 2
# HITS normalizes AFTER summing: the pre-normalization sum reaches
# n_nodes x scale, and the max-normalization multiplies by scale again
# — so scale^2 x n_nodes must stay under 2^63. 10^6 supports ~9M
# nodes; past that, renormalize with a coarser scale (the knob, like
# _TR_SCALE).
_HITS_SCALE = 10**6


def _hits_oracle(rounds: int = _HITS_ROUNDS, scale: int = _HITS_SCALE) -> str:
    parts = [f"""
    WITH {_EDGES_SQL},
    h0 AS (SELECT DISTINCT c, {scale} AS hub FROM raw)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
    a{i}0 AS (
      SELECT r.s, sum(h.hub) AS auth
      FROM raw r JOIN h{i - 1} h ON r.c = h.c GROUP BY r.s
    ),
    a{i} AS (SELECT s, auth * {scale} // (SELECT max(auth) FROM a{i}0) AS auth
             FROM a{i}0),
    h{i}0 AS (
      SELECT r.c, sum(a.auth) AS hub
      FROM raw r JOIN a{i} a ON r.s = a.s GROUP BY r.c
    ),
    h{i} AS (SELECT c, hub * {scale} // (SELECT max(hub) FROM h{i}0) AS hub
             FROM h{i}0)""")
    return (
        ",".join(parts)
        + f"""
    SELECT s AS suppkey, CAST(auth AS BIGINT) AS authority
    FROM a{rounds}
    ORDER BY authority DESC, suppkey
    LIMIT 25
    """
    )


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 authority suppliers under 2-round HITS over the
    customer->supplier purchase graph. Max-normalized so every round
    stays exact integers (see module comment); the normalizer is a
    1-row aggregate broadcast — construction-bounded. Fifth graph
    modality: mutual reinforcement vs PageRank's random walk."""
    # left LAZY deliberately (r11): a checkpointed variant (raw + each
    # a0/h0 eager) measured SLOWER (2.35 -> 2.74 s best-of-3 at sf0.1)
    # — Spark's exchange reuse already dedupes the repeated raw/a0/h0
    # subtrees in the one-action plan, and eager checkpoints serialize
    # a pipeline that otherwise overlaps on idle cores (the
    # jaccard_prefix_pairs materialize-knob lesson)
    raw = purchase_pairs(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    )
    hub = raw.select("c").distinct().select("c", F.lit(_HITS_SCALE).alias("hub"))
    auth = None
    for _ in range(_HITS_ROUNDS):
        a0 = (
            raw.join(hub, "c")
            .groupBy("s")
            .agg(F.sum("hub").alias("auth"))
        )
        amax = a0.agg(F.max("auth").alias("m"))
        auth = a0.crossJoin(F.broadcast(amax)).select(
            "s", F.expr(f"auth * {_HITS_SCALE} div m").alias("auth")
        )
        h0 = (
            raw.join(auth, "s")
            .groupBy("c")
            .agg(F.sum("auth").alias("hub"))
        )
        hmax = h0.agg(F.max("hub").alias("m"))
        hub = h0.crossJoin(F.broadcast(hmax)).select(
            "c", F.expr(f"hub * {_HITS_SCALE} div m").alias("hub")
        )
    return (
        auth.select(F.col("s").alias("suppkey"), F.col("auth").cast("bigint").alias("authority"))
        .orderBy(F.desc("authority"), "suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# graph_ppr_recommend — personalized PageRank from a seed customer
# segment: the random walk teleports back to the SEED set (not
# uniformly), so mass concentrates around the seeds' neighborhood —
# the standard graph recommendation primitive ("suppliers the
# AUTOMOBILE segment is close to"). The rounds are graph_pagerank's
# (ops.graph.pagerank_int, called with the seed set); excludes
# suppliers the seeds already buy from (anti join) — recommendations,
# not restatements.
# ---------------------------------------------------------------------------

_PPR_ROUNDS = 3


def _ppr_oracle(rounds: int = _PPR_ROUNDS, scale: int = _SCALE) -> str:
    head = f"""
    WITH {_EDGES_SQL},
    seeds AS (
      SELECT DISTINCT c_custkey AS id FROM customer
      WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 50 = 0
    ),
    raw2 AS (SELECT c, {GRAPH_SUPP_OFFSET} + s AS s FROM raw),
    edges AS (SELECT c AS src, s AS dst FROM raw2
              UNION ALL SELECT s, c FROM raw2),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    ns AS (SELECT count(*) AS n FROM seeds),
    r0 AS (
      SELECT n.id, CASE WHEN s.id IS NULL THEN 0
                        ELSE CAST({scale} // ns.n AS BIGINT) END AS rank
      FROM nodes n LEFT JOIN seeds s ON n.id = s.id CROSS JOIN ns
    )"""
    rounds_sql = []
    for i in range(1, rounds + 1):
        rounds_sql.append(f"""
    c{i} AS (
      SELECT e.dst AS id, SUM(r.rank // d.out_deg) AS m
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.id,
             CASE WHEN s.id IS NULL THEN 0
                  ELSE CAST((15 * {scale}) // (100 * ns.n) AS BIGINT) END
               + (85 * COALESCE(c{i}.m, 0)) // 100 AS rank
      FROM nodes n
      LEFT JOIN seeds s ON n.id = s.id
      CROSS JOIN ns
      LEFT JOIN c{i} ON n.id = c{i}.id
    )""")
    return (
        head + "," + ",".join(rounds_sql)
        + f"""
    SELECT id - {GRAPH_SUPP_OFFSET} AS suppkey, CAST(rank AS BIGINT) AS ppr_rank
    FROM r{rounds}
    WHERE id >= {GRAPH_SUPP_OFFSET}
      AND id NOT IN (SELECT {GRAPH_SUPP_OFFSET} + r.s FROM raw r
                     JOIN seeds sd ON r.c = sd.id)
    ORDER BY ppr_rank DESC, suppkey
    LIMIT 25
    """
    )


@query("graph_ppr_recommend", oracle=_ppr_oracle())
def graph_ppr_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 supplier recommendations for a small AUTOMOBILE seed
    cohort via 3-round personalized PageRank (teleport to the seeds),
    minus suppliers the cohort already buys from. Exact
    integer rounds; at 100 TB each round is the pagerank shuffle pair
    and the seed set rides a hash join (never a broadcast hint — AQE
    sizes it)."""
    # the pair frame feeds both the graph and the anti-join side, so it
    # is materialized once (r11, the connected_components lesson)
    pairs = purchase_pairs(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    ).localCheckpoint(eager=True)
    cust = table(spark, sf_dir, "customer")
    # a SMALL cohort (every 50th AUTOMOBILE customer): with the whole
    # segment as seeds, every supplier is already bought by someone in
    # the seed set and the anti join leaves nothing to recommend
    seeds = cust.filter(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_custkey") % 50 == 0)
    ).select(F.col("c_custkey").alias("id"))
    rank = pagerank_int(
        purchase_graph(pairs), iters=_PPR_ROUNDS, scale=_SCALE, seeds=seeds
    )
    bought = (
        pairs.join(seeds, pairs.c == seeds.id)
        .select((F.lit(GRAPH_SUPP_OFFSET) + F.col("s")).alias("id"))
        .distinct()
    )
    return (
        rank.filter(F.col("id") >= GRAPH_SUPP_OFFSET)
        .join(bought, "id", "left_anti")
        .select(
            (F.col("id") - GRAPH_SUPP_OFFSET).alias("suppkey"),
            F.col("rank").cast("bigint").alias("ppr_rank"),
        )
        .orderBy(F.desc("ppr_rank"), "suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# orders_decayed_value — time-decayed customer value with a halving
# half-life: weight = 1 / 2^(age_days div 30), so the decay is exact
# integer arithmetic (piecewise halving — the continuous-exponential
# twin divides by a float power and cannot cross engines bit-stable).
# Age is measured against the corpus max date (1-row broadcast), cents
# stay integers throughout. The freshness-weighted LTV every retention
# stack keeps beside the plain rfm/ltv readouts.
# ---------------------------------------------------------------------------


@query(
    "orders_decayed_value",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
    w AS (
      SELECT o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT)
               // (1 << LEAST(CAST(date_diff('day', o_orderdate, mx.m) AS BIGINT) // 30, 62))
               AS dv_cents
      FROM orders, mx
    )
    SELECT o_custkey AS custkey,
           CAST(sum(dv_cents) AS BIGINT) AS decayed_cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM w GROUP BY o_custkey
    ORDER BY decayed_cents DESC, custkey
    LIMIT 50
    """,
)
def orders_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 customers by half-life-decayed order value (30-day
    halving, integer shift — see module comment). One 1-row max-date
    broadcast + one combinable aggregate; the decay is a scan-side
    projection."""
    orders = table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("m"))
    w = orders.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT)"
            " div (CAST(1 AS BIGINT) << CAST(LEAST(datediff(m, o_orderdate) div 30, 62) AS INT))"
        ).alias("dv_cents"),
    )
    return (
        w.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum("dv_cents").cast("bigint").alias("decayed_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .orderBy(F.desc("decayed_cents"), "custkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# corpus_source_clusters — sources clustered by gram-profile
# similarity: edges where exact source-pair Jaccard >= 1/5, true
# connected components over them (recursive-CTE oracle, the
# dedup_clusters convention). The corpus-curation decision layer on
# top of corpus_source_minhash: "these crawls are the same feed —
# keep one". At 100 TB the edge build swaps in the MinHash estimate
# (corpus_source_minhash's sketch) — same downstream CC.
# ---------------------------------------------------------------------------

_SRC_J_NUM, _SRC_J_DEN = 1, 5


@query(
    "corpus_source_clusters",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT source AS src,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    g0 AS (
      SELECT DISTINCT src, unnest(CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM t
    ),
    sizes AS (SELECT src, count(*) AS sz FROM g0 GROUP BY src),
    inter AS (
      SELECT a.src AS sa, b.src AS sb, count(*) AS n
      FROM g0 a JOIN g0 b ON a.sh = b.sh AND a.src < b.src
      GROUP BY a.src, b.src
    ),
    e0 AS (
      SELECT sa, sb FROM inter
      JOIN sizes za ON sa = za.src
      JOIN sizes zb ON sb = zb.src
      WHERE n * {_SRC_J_DEN} >= {_SRC_J_NUM} * (za.sz + zb.sz - n)
    ),
    edges AS (SELECT sa AS src, sb AS dst FROM e0
              UNION ALL SELECT sb, sa FROM e0),
    nodes AS (SELECT DISTINCT src FROM t),
    reach AS (
      SELECT src AS id, src AS lbl FROM nodes
      UNION
      SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS source, min(lbl) AS cluster,
           CAST(count(*) OVER (PARTITION BY min(lbl)) AS BIGINT) AS cluster_size
    FROM reach GROUP BY id
    """,
)
def corpus_source_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every source labeled with its similarity cluster (min source
    name in the component) and the cluster's size — the "which feeds
    are one feed" readout. Exact integer Jaccard accept test on the
    per-source distinct-gram join, then
    ops.graph.connected_components to the fixpoint."""
    from ..ops.dedup import overlap_pairs, shingles
    from ..ops.graph import connected_components
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    g0 = docs.select(
        F.col("source").alias("id"), F.explode(shingles("text", 3)).alias("el")
    ).distinct()
    e0 = (
        overlap_pairs(g0)
        .filter(
            F.col("n_inter") * _SRC_J_DEN
            >= _SRC_J_NUM * (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        )
        .select(F.col("id_a").alias("sa"), F.col("id_b").alias("sb"))
    )
    nodes = docs.select(F.col("source").alias("id")).distinct()
    cc = connected_components(nodes, e0, src_col="sa", dst_col="sb")
    w = W.partitionBy("component")
    return cc.select(
        F.col("id").alias("source"),
        F.col("component").alias("cluster"),
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# events_pattern_match — MATCH_RECOGNIZE-style sequence patterns: each
# user session (30-min gap rule) becomes an ordered string of event
# initials, and regexes count the behavioral shapes — the funnel idea
# generalized to arbitrary patterns. Session strings are built from
# SORTED struct arrays (collect_list order is partition-dependent;
# array_sort pins it), so the same string forms under any
# parallelism.
# ---------------------------------------------------------------------------

_PM_GAP_S = 1800
_PM_PATTERNS = {
    "view_to_purchase": "v.*c.*p",
    "error_retry": "e.*e",
    "signup_first": "^s",
}


@query(
    "events_pattern_match",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(epoch(ts) AS BIGINT) AS tse, event_id,
             substr(event_type, 1, 1) AS init
      FROM events
    ),
    marked AS (
      SELECT *, CASE WHEN tse - lag(tse) OVER w > {_PM_GAP_S}
                          OR lag(tse) OVER w IS NULL
                     THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY tse, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    strs AS (
      SELECT user_id, sid,
             string_agg(init, '' ORDER BY tse, event_id) AS s
      FROM sess GROUP BY user_id, sid
    )
    SELECT p.pattern,
           CAST(sum(CASE WHEN regexp_matches(s, p.rx) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_total
    FROM strs
    CROSS JOIN (VALUES {", ".join(f"('{k}', '{v}')" for k, v in _PM_PATTERNS.items())})
         AS p(pattern, rx)
    GROUP BY p.pattern
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape counts for three behavioral regexes (funnel
    view->click->purchase, repeated errors, signup-opening) over
    gap-rule sessions rendered as initial-strings. One session window
    + one combinable aggregate per session + a 3-row pattern explode —
    MATCH_RECOGNIZE semantics with no dedicated operator."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("tse"),
        F.substring("event_type", 1, 1).alias("init"),
    )
    w = W.partitionBy("user_id").orderBy("tse", "event_id")
    marked = e.select(
        "*",
        F.when(
            (F.col("tse") - F.lag("tse").over(w) > _PM_GAP_S)
            | F.lag("tse").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(W.unboundedPreceding, 0)
    sess = marked.select("*", F.sum("is_new").over(cum).alias("sid"))
    strs = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tse", "event_id", "init"))
                ),
                lambda s: s["init"],
            ),
            "",
        ).alias("s")
    )
    pats = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("pattern"), F.lit(v).alias("rx"))
                for k, v in _PM_PATTERNS.items()
            ]
        )
    ).alias("p")
    return (
        strs.select("s", pats)
        .groupBy(F.col("p.pattern").alias("pattern"))
        .agg(
            F.sum(
                F.when(F.regexp_like("s", F.col("p.rx")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sessions"),
            F.count("*").cast("bigint").alias("n_total"),
        )
    )
