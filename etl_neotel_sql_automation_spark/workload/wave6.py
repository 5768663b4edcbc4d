"""Round-6 wave-3 workloads: prefix-filtered set-similarity join,
k-core decomposition, inverted-index sparse cosine, and grid-bucketed
spatial nearest-neighbor — four scale patterns the registry lacked.

Reference parity: the reference (main.py) has no similarity/graph/
spatial surface; these extend the LLM-data-pipeline breadth the brief
mandates (dedup/similarity families) with the standard distributed
shapes for each: prefix filtering (AllPairs/PPJoin) for set-similarity
joins, synchronous peeling for k-core, df-capped inverted-index joins
for sparse cosine, and uniform-grid bucketing for spatial kNN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, _SQL_TOKS, purchase_graph, purchase_pairs, query, table
from ..ops import dedup as D
from ..ops.geo import grid_nearest
from ..ops.graph import kcore_peel
from ..ops.hashing import md5_long, sql_md5_long
from ..ops.text import sparse_cosine_topk

# ---------------------------------------------------------------------------
# dedup_jaccard_prefix — prefix-filtered exact Jaccard threshold join.
# The oracle is the PLAIN brute-force threshold join: prefix filtering
# has no false negatives (prefix-filtering lemma) and candidates are
# exact-verified, so the optimized plan is output-invariant — the
# decontam_bloom_prefilter precedent. Threshold 1/2 kept rational so
# the accept test is exact integer arithmetic on both engines.
# ---------------------------------------------------------------------------


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH t AS (SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM documents),
    tok AS (
      SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
          ELSE CAST([] AS VARCHAR[]) END)) AS tok
      FROM t
    ),
    sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE n_inter * 2 >= (sa.sz + sb.sz - n_inter)
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram-shingle Jaccard >= 0.5 pairs via prefix filtering: the
    candidate self-join reads only each document's
    (|A| - ceil(|A|/2) + 1)-shingle prefix in global df-ascending
    order, then exact-verifies against per-document shingle arrays.
    Output provably equals the brute threshold join (see
    ops.dedup.jaccard_prefix_pairs), so the oracle is the plain
    quadratic with the same integer accept test.

    Shingles, not unigrams: this corpus's 31-token vocabulary makes
    every unigram posting list hot (measured: unigram prefix join at
    sf0.1 emits 445k pairs in ~10 s — prefix filtering can't prune
    when every doc pair shares common tokens); the shingle domain is
    exactly what MinHash-LSH estimates, so this is its EXACT
    threshold-join counterpart. Runs UNBLOCKED (block_col=None): the
    corpus's true near-dup pairs cross source boundaries, and prefix
    filtering is itself the candidate bound — no blocking key needed
    to stay sub-quadratic, which is the AllPairs family's point."""
    return D.jaccard_prefix_pairs(
        table(spark, sf_dir, "documents"), block_col=None, num=1, den=2, gram_n=3
    )


# ---------------------------------------------------------------------------
# graph_kcore — k-core decomposition by synchronous peeling, fixed
# unrolled rounds (the pagerank_int convention: finite dataflow =
# replayable oracle), over the customer-supplier purchase graph.
# ---------------------------------------------------------------------------

# k chosen where peeling actually CASCADES on this graph (sf0.01:
# 1600 -> 193 -> 148 -> 55 nodes over the 3 rounds — each round's
# removals push new nodes below k); at k <= 45 the first round is
# already a fixpoint and the query degenerates to a degree filter.
_K = 48
_ROUNDS = 3


def _kcore_oracle(k: int = _K, rounds: int = _ROUNDS) -> str:
    head = f"""
    WITH raw AS (
      SELECT DISTINCT o_custkey AS a, {GRAPH_SUPP_OFFSET} + l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM raw
              UNION ALL SELECT b AS src, a AS dst FROM raw),
    s0 AS (SELECT DISTINCT src AS id FROM edges)"""
    rounds_sql = []
    for i in range(1, rounds + 1):
        rounds_sql.append(f"""
    d{i} AS (
      SELECT e.src AS id, count(*) AS core_deg
      FROM edges e
      JOIN s{i - 1} x ON e.src = x.id
      JOIN s{i - 1} y ON e.dst = y.id
      GROUP BY e.src
      HAVING count(*) >= {k}
    ),
    s{i} AS (SELECT id FROM d{i})""")
    return (
        head
        + ","
        + ",".join(rounds_sql)
        + f"""
    SELECT id, CAST(core_deg AS BIGINT) AS core_deg FROM d{rounds}
    """
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-core of the customer-supplier purchase graph after 3
    synchronous peel rounds: each round drops nodes with degree < k in
    the surviving subgraph (a real cascade at this k — see _K note).
    Fourth graph-analytics modality (density cores vs components'
    reachability, LPA's communities, triangles' closure) — the
    standard corpus/author-graph curation filter. Integer counts
    end-to-end; the oracle unrolls the rounds as CTEs.
    See ops.graph.kcore_peel for the at-scale shape."""
    pairs = purchase_pairs(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    )
    return kcore_peel(purchase_graph(pairs), k=_K, rounds=_ROUNDS)


# ---------------------------------------------------------------------------
# text_sparse_cosine_topk — sparse cosine similarity via a df-capped
# inverted gram index: the term-at-a-time sparse dot product (join on
# gram, sum tf products) with hot posting lists dropped by a document-
# frequency cap — the classic bound that keeps candidate pairs
# sum(df^2) instead of |D|^2. All-integer cos^2 ppm (no sqrt): exact
# cross-engine hash.
# ---------------------------------------------------------------------------

_DF_CAP = 20
_SHINGLE_N = 3
_TOPK = 50

_SQL_SHINGLES = f"""
      SELECT doc_id AS id, unnest(CASE WHEN len(toks) >= {_SHINGLE_N} THEN
          list_transform(range(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0) + 1),
                         i -> array_to_string(list_slice(toks, i, i + {_SHINGLE_N - 1}), ' '))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)"""


@query(
    "text_sparse_cosine_topk",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    tf AS (SELECT id, sh, count(*) AS tf FROM sh GROUP BY id, sh),
    dfreq AS (
      SELECT sh FROM tf GROUP BY sh
      HAVING count(*) BETWEEN 2 AND {_DF_CAP}
    ),
    tff AS (SELECT tf.* FROM tf JOIN dfreq USING (sh)),
    norms AS (SELECT id, sum(tf * tf) AS nrm FROM tff GROUP BY id),
    dot AS (
      SELECT a.id AS id_a, b.id AS id_b, sum(a.tf * b.tf) AS dot
      FROM tff a JOIN tff b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(dot * dot * 1000000 // (na.nrm * nb.nrm) AS BIGINT) AS cos2_ppm
    FROM dot
    JOIN norms na ON id_a = na.id
    JOIN norms nb ON id_b = nb.id
    ORDER BY cos2_ppm DESC, id_a, id_b
    LIMIT {_TOPK}
    """,
)
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOPK} most-cosine-similar document pairs over sparse
    3-gram tf vectors, computed term-at-a-time through an inverted
    index with posting lists longer than {_DF_CAP} documents dropped
    (df=1 grams can't pair, df>{_DF_CAP} grams are boilerplate whose
    postings would dominate the join — the cap bounds candidate pairs
    by sum(df^2) <= vocab*cap^2 at any corpus size). cos^2 is reported
    in exact integer ppm, avoiding sqrt: dot^2*1e6 div (|a|^2*|b|^2) —
    overflow-safe (dot <= sum tf^2 ~ doc length).

    Complements dedup_token_jaccard (set overlap, unweighted) with the
    COUNT-weighted vector-space similarity a tf-idf retrieval stack
    uses; on a natural corpus the same plan runs over unigrams with
    idf weights — grams here because the synthetic vocabulary is 31
    tokens, so unigram posting lists are all hot. Pipeline lives in
    ops.text.sparse_cosine_topk (also driven by the scale probe on a
    synthetic corpus)."""
    return sparse_cosine_topk(
        table(spark, sf_dir, "documents"),
        df_cap=_DF_CAP,
        shingle_n=_SHINGLE_N,
        k=_TOPK,
    )


# ---------------------------------------------------------------------------
# geo_grid_knn — nearest supplier per customer via uniform-grid
# bucketing: candidates come from the 3x3 cell neighborhood equi-join,
# never the |C|x|S| cross product. Coordinates are md5-derived
# micro-degrees (deterministic, cross-engine), kept NON-NEGATIVE so
# integer division is floor on both engines (Spark `div` truncates
# toward zero, DuckDB `//` floors — they only agree for non-negative
# operands). Distance is exact integer planar micro-degree^2;
# "nearest" is defined within the neighborhood (grid semantics the
# oracle replays verbatim — the md5-replayed-sketch convention).
# ---------------------------------------------------------------------------

_LAT_MOD = 180_000_000
_LON_MOD = 360_000_000
_CELL = 30_000_000


def _geo_oracle() -> str:
    clat = sql_md5_long("'clat|' || CAST(c_custkey AS VARCHAR)")
    clon = sql_md5_long("'clon|' || CAST(c_custkey AS VARCHAR)")
    slat = sql_md5_long("'slat|' || CAST(s_suppkey AS VARCHAR)")
    slon = sql_md5_long("'slon|' || CAST(s_suppkey AS VARCHAR)")
    return f"""
    WITH c AS (
      SELECT c_custkey, {clat} % {_LAT_MOD} AS lat_u, {clon} % {_LON_MOD} AS lon_u
      FROM customer
    ),
    s AS (
      SELECT s_suppkey, {slat} % {_LAT_MOD} AS lat_u, {slon} % {_LON_MOD} AS lon_u
      FROM supplier
    ),
    cc AS (SELECT *, lon_u // {_CELL} AS cx, lat_u // {_CELL} AS cy FROM c),
    sc AS (SELECT *, lon_u // {_CELL} AS cx, lat_u // {_CELL} AS cy FROM s),
    cand AS (
      SELECT cc.c_custkey, sc.s_suppkey,
             (cc.lat_u - sc.lat_u) * (cc.lat_u - sc.lat_u)
             + (cc.lon_u - sc.lon_u) * (cc.lon_u - sc.lon_u) AS dist2
      FROM cc
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dxs
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dys
      JOIN sc ON sc.cx = cc.cx + dxs.dx AND sc.cy = cc.cy + dys.dy
    ),
    ranked AS (
      SELECT c_custkey, s_suppkey, dist2,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dist2, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey, CAST(dist2 AS BIGINT) AS dist2
    FROM ranked WHERE rn = 1
    """


@query("geo_grid_knn", oracle=_geo_oracle())
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer on a synthetic coordinate plane,
    via 30-degree uniform-grid bucketing: each customer probes only the
    9 cells around it (explode over dx,dy in {-1,0,1}^2, equi-join on
    cell), exact integer distances rank the candidates, row_number
    picks the winner with a full (dist2, suppkey) tiebreak.

    At 100 TB: the grid join's cost is 9x the average cell occupancy
    per probe point — O(N * density), never O(N*M); hot cells (skewed
    density) are the salted-skew situation and take the same salt
    treatment. Coordinates derive from md5 so the oracle replays them;
    planar distance (no haversine trig) keeps the whole query in exact
    integer arithmetic. Cross-engine floor-division hazard documented
    at the module constant: all coords are kept non-negative. Grid
    join lives in ops.geo.grid_nearest (also driven by the scale
    probe on synthetic point sets)."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        (md5_long(F.concat(F.lit("clat|"), F.col("c_custkey"))) % _LAT_MOD).alias(
            "lat_u"
        ),
        (md5_long(F.concat(F.lit("clon|"), F.col("c_custkey"))) % _LON_MOD).alias(
            "lon_u"
        ),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("tid"),
        (md5_long(F.concat(F.lit("slat|"), F.col("s_suppkey"))) % _LAT_MOD).alias(
            "lat_u"
        ),
        (md5_long(F.concat(F.lit("slon|"), F.col("s_suppkey"))) % _LON_MOD).alias(
            "lon_u"
        ),
    )
    return grid_nearest(cust, supp, _CELL).select(
        F.col("pid").alias("c_custkey"),
        F.col("tid").alias("nearest_suppkey"),
        "dist2",
    )
