"""Round-6 wave-4 workloads: the retrieval-serving, data-governance
and remaining-analytics passes that sit beside the curation pipeline —
hybrid reciprocal-rank fusion, inverted-index construction,
cross-source quantile calibration, k-anonymity + l-diversity privacy
audits, Resource-Allocation link prediction, golden-record
survivorship, seed-deterministic epoch shuffling, Matryoshka
truncation recall, chi-square independence, sweep-line concurrency,
weighted medians, BFS hop histograms, compaction planning, daily
autocorrelation, and feed-freshness SLAs.

Determinism rules (house style, see workload/__init__ docstring):
ranks and fused scores are exact integers (reciprocal ranks in parts
per billion via integer division); per-doc quality lands in ppm ints
before any cross-engine comparison; posting lists are rendered from
rank-sorted struct arrays so the same string forms under any
parallelism; every ORDER BY carries a full unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import GRAPH_SUPP_OFFSET, _SQL_TOKS, purchase_graph, purchase_pairs, query, table
from ..ops import similarity as S
from ..ops import text as X
from ..ops.graph import bfs
from ..ops.hashing import md5_long, sql_md5_long
from .corpus_mining import BM25_SCORED_SQL, bm25_doc_scores
from .llm_ops import _SQL_QUALITY
from .wave6d import _EDGES_SQL

# ---------------------------------------------------------------------------
# sim_rrf_fusion — hybrid search: the lexical BM25 ranking and the
# dense cosine ranking fused by Reciprocal Rank Fusion
# (Cormack et al. 2009): rrf(d) = Σ_legs 1/(60 + rank_leg(d)).
# The standard way a RAG/search stack combines a sparse and a dense
# retriever without score calibration — only RANKS cross the fusion
# boundary, so the two legs' incomparable score scales never meet.
# Reciprocal ranks are integers in parts-per-billion (10^9 div
# (60 + rank)), so the fused score is exact and engine-replayable.
#
# Scale shape: each leg is its own bounded top-DEPTH (TakeOrdered /
# per-query window); the fusion joins two ≤DEPTH-row frames — a
# construction-bounded join at any corpus size. The dense query is a
# single probe vector (vec_id 0); the lexical query is the fixed BM25
# term set. documents and embeddings share the id space (vec_id ⊆
# doc_id on the driver's testdata), which is exactly the "dense
# vectors exist for a slice of the corpus" deployment — the full
# outer join keeps docs only one retriever can see.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 100
_RRF_PPB = 10**9


@query(
    "sim_rrf_fusion",
    oracle=f"""
    WITH lex0 AS ({BM25_SCORED_SQL}),
    lex AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                          AS INTEGER) AS lex_rank
      FROM lex0 QUALIFY lex_rank <= {_RRF_DEPTH}
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    dense0 AS (
      SELECT vec_id AS n_id, round(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 6) AS sim
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
    ),
    dense AS (
      SELECT n_id, CAST(row_number() OVER (ORDER BY sim DESC, n_id)
                        AS INTEGER) AS dense_rank
      FROM dense0 QUALIFY dense_rank <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT coalesce(lex.doc_id, dense.n_id) AS doc_id, lex_rank, dense_rank,
             coalesce({_RRF_PPB} // (CAST({_RRF_K} AS BIGINT) + lex_rank), 0)
               + coalesce({_RRF_PPB} // (CAST({_RRF_K} AS BIGINT) + dense_rank), 0)
               AS rrf_ppb
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.n_id
    )
    SELECT doc_id, lex_rank, dense_rank, CAST(rrf_ppb AS BIGINT) AS rrf_ppb
    FROM fused
    ORDER BY rrf_ppb DESC, doc_id
    LIMIT 20
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hybrid-search results: BM25 top-100 and dense cosine
    top-100 (probe = vec_id 0) fused by integer reciprocal-rank
    fusion (k=60, ppb units). Each leg bounds itself before the
    fusion join — orderBy+limit is a distributed TakeOrdered, the
    rank window then runs over ≤100 rows — so the fusion never sees
    more than 2×DEPTH rows regardless of corpus size."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex_top = bm25_doc_scores(docs).orderBy(F.desc("score"), "doc_id").limit(_RRF_DEPTH)
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score"), "doc_id"))
        .cast("int")
        .alias("lex_rank"),
    )
    dense = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=_RRF_DEPTH
    ).select("n_id", F.col("rank").cast("int").alias("dense_rank"))
    rr = lambda c: F.coalesce(  # noqa: E731
        F.expr(f"{_RRF_PPB} div (CAST({_RRF_K} AS BIGINT) + {c})"), F.lit(0).cast("long")
    )
    return (
        lex.join(dense, lex.doc_id == dense.n_id, "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("n_id")).alias("doc_id"),
            "lex_rank",
            "dense_rank",
            (rr("lex_rank") + rr("dense_rank")).cast("bigint").alias("rrf_ppb"),
        )
        .orderBy(F.desc("rrf_ppb"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_inverted_index — search-index construction: per-term document
# frequency, total term frequency, and a CAPPED posting list (top-5
# docs by tf). The build side of the BM25 family: what a distributed
# indexer materializes per shard before segment merge. The cap is the
# scale decision — uncapped posting lists make a single hot term a
# single giant row ("the" at 100 TB is a multi-GB posting); capping
# at k keeps every output row bounded while df/total_tf stay exact
# combinable aggregates. Postings render from rank-sorted struct
# arrays, so the string is parallelism-independent.
# ---------------------------------------------------------------------------

_INV_TOP_TERMS = 50
_INV_POSTINGS = 5


@query(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY term, doc_id
    ),
    stats AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term
    ),
    ranked AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS r
      FROM tf
    ),
    post AS (
      SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY r) AS postings
      FROM ranked WHERE r <= {_INV_POSTINGS} GROUP BY term
    )
    SELECT term, df, total_tf, postings
    FROM stats JOIN post USING (term)
    ORDER BY df DESC, term
    LIMIT {_INV_TOP_TERMS}
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms by document frequency with exact df/total_tf and
    the capped top-5 posting list per term. One (term, doc) aggregate
    feeds both legs: stats is a per-term combinable aggregate, the
    posting window partitions BY TERM (no global window), and the cap
    bounds row width before anything is collected."""
    return inverted_index_frame(table(spark, sf_dir, "documents"))


def inverted_index_frame(docs: DataFrame) -> DataFrame:
    """text_inverted_index over any documents-shaped frame (probed at
    1x/10x/100x by tools/scale_probe.py wave7)."""
    tok = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    w = W.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    post = (
        tf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _INV_POSTINGS)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("r", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        stats.join(post, "term")
        .select("term", "df", "total_tf", "postings")
        .orderBy(F.desc("df"), "term")
        .limit(_INV_TOP_TERMS)
    )


# ---------------------------------------------------------------------------
# quality_quantile_normalize — cross-source score calibration by
# quantile normalization (the microarray method): each source's i-th
# order statistic is replaced by the AVERAGE i-th order statistic
# across sources, so every source ends up with the same score
# distribution and a single global quality threshold treats sources
# fairly — the fix for "source A's scorer runs hot". Scores are ppm
# integers before normalization; the reference value at each rank is
# an integer mean (sum div count), so the whole map is exact.
#
# Scale shape: rank windows partition BY SOURCE (a source's documents
# co-locate; no global window), the reference distribution is one
# combinable per-rank aggregate, and the map-back is an equi-join on
# rank. With unequal source sizes the per-rank mean runs over the
# sources that reach that rank — the standard generalization (full
# interpolation would need a fractional-rank join; this form stays
# exact-integer).
# ---------------------------------------------------------------------------

_SQL_SCORE_PPM = f"CAST(round(round({_SQL_QUALITY}, 6) * 1000000e0) AS BIGINT)"


@query(
    "quality_quantile_normalize",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, {_SQL_SCORE_PPM} AS score_ppm FROM documents
    ),
    r AS (
      SELECT doc_id, source, score_ppm,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY score_ppm, doc_id) AS INTEGER) AS rnk
      FROM s
    ),
    ref AS (
      SELECT rnk, CAST(sum(score_ppm) // count(*) AS BIGINT) AS norm_ppm
      FROM r GROUP BY rnk
    )
    SELECT doc_id, source, score_ppm, rnk, norm_ppm
    FROM r JOIN ref USING (rnk)
    """,
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's quality score quantile-normalized across
    sources: within-source rank, per-rank integer mean over sources
    as the reference distribution, map-back by rank equi-join. The
    calibrated `norm_ppm` is what a single corpus-wide quality
    threshold should cut on."""
    return quantile_normalize_frame(table(spark, sf_dir, "documents"))


def quantile_normalize_frame(docs: DataFrame) -> DataFrame:
    """quality_quantile_normalize over any (doc_id, source, text)
    frame — the probe-reusable body."""
    s = docs.select(
        "doc_id",
        "source",
        (F.round(F.round(X.quality_score("text"), 6) * F.lit(1000000.0)))
        .cast("bigint")
        .alias("score_ppm"),
    )
    r = s.select(
        "*",
        F.row_number()
        .over(W.partitionBy("source").orderBy("score_ppm", "doc_id"))
        .cast("int")
        .alias("rnk"),
    )
    ref = r.groupBy("rnk").agg(
        F.expr("CAST(sum(score_ppm) div count(*) AS BIGINT)").alias("norm_ppm")
    )
    return r.join(ref, "rnk").select("doc_id", "source", "score_ppm", "rnk", "norm_ppm")


# ---------------------------------------------------------------------------
# privacy_k_anonymity — governance audit: group the customer table by
# a quasi-identifier triple (nation, segment, coarse balance band)
# and measure re-identification risk per nation: how many QI groups
# exist, how many are smaller than k=5, how many rows sit in those
# risky groups, and the minimum group size. The pre-release check a
# data-sharing pipeline runs before publishing "anonymized" extracts;
# rows_at_risk is what generalization/suppression must treat. Two
# combinable aggregates — QI group sizes, then per-nation rollup —
# shuffle on uniform keys at any scale.
# ---------------------------------------------------------------------------

_KANON_K = 5


@query(
    "privacy_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS k
      FROM customer
      GROUP BY c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000e0) AS BIGINT)
    )
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN k < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(sum(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(min(k) AS BIGINT) AS min_k
    FROM g GROUP BY c_nationkey
    ORDER BY nationkey
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation k-anonymity readout over the (nation, segment,
    1000-unit balance band) quasi-identifier: group count, groups
    below k=5, rows those groups expose, and the worst (minimum)
    group size."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(floor(c_acctbal / 1000e0) AS BIGINT)").alias("band"),
    ).agg(F.count("*").alias("k"))
    return (
        g.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("k") < _KANON_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_risky_groups"),
            F.sum(F.when(F.col("k") < _KANON_K, F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.min("k").cast("bigint").alias("min_k"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# graph_link_predict — link prediction on the bipartite purchase
# graph by the Resource Allocation index (Zhou/Lü/Zhang 2009):
# RA(a,b) = Σ_{s ∈ N(a)∩N(b)} 1/deg(s) — common-neighbor evidence
# where RARE shared suppliers count more than hubs. The integer-exact
# cousin of Adamic-Adar (1/ln deg needs a log; 1/deg in ppb units
# divides exactly), and in practice the stronger predictor. Candidate
# pairs come only from a probe cohort's edges joined to the edge list
# on the shared supplier — never all customer pairs — so candidate
# volume is |probe edges| × avg supplier degree. A hub supplier's
# quadratic fan-out is self-limiting here (its 1/deg contribution
# vanishes); a deployment would additionally drop deg > D suppliers
# from candidate GENERATION (the contribution floor makes that loss
# quantifiable: dropped mass ≤ n_common/D ppb per pair).
# ---------------------------------------------------------------------------

_RA_PPB = 10**9


@query(
    "graph_link_predict",
    oracle=f"""
    WITH{_EDGES_SQL},
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM raw GROUP BY s),
    pr AS (SELECT c, s FROM raw WHERE c % 100 = 0),
    pairs AS (
      SELECT pr.c AS a, r.c AS b,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum({_RA_PPB} // d.deg) AS BIGINT) AS ra_ppb
      FROM pr
      JOIN raw r ON pr.s = r.s AND pr.c <> r.c
      JOIN deg d ON pr.s = d.s
      GROUP BY pr.c, r.c
    )
    SELECT a, b, n_common, ra_ppb
    FROM pairs
    ORDER BY ra_ppb DESC, a, b
    LIMIT 25
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 predicted customer–customer affinities for the probe
    cohort (every 100th customer) by integer Resource Allocation over
    shared suppliers. Three equi-joins on the supplier key + one
    combinable aggregate; the supplier-degree table joins on the same
    key the candidates shuffle on, so AQE can co-plan them."""
    return link_predict_frame(
        purchase_pairs(table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem"))
    )


def link_predict_frame(raw: DataFrame) -> DataFrame:
    """graph_link_predict over any (c, s) bipartite edge frame — the
    probe-reusable body."""
    deg = raw.groupBy("s").agg(F.count("*").alias("deg"))
    pr = raw.filter(F.col("c") % 100 == 0).select(
        F.col("c").alias("a"), "s"
    )
    return (
        pr.join(raw.select(F.col("c").alias("b"), "s"), "s")
        .filter(F.col("a") != F.col("b"))
        .join(deg, "s")
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(F.expr(f"{_RA_PPB} div deg")).cast("bigint").alias("ra_ppb"),
        )
        .orderBy(F.desc("ra_ppb"), "a", "b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# timeseries_acf — sample autocorrelation of the daily order count at
# lags 1..7, on the zero-filled calendar series. Centering is exact:
# b_t = n·x_t − Σx (scaling the mean out without dividing), so
# numerator and denominator are exact BIGINTs and the only float is
# the final ratio — one identically-structured IEEE divide, rounded
# to 6 on both engines. The weekly-seasonality detector behind the
# seasonality profile: a lag-7 peak says "weekday pattern".
#
# Scale: b_t ~ n·x_t, so Σb² ~ n·(n·x̄)²; with daily grain n stays
# ~10³ and x̄ is the only growing factor — at 10⁶ orders/day the sum
# sits ~10²¹ past BIGINT, so renormalize b_t by a fixed divisor (the
# _HITS_SCALE-style knob) or aggregate hourly. The calendar explode
# is a 1-row sequence (bounded by days, not data).
# ---------------------------------------------------------------------------

_ACF_LAGS = 7


@query(
    "timeseries_acf",
    oracle=f"""
    WITH o AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dn
      FROM orders
    ),
    cnt AS (SELECT dn, CAST(count(*) AS BIGINT) AS x FROM o GROUP BY dn),
    rng AS (SELECT min(dn) AS mn, max(dn) AS mx FROM o),
    cal AS (
      SELECT dn, coalesce(x, 0) AS x
      FROM (SELECT unnest(range(mn, mx + 1)) AS dn FROM rng)
      LEFT JOIN cnt USING (dn)
    ),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
             FROM cal),
    b AS (SELECT dn, n * x - s AS b FROM cal CROSS JOIN scal),
    den AS (SELECT CAST(sum(b * b) AS BIGINT) AS den FROM b),
    num AS (
      SELECT lag, CAST(sum(a.b * c.b) AS BIGINT) AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM b a
      CROSS JOIN (SELECT unnest(range(1, {_ACF_LAGS} + 1)) AS lag) l
      JOIN b c ON c.dn = a.dn + lag
      GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
           round(num * 1.0e0 / den, 6) AS acf
    FROM num CROSS JOIN den
    ORDER BY lag
    """,
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily order counts over the
    zero-filled calendar (see module comment for the exact-integer
    centering). The lag pairing is an integer equi-join on day
    number + lag; the calendar comes from one 1-row min/max
    sequence explode."""
    orders = table(spark, sf_dir, "orders")
    o = orders.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("dn")
    )
    cnt = o.groupBy("dn").agg(F.count("*").alias("x"))
    rng = o.agg(F.min("dn").alias("mn"), F.max("dn").alias("mx"))
    cal = (
        rng.select(F.explode(F.sequence("mn", "mx")).alias("dn"))
        .join(cnt, "dn", "left")
        .select("dn", F.coalesce("x", F.lit(0)).alias("x"))
    )
    scal = cal.agg(F.count("*").alias("n"), F.sum("x").cast("bigint").alias("s"))
    b = cal.crossJoin(F.broadcast(scal)).select(
        "dn", (F.col("n") * F.col("x") - F.col("s")).alias("b")
    )
    den = b.agg(F.sum(F.col("b") * F.col("b")).cast("bigint").alias("den"))
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, _ACF_LAGS + 1)])).alias("lag")
    left = b.select(F.col("dn").alias("adn"), F.col("b").alias("ab"), lags)
    right = b.select(F.col("dn").alias("cdn"), F.col("b").alias("cb"))
    num = (
        left.join(right, F.col("cdn") == F.col("adn") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("ab") * F.col("cb")).cast("bigint").alias("num"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(F.col("num") * F.lit(1.0) / F.col("den"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# io_compaction_bins — the small-file compaction planner: treat each
# source as one "file" of Σ n_chars bytes, sort descending, and
# assign files to target-size output bins by where each file's
# cumulative START offset lands (next-fit-decreasing — the one-pass,
# window-expressible member of the bin-packing family; first-fit
# needs sequential per-bin state and buys little at a fixed target).
# The plan every table maintenance job (OPTIMIZE / rewrite-small-
# files) computes before rewriting. The cumsum window is global BUT
# runs over MANIFEST rows (one per file, ~10⁶ at 100 TB), not data
# rows — a single-task window over file metadata is the normal shape
# for a compaction planner; shard by table partition if manifests
# outgrow that.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 12_000


@query(
    "io_compaction_bins",
    oracle=f"""
    WITH files AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source
    ),
    ord AS (
      SELECT source, bytes,
             sum(bytes) OVER (ORDER BY bytes DESC, source
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM files
    ),
    binned AS (
      SELECT source, bytes, CAST((cum - bytes) // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM ord
    ),
    stats AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS bin_files,
             CAST(sum(bytes) AS BIGINT) AS bin_bytes
      FROM binned GROUP BY bin
    )
    SELECT source, bytes, bin, bin_files, bin_bytes
    FROM binned JOIN stats USING (bin)
    ORDER BY bin, bytes DESC, source
    """,
)
def io_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan for the per-source document "files": each file's
    target bin (12 kB target, next-fit-decreasing by cumulative start
    offset) plus per-bin file count and total bytes. One combinable
    size aggregate, one manifest-scale cumsum window, one bin
    aggregate joined back on the bin id."""
    docs = table(spark, sf_dir, "documents")
    files = docs.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    w = W.orderBy(F.desc("bytes"), "source").rowsBetween(W.unboundedPreceding, 0)
    binned = (
        files.withColumn("cum", F.sum("bytes").over(w))
        .select(
            "source",
            "bytes",
            F.expr(f"CAST((cum - bytes) div {_COMPACT_TARGET} AS BIGINT)").alias("bin"),
        )
    )
    stats = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("bin_files"),
        F.sum("bytes").cast("bigint").alias("bin_bytes"),
    )
    return (
        binned.join(stats, "bin")
        .select("source", "bytes", "bin", "bin_files", "bin_bytes")
        .orderBy("bin", F.desc("bytes"), "source")
    )


# ---------------------------------------------------------------------------
# link_golden_record — survivorship on top of the entity-resolution
# links: each linked cluster (master + its matched probes) collapses
# to ONE golden record by per-field rules — name by majority vote
# (tie → lexicographic min, so two-member clusters resolve
# deterministically), balance by MAX ("most recent wins" with the
# drifted probe cents standing in for staleness), plus the member
# count auditors ask for. The MDM (master-data-management) step that
# consumes link_customer_entities' output; both queries embed the
# same link definition (wave6c.PROBES_SQL/SCORED_SQL), so the golden
# records cannot drift from the link table.
# ---------------------------------------------------------------------------

from .wave6c import PROBES_SQL, SCORED_SQL, link_customer_entities, probe_frame  # noqa: E402


@query(
    "link_golden_record",
    oracle=f"""
    WITH {PROBES_SQL},
    {SCORED_SQL},
    links AS (SELECT probe_key, match_key FROM scored WHERE score >= 45),
    masters AS (
      SELECT DISTINCT l.match_key AS entity_key, c_name AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cent
      FROM links l JOIN customer ON l.match_key = c_custkey
    ),
    probe_members AS (
      SELECT l.match_key AS entity_key, p.p_name AS name,
             p.p_bal_cent AS bal_cent
      FROM links l JOIN probes p ON l.probe_key = p.probe_key
    ),
    members AS (SELECT * FROM masters UNION ALL SELECT * FROM probe_members),
    votes AS (
      SELECT entity_key, name, CAST(count(*) AS BIGINT) AS votes
      FROM members GROUP BY entity_key, name
    ),
    best_name AS (
      SELECT entity_key, name AS golden_name
      FROM votes
      QUALIFY row_number() OVER (PARTITION BY entity_key
                                 ORDER BY votes DESC, name) = 1
    ),
    agg AS (
      SELECT entity_key, CAST(max(bal_cent) AS BIGINT) AS golden_bal_cents,
             CAST(count(*) AS BIGINT) AS n_members
      FROM members GROUP BY entity_key
    )
    SELECT entity_key, golden_name, golden_bal_cents, n_members
    FROM agg JOIN best_name USING (entity_key)
    ORDER BY entity_key
    """,
)
def link_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One golden record per resolved entity: majority-vote name
    (lexicographic-min tiebreak), max balance, member count. All
    survivorship rules are per-entity combinable aggregates or
    entity-partitioned windows — the cluster key shards the work at
    any scale."""
    cust = table(spark, sf_dir, "customer")
    links = link_customer_entities(spark, sf_dir).select("probe_key", "match_key")
    probes = probe_frame(cust)
    masters = (
        links.select("match_key")
        .distinct()
        .join(cust, F.col("match_key") == F.col("c_custkey"))
        .select(
            F.col("match_key").alias("entity_key"),
            F.col("c_name").alias("name"),
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cent"),
        )
    )
    pm = links.join(probes, "probe_key").select(
        F.col("match_key").alias("entity_key"),
        F.col("p_name").alias("name"),
        F.col("p_bal_cent").alias("bal_cent"),
    )
    members = masters.unionByName(pm)
    votes = members.groupBy("entity_key", "name").agg(F.count("*").alias("votes"))
    wv = W.partitionBy("entity_key").orderBy(F.desc("votes"), "name")
    best = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("entity_key", F.col("name").alias("golden_name"))
    )
    agg = members.groupBy("entity_key").agg(
        F.max("bal_cent").cast("bigint").alias("golden_bal_cents"),
        F.count("*").cast("bigint").alias("n_members"),
    )
    return (
        agg.join(best, "entity_key")
        .select("entity_key", "golden_name", "golden_bal_cents", "n_members")
        .orderBy("entity_key")
    )


# ---------------------------------------------------------------------------
# train_epoch_shuffle — seed-reproducible epoch shuffling + sharding:
# every sample gets a pseudorandom key md5(seed:doc_id), shard =
# key mod n_shards, within-shard order = by key. The property a
# training job needs — epoch 2's permutation differs from epoch 1's
# (different seed string) yet any worker can recompute ITS shard's
# exact order from (seed, shard) alone, with NO global sort: the
# shard assignment is a hash partition and the ordering window runs
# per shard. md5 keeps the permutation replayable across engines
# (ops/hashing.py convention; swap xxhash64 in production for speed,
# same plan).
# ---------------------------------------------------------------------------

_SHUF_SEED = "ep1"
_SHUF_SHARDS = 8
_SHUF_HEAD = 5

_SHUF_KEY_SQL = sql_md5_long(f"'{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)")


@query(
    "train_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, {_SHUF_KEY_SQL} AS key,
             {_SHUF_KEY_SQL} % {_SHUF_SHARDS} AS shard
      FROM documents
    ),
    pos AS (
      SELECT shard, doc_id,
             row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS p
      FROM keyed
    ),
    heads AS (
      SELECT shard, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY p) AS head_ids
      FROM pos WHERE p <= {_SHUF_HEAD} GROUP BY shard
    ),
    stats AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_samples FROM keyed GROUP BY shard
    )
    SELECT CAST(shard AS BIGINT) AS shard, n_samples, head_ids
    FROM stats JOIN heads USING (shard)
    ORDER BY shard
    """,
)
def train_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard sample counts and the first 5 doc_ids of each
    shard's seed-deterministic permutation (seed "ep1", 8 shards).
    Shard sizes prove the hash balances; the heads prove the order is
    the function of (seed, shard) a resumable loader requires."""
    return epoch_shuffle_frame(table(spark, sf_dir, "documents"))


def epoch_shuffle_frame(docs: DataFrame) -> DataFrame:
    """train_epoch_shuffle over any documents-shaped frame — the
    probe-reusable body."""
    key = md5_long(F.concat(F.lit(_SHUF_SEED + ":"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("key"), (key % _SHUF_SHARDS).alias("shard"))
    wp = W.partitionBy("shard").orderBy("key", "doc_id")
    pos = keyed.select("shard", "doc_id", F.row_number().over(wp).alias("p"))
    heads = (
        pos.filter(F.col("p") <= _SHUF_HEAD)
        .groupBy("shard")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("head_ids")
        )
    )
    stats = keyed.groupBy("shard").agg(F.count("*").cast("bigint").alias("n_samples"))
    return (
        stats.join(heads, "shard")
        .select(F.col("shard").cast("bigint").alias("shard"), "n_samples", "head_ids")
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_recall — dimension-truncation quality meter: exact
# top-10 neighbors under the FULL 64-dim cosine vs exact top-10 under
# the first-16-dims prefix (the Matryoshka representation-learning
# deployment: serve the cheap prefix, fall back to full vectors), per
# probe. The house meter pattern (dedup_*_quality / sim_margin_quality)
# applied to the dimension knob: recall_ppm says what the 4× cheaper
# distance actually costs. Both legs are the brute_force_topk plan —
# broadcast probe rows × one corpus scan each; the prefix slice is a
# scan-side projection.
# ---------------------------------------------------------------------------

_MAT_DIMS = 16
_MAT_K = 10


@query(
    "emb_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
    full_rank AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY round(list_cosine_similarity(qv, nv), 6) DESC,
                                         n_id) AS rank
      FROM q JOIN c ON q_id <> n_id
    ),
    trunc_rank AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY round(list_cosine_similarity(
                                    list_slice(qv, 1, {_MAT_DIMS}),
                                    list_slice(nv, 1, {_MAT_DIMS})), 6) DESC,
                                         n_id) AS rank
      FROM q JOIN c ON q_id <> n_id
    ),
    hits AS (
      SELECT f.q_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM full_rank f
      JOIN trunc_rank t ON f.q_id = t.q_id AND f.n_id = t.n_id
      WHERE f.rank <= {_MAT_K} AND t.rank <= {_MAT_K}
      GROUP BY f.q_id
    ),
    probes AS (SELECT q_id FROM q)
    SELECT p.q_id, coalesce(n_hits, 0) AS n_hits,
           CAST(coalesce(n_hits, 0) * 1000000 // {_MAT_K} AS BIGINT) AS recall_ppm
    FROM probes p LEFT JOIN hits ON p.q_id = hits.q_id
    ORDER BY p.q_id
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall of prefix-truncated (16 of 64 dims) exact
    top-10 against full-dim exact top-10, in ppm. Two brute-force
    legs over the same scan + one small equi-join on (probe,
    neighbor); at 100 TB each leg is the documented brute-force
    baseline shape — the meter runs on a hash-sample as the sampled
    quality twins demonstrate."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    full = S.brute_force_topk(emb, probes, k=_MAT_K).select("q_id", "n_id")
    tr = lambda df: df.withColumn("embedding", F.slice("embedding", 1, _MAT_DIMS))  # noqa: E731
    trunc = S.brute_force_topk(tr(emb), tr(probes), k=_MAT_K).select("q_id", "n_id")
    hits = full.join(trunc, ["q_id", "n_id"]).groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    return (
        probes.select(F.col("vec_id").alias("q_id"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            F.expr(f"CAST(coalesce(n_hits, 0) * 1000000 div {_MAT_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# events_chi_square — chi-square test of independence between event
# type and day-of-week: is behavior uniform across the week, or do
# event mixes shift by day? The categorical sibling of events_ab_test.
# Per-cell terms (O·N − R·C)²/(N·R·C) are computed in ONE identically-
# structured IEEE expression from exact integer marginals, then
# rounded to micro units per cell BEFORE summing — the integer sum is
# order-free, so parallel aggregation cannot wiggle the statistic.
# Marginals are three combinable aggregates; the cell table is
# |types| × 7 rows at any event volume. At extreme counts the O·N
# products leave the double's exact-integer range together — compute
# the cell term in HUGEINT/DECIMAL there; the shape is unchanged.
# ---------------------------------------------------------------------------


@query(
    "events_chi_square",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow
      FROM events
    ),
    cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
              FROM e GROUP BY event_type, dow),
    rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type),
    cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c2 FROM cells GROUP BY dow),
    n_ AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT cells.event_type,
             CAST(round(
               (o * 1.0e0 * n - r * 1.0e0 * c2) * (o * 1.0e0 * n - r * 1.0e0 * c2)
               / (n * 1.0e0 * r * c2) * 1000000e0
             ) AS BIGINT) AS term_micro
      FROM cells JOIN rows_ USING (event_type) JOIN cols_ USING (dow) CROSS JOIN n_
    )
    SELECT event_type, CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
           CAST(count(*) - 1 AS BIGINT) AS dof
    FROM terms GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type chi-square contribution (micro units) for the
    type × day-of-week independence test, with the per-type degrees
    of freedom. Sum the column for the table-wide statistic; a large
    per-type value localizes WHICH behavior is day-dependent."""
    ev = table(spark, sf_dir, "events")
    e = ev.select("event_type", F.dayofweek(F.col("ts").cast("date")).cast("bigint").alias("dow"))
    cells = e.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    cols_ = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c2"))
    n_ = cells.agg(F.sum("o").cast("bigint").alias("n"))
    terms = (
        cells.join(rows_, "event_type")
        .join(cols_, "dow")
        .crossJoin(F.broadcast(n_))
        .select(
            "event_type",
            F.expr(
                "CAST(round("
                "(o * 1.0e0 * n - r * 1.0e0 * c2) * (o * 1.0e0 * n - r * 1.0e0 * c2)"
                " / (n * 1.0e0 * r * c2) * 1000000e0"
                ") AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.sum("term_micro").cast("bigint").alias("chi2_micro"),
            (F.count("*") - 1).cast("bigint").alias("dof"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_concurrency — peak concurrency per day by the sweep-line
# rule: every event opens a 30-minute activity interval, intervals
# are clipped at midnight (a window crossing it contributes its
# remainder to the NEXT day's sweep — the +1 carries over, so no
# day's running sum can go negative), then +1/-1 deltas accumulate in
# event-time order and the per-day maximum is the answer. The
# capacity-planning readout ("how many concurrent windows must the
# serving tier hold?"). The sweep window partitions BY DAY — at any
# event volume each day's sweep is an independent partition; ties at
# the same instant process -1 before +1 (an interval ending exactly
# when another starts does not overlap it).
# ---------------------------------------------------------------------------

_CONC_WIN_S = 1800
_SECS_DAY = 86400


@query(
    "events_concurrency",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, CAST(epoch(ts) AS BIGINT) AS s,
             CAST(epoch(ts) AS BIGINT) + {_CONC_WIN_S} AS e
      FROM events
    ),
    seg AS (
      SELECT event_id,
             greatest(s, d * {_SECS_DAY}) AS ss,
             least(e, (d + 1) * {_SECS_DAY}) AS se,
             d
      FROM (SELECT event_id, s, e,
                   unnest(range(s // {_SECS_DAY}, (e - 1) // {_SECS_DAY} + 1)) AS d
            FROM iv)
    ),
    pts AS (
      SELECT d, ss AS t, 1 AS delta, event_id FROM seg
      UNION ALL
      SELECT d, se AS t, -1 AS delta, event_id FROM seg
    ),
    swept AS (
      SELECT d, sum(delta) OVER (PARTITION BY d ORDER BY t, delta, event_id
                                 ROWS UNBOUNDED PRECEDING) AS conc
      FROM pts
    )
    SELECT CAST(d AS BIGINT) AS day_num, CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY d
    ORDER BY day_num
    """,
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak number of simultaneously-open 30-minute event
    windows (midnight-clipped sweep line; see block comment for the
    tie and carry-over rules)."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + _CONC_WIN_S).alias("e"),
    )
    seg = iv.select(
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {_SECS_DAY}"), F.expr(f"(e - 1) div {_SECS_DAY}")
            )
        ).alias("d"),
    ).select(
        "event_id",
        "d",
        F.greatest(F.col("s"), F.col("d") * _SECS_DAY).alias("ss"),
        F.least(F.col("e"), (F.col("d") + 1) * _SECS_DAY).alias("se"),
    )
    pts = seg.select("d", F.col("ss").alias("t"), F.lit(1).alias("delta"), "event_id").union(
        seg.select("d", F.col("se").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    w = W.partitionBy("d").orderBy("t", "delta", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    swept = pts.select("d", F.sum("delta").over(w).alias("conc"))
    return (
        swept.groupBy(F.col("d").cast("bigint").alias("day_num"))
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
        .orderBy("day_num")
    )


# ---------------------------------------------------------------------------
# lineitem_weighted_median — quantity-weighted median price per
# return flag: order rows by price within each group, accumulate the
# integer weights, and take the first row whose cumulative weight
# reaches half the total (2·cum ≥ W with 2·(cum−w) < W identifies
# exactly one crossing row — the lower weighted median, a pure
# integer rule both engines replay). The robust price statistic a
# pricing monitor keeps beside the plain percentiles: a few huge
# orders cannot drag it. Cumsum windows partition by the group key;
# weights and cents stay BIGINT end-to-end.
# ---------------------------------------------------------------------------


@query(
    "lineitem_weighted_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, price_cents, w,
             sum(w) OVER (PARTITION BY flag
                          ORDER BY price_cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY flag) AS tot
      FROM r
    )
    SELECT flag, CAST(price_cents AS BIGINT) AS median_price_cents,
           CAST(tot AS BIGINT) AS total_weight
    FROM c
    WHERE 2 * cum >= tot AND 2 * (cum - w) < tot
    ORDER BY flag
    """,
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price (cents) per return
    flag via the integer crossing rule — one partitioned cumsum
    window, no global sort, no floats."""
    li = table(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = W.partitionBy("flag").orderBy("price_cents", "l_orderkey", "l_linenumber").rowsBetween(
        W.unboundedPreceding, 0
    )
    wt = W.partitionBy("flag")
    c = r.select(
        "flag",
        "price_cents",
        "w",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return (
        c.filter((2 * F.col("cum") >= F.col("tot")) & (2 * (F.col("cum") - F.col("w")) < F.col("tot")))
        .select(
            "flag",
            F.col("price_cents").cast("bigint").alias("median_price_cents"),
            F.col("tot").cast("bigint").alias("total_weight"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# graph_bfs_hops — breadth-first shortest hop distance from a seed
# customer cohort over the bipartite purchase graph, 4 rounds — the
# shortest-path modality the graph family was missing (beside CC,
# label propagation, PageRank/PPR, triangles, k-core, HITS). The
# search is ops.graph.bfs (graph_closeness_bfs's too) with the whole
# cohort under one seed key, so a supplier's distance is to the
# nearest cohort member. Output is the reachability histogram: how
# many SUPPLIERS sit at each hop distance from the cohort (odd hops
# only, by bipartiteness), the "supply-chain blast radius" readout.
#
# Edges are the LARGE-quantity purchases (l_quantity >= 45) and the
# seed cohort is small (every 997th buyer): the full purchase graph
# has diameter ~2 (any 1% cohort touches every supplier in one hop —
# the histogram degenerates to one row), while the sparse graph
# leaves a real frontier to traverse at both test SFs.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_QTY = 45
_BFS_SEED_MOD = 997


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE raw AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity >= {_BFS_QTY}
    ),
    raw2 AS (SELECT c, {GRAPH_SUPP_OFFSET} + s AS s FROM raw),
    edges AS (SELECT c AS src, s AS dst FROM raw2
              UNION ALL SELECT s, c FROM raw2),
    seeds AS (SELECT DISTINCT c FROM raw WHERE c % {_BFS_SEED_MOD} = 1),
    walk AS (
      SELECT c AS id, 0 AS hops FROM seeds
      UNION
      SELECT e.dst, walk.hops + 1
      FROM walk JOIN edges e ON e.src = walk.id
      WHERE walk.hops < {_BFS_ROUNDS}
    ),
    d AS (SELECT id, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY id)
    SELECT hops, CAST(count(*) AS BIGINT) AS n_suppliers
    FROM d WHERE id >= {GRAPH_SUPP_OFFSET}
    GROUP BY hops ORDER BY hops
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier counts by minimum hop distance (<= 4 rounds) from the
    seed cohort over the large-quantity purchase graph. ops.graph.bfs
    anti-joins each round's frontier against the visited set, so a
    node discovered at hop 1 is never re-labeled at hop 3 (the
    recursive-CTE oracle's UNION + min)."""
    pairs = purchase_pairs(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= _BFS_QTY),
    )
    # the whole cohort is one search: one seed key, nearest-member hops
    cohort = pairs.filter(F.col("c") % _BFS_SEED_MOD == 1).select(
        F.lit(0).alias("seed"), F.col("c").alias("id")
    )
    return (
        bfs(purchase_graph(pairs), cohort, _BFS_ROUNDS)
        .filter(F.col("id") >= GRAPH_SUPP_OFFSET)
        .groupBy(F.col("dist").cast("bigint").alias("hops"))
        .agg(F.count("*").cast("bigint").alias("n_suppliers"))
        .orderBy("hops")
    )


# ---------------------------------------------------------------------------
# privacy_l_diversity — the companion audit to privacy_k_anonymity:
# group size alone does not protect a quasi-identified group whose
# SENSITIVE attribute is uniform (everyone in the group shares one
# market segment → membership reveals it). l-diversity counts
# distinct sensitive values per QI group; groups below l = 3 need
# generalization even if they pass k. Same two-combinable-aggregate
# shape (distinct count per group, then per-nation rollup).
# ---------------------------------------------------------------------------

_LDIV_L = 3


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS k,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000e0) AS BIGINT)
    )
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity,
           CAST(sum(CASE WHEN l < {_LDIV_L} THEN k ELSE 0 END) AS BIGINT)
             AS rows_exposed,
           CAST(min(l) AS BIGINT) AS min_l
    FROM g GROUP BY c_nationkey
    ORDER BY nationkey
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation l-diversity of market segment within (nation,
    balance-band) quasi-identifier groups: group count, groups below
    l=3, rows they expose, and the worst diversity."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey", F.expr("CAST(floor(c_acctbal / 1000e0) AS BIGINT)").alias("band")
    ).agg(
        F.count("*").alias("k"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return (
        g.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("l") < _LDIV_L, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_diversity"),
            F.sum(F.when(F.col("l") < _LDIV_L, F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("rows_exposed"),
            F.min("l").cast("bigint").alias("min_l"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# dq_freshness_sla — per-stream staleness: each event type's latest
# timestamp lagged against the corpus watermark (global max ts), with
# an SLA breach flag at 24 h. The first check an on-call runbook
# fires for a silent upstream: "which feeds stopped?". Two max
# aggregates (one grouped, one 1-row broadcast) — nothing scales
# beyond the group count.
# ---------------------------------------------------------------------------

_FRESH_SLA_S = 86400


@query(
    "dq_freshness_sla",
    oracle=f"""
    WITH wm AS (SELECT max(ts) AS w FROM events),
    s AS (
      SELECT event_type, max(ts) AS latest FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(date_diff('second', latest, w) AS BIGINT) AS lag_seconds,
           CAST(date_diff('second', latest, w) AS BIGINT) > {_FRESH_SLA_S}
             AS sla_breach
    FROM s CROSS JOIN wm
    ORDER BY event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness lag (seconds behind the corpus
    watermark) and the 24 h SLA breach flag."""
    ev = table(spark, sf_dir, "events")
    wm = ev.agg(F.max("ts").alias("w"))
    s = ev.groupBy("event_type").agg(F.max("ts").alias("latest"))
    return (
        s.crossJoin(F.broadcast(wm))
        .select(
            "event_type",
            (F.unix_timestamp("w") - F.unix_timestamp("latest"))
            .cast("bigint")
            .alias("lag_seconds"),
            (
                (F.unix_timestamp("w") - F.unix_timestamp("latest")).cast("bigint")
                > _FRESH_SLA_S
            ).alias("sla_breach"),
        )
        .orderBy("event_type")
    )
