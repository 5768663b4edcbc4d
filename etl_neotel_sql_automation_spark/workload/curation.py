"""Corpus-curation wave: the filtering / pruning passes a pretraining
pipeline runs between raw ingest and tokenization, beyond the modalities
already registered (fingerprint/MinHash/SimHash/embedding dedup, the
composite ``pretrain_filter``, repetition stats):

- ``dedup_semantic_prune``: SemDeDup-style survivor pruning inside
  semantic clusters (deterministic hyperplane-LSH buckets stand in for
  the k-means clusters so the oracle replays the clustering bit-exactly).
- ``quality_gopher_rules``: the per-rule heuristic quality gate (word
  count, mean word length, stopword evidence, top-token repetition) with
  one boolean per rule — the inspectable form of a Gopher/C4-style
  filter, all integer arithmetic.
- ``quality_hashed_classifier``: a fastText-shaped linear quality
  scorer under the hashing trick — token -> md5 bucket -> integer
  weight, summed exactly; no vocabulary table, no join, no Python.
- ``emb_label_outliers``: per-label centroid + farthest-member ranking
  in exact micro-unit integer arithmetic — the embedding-space QA pass
  that surfaces mislabeled / out-of-distribution vectors per class.

Reference parity note: the reference system (main.py) has no corpus
curation; these extend the engine's LLM-data-pipeline surface per the
build brief, mirroring published practice (Gopher rules, CCNet line
filters, SemDeDup, fastText quality scoring).

Determinism rules: every ratio is an integer cross-multiplication
(never float division); weights and cluster ids derive from md5 so
DuckDB replays them exactly; cosine similarity follows the established
round-6 convention shared by the other embedding queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import similarity as S
from ..ops import text as X
from ..ops.hashing import md5_long, sql_md5_long
from . import _SQL_QV, _SQL_TOKS, query, table


# ---------------------------------------------------------------------------
# SemDeDup-style semantic pruning
# ---------------------------------------------------------------------------

_SEM_PLANES = 4      # 2^4 = 16 clusters; scale planes with corpus size
_SEM_THRESHOLD = 0.35  # shared with dedup_embedding_cosine


def _sql_bucket_expr(planes: int, dim: int = 64) -> str:
    """DuckDB bucket id over quantized column ``qv`` — the literal twin
    of ops.similarity.hyperplane_lsh_buckets (same md5-derived signs)."""
    signs = S.hyperplane_signs(dim, planes)
    terms = [
        "(CASE WHEN list_dot_product(qv, ["
        + ", ".join(f"{s}.0" for s in srow)
        + f"]) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {j})"
        for j, srow in enumerate(signs)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    b AS (SELECT vec_id, v, {_sql_bucket_expr(_SEM_PLANES)} AS bucket FROM e),
    p AS (
      SELECT DISTINCT a.vec_id
      FROM b a JOIN b c
        ON a.bucket = c.bucket AND c.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.v, c.v), 6) >= {_SEM_THRESHOLD}
    )
    SELECT b.vec_id, b.bucket, (p.vec_id IS NOT NULL) AS pruned
    FROM b LEFT JOIN p ON b.vec_id = p.vec_id
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space, then inside each cluster keep one representative of every
    near-duplicate set (lowest id survives; a vector is pruned iff a
    lower-id cluster-mate sits within the cosine threshold).

    The published algorithm clusters with k-means; here the clusters
    are deterministic hyperplane-LSH buckets (md5-derived sign
    literals over integer-quantized projections) so the DuckDB oracle
    replays the clustering — and therefore the exact prune verdicts —
    bit-for-bit, which k-means cannot offer (engine-specific fits).

    Scale shape: bucket assignment is one codegen'd projection (no
    shuffle); the only join is the within-bucket self-equi-join on
    ``bucket``, whose cost is bounded by cluster size, never corpus
    size — at 100 TB raise ``planes`` so 2^planes tracks corpus growth
    (the SemDeDup paper's k ~ sqrt(n) heuristic), exactly like the
    registered LSH dedup family. The left join marking survivors is on
    the unique ``vec_id`` key.
    """
    emb = table(spark, sf_dir, "embeddings")
    return S.semantic_prune(emb, planes=_SEM_PLANES, threshold=_SEM_THRESHOLD)


# ---------------------------------------------------------------------------
# k-NN graph construction
# ---------------------------------------------------------------------------

_KNN_K = 3


@query(
    "sim_knn_graph",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    b AS (SELECT vec_id, v, {_sql_bucket_expr(_SEM_PLANES)} AS bucket FROM e),
    scored AS (
      SELECT a.vec_id AS src_id, c.vec_id AS n_id,
             round(list_cosine_similarity(a.v, c.v), 6) AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT src_id, n_id, sim,
             CAST(row_number() OVER (PARTITION BY src_id
                                     ORDER BY sim DESC, n_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT src_id, n_id, rank, sim FROM ranked WHERE rank <= {_KNN_K}
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole corpus (every vector's
    top-3 in-bucket neighbors) — the substrate SemDeDup-style
    clustering, label propagation, and graph-based curation build on.
    Differs from ``sim_lsh_topk`` (10 fixed query vectors) in being the
    symmetric all-corpus construction: candidate edges come from the
    SAME deterministic hyperplane buckets as ``dedup_semantic_prune``,
    scored by exact cosine, ranked per source with a unique tiebreak.

    Scale shape: one bucket self-equi-join (cost bounded by bucket
    occupancy — raise ``planes`` with corpus size, or switch to the
    multi-table family for recall) plus a per-source top-k window
    partitioned on the graph's natural key. No all-pairs join; the
    oracle replays bucketing and ranking bit-exactly.
    """
    emb = table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=_KNN_K, planes=_SEM_PLANES)


# ---------------------------------------------------------------------------
# Gopher-style rule gate
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in X.STOPWORDS) + "]"


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             {_SQL_TOKS} AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS n_chars,
             CAST(list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_cnt,
             CAST(len(list_intersect(list_transform(toks, t -> lower(t)),
                   {_STOP_SQL})) AS BIGINT) AS stop_hits
      FROM feat
    )
    SELECT doc_id, n_words,
           (n_words BETWEEN 20 AND 1000)                    AS words_ok,
           (n_chars >= 4 * n_words AND n_chars <= 10 * n_words) AS wordlen_ok,
           (stop_hits >= 2)                                 AS stopword_ok,
           (5 * top_cnt <= n_words)                         AS repetition_ok,
           ((n_words BETWEEN 20 AND 1000)
            AND n_chars >= 4 * n_words AND n_chars <= 10 * n_words
            AND stop_hits >= 2
            AND 5 * top_cnt <= n_words)                     AS keep
    FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality gate with one boolean PER RULE
    (word-count bounds, mean word length 4..10, >=2 distinct stopwords,
    top-token share <= 20%) plus the composite ``keep`` — the
    inspectable form quality filtering takes in practice, where
    per-rule rejection rates are monitored before a gate ships.

    Differs from ``pretrain_filter`` (composite score threshold + lang
    + dedup) and ``text_repetition_stats`` (ppm profile): this is the
    rule-conjunction gate itself. Mean-word-length and repetition
    ratios are integer cross-multiplications (``n_chars >= 4*n_words``,
    ``5*top_cnt <= n_words``) — no float division anywhere, so engines
    cannot disagree on a boundary. The word-length band is tightened
    from Gopher's [3,10] to [4,10] so the synthetic corpus (mean word
    length 3.7–5.3) exercises both outcomes.

    Scale shape: one codegen'd projection per document — token stats
    come from array HOFs over the already-split token list (the
    top-token scan is O(distinct x len) per row, bounded by document
    length), so the whole gate is shuffle-free and Python-free.
    """
    return gopher_frame(table(spark, sf_dir, "documents"))


def gopher_frame(docs: DataFrame) -> DataFrame:
    """The gate itself over any documents-shaped frame (doc_id, text) —
    shared by the registered query and tools/scale_probe.py curation."""
    toks = X.tokens("text")
    n_words = F.size(toks).cast("long")
    n_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)).cast("long"),
        )
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(s) for s in X.STOPWORDS]),
        )
    ).cast("long")
    feat = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        top_cnt.alias("top_cnt"),
        stop_hits.alias("stop_hits"),
    )
    words_ok = F.col("n_words").between(20, 1000)
    wordlen_ok = (F.col("n_chars") >= 4 * F.col("n_words")) & (
        F.col("n_chars") <= 10 * F.col("n_words")
    )
    stopword_ok = F.col("stop_hits") >= 2
    repetition_ok = 5 * F.col("top_cnt") <= F.col("n_words")
    return feat.select(
        "doc_id",
        "n_words",
        words_ok.alias("words_ok"),
        wordlen_ok.alias("wordlen_ok"),
        stopword_ok.alias("stopword_ok"),
        repetition_ok.alias("repetition_ok"),
        (words_ok & wordlen_ok & stopword_ok & repetition_ok).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier
# ---------------------------------------------------------------------------

_W_BUCKETS = 2001  # odd => weights symmetric around 0 in [-1000, 1000]


def hashed_logit(toks: Column) -> Column:
    """BIGINT logit of token array ``toks``: the exact sum of its token
    weights ``md5_long(lower(t)) % 2001 - 1000``."""
    weights = F.transform(toks, lambda t: md5_long(F.lower(t)) % _W_BUCKETS - 1000)
    return F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)


def sql_hashed_logit(toks: str) -> str:
    """DuckDB twin of :func:`hashed_logit`."""
    w = f"{sql_md5_long('lower(t)')} % {_W_BUCKETS} - 1000"
    return f"CAST(coalesce(list_sum(list_transform({toks}, t -> {w})), 0) AS BIGINT)"


@query(
    "quality_hashed_classifier",
    oracle=f"""
    WITH feat AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           {sql_hashed_logit("toks")} AS logit,
           ({sql_hashed_logit("toks")} > 0) AS keep
    FROM feat
    """,
)
def quality_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier under the hashing trick — the
    fastText-shaped scorer used for pretraining-data filtering (CCNet /
    LLaMA-style "looks like reference text" gates), re-expressed for
    differential checking: each token hashes (md5, cross-engine exact)
    into one of 2001 weight buckets whose INTEGER weight is
    derived from the bucket id itself, the document logit is the exact
    BIGINT sum of token weights, and ``keep`` is ``logit > 0``.

    In deployment the weight vector comes from a trained model and is
    inlined the same way (a literal array or broadcast map — never a
    per-token join); here the weights are a pure hash function so
    DuckDB reproduces the scores bit-for-bit. Integer weights make the
    sum associative-exact — no float summation order anywhere.

    Scale shape: one codegen'd projection per document (hash + modulo +
    array sum), shuffle-free and Python-free; cost is linear in token
    count exactly like tokenization itself.
    """
    return classifier_frame(table(spark, sf_dir, "documents"))


def classifier_frame(docs: DataFrame) -> DataFrame:
    """The scorer over any documents-shaped frame (doc_id, text) —
    shared by the registered query and tools/scale_probe.py curation."""
    toks = X.tokens("text")
    logit = hashed_logit(toks)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroid outliers
# ---------------------------------------------------------------------------


@query(
    "emb_label_outliers",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT) + 1000000) AS q
      FROM embeddings
    ),
    x AS (SELECT vec_id, label, unnest(range(1, len(q)+1)) AS d, unnest(q) AS val
          FROM e),
    c AS (SELECT label, d, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
          FROM x GROUP BY label, d),
    dist AS (
      SELECT x.vec_id, x.label,
             CAST(sum((x.val - s // n) * (x.val - s // n)) AS BIGINT) AS sqdist
      FROM x JOIN c ON x.label = c.label AND x.d = c.d
      GROUP BY x.vec_id, x.label
    ),
    ranked AS (
      SELECT label, vec_id, sqdist,
             CAST(row_number() OVER (PARTITION BY label
                                     ORDER BY sqdist DESC, vec_id) AS INTEGER)
               AS rank
      FROM dist
    )
    SELECT label, vec_id, rank, sqdist FROM ranked WHERE rank <= 5
    """,
)
def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label QA: per-label centroid, then the 5 vectors
    FARTHEST from their own class centroid — the standard screen for
    mislabeled or out-of-distribution examples in a labeled embedding
    corpus.

    Exactness across engines: embeddings are quantized to non-negative
    integer micro-units (round(x*1e6) + 1e6 — the shift keeps every
    value positive so truncating and flooring division coincide in both
    engines), centroids are BIGINT ``sum div count`` per dimension, and
    distances are exact integer sums of squares (bounded by
    64 * (2e6)^2 ~ 2.6e14 << 2^63 at ANY corpus size — no overflow as
    the corpus grows, unlike cross-multiplied alternatives). The 1-ULP
    centroid rounding from integer division is identical on both sides.

    Scale shape: posexplode -> (label, dim) hash aggregate (combines
    map-side; output is labels x 64 rows — tiny, so the join back to
    vectors broadcasts), then a per-vector aggregate and a per-label
    top-5 window. No all-pairs anything; shuffle is O(rows x dims)
    once, exactly like the registered ``emb_dim_stats``.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = F.transform(
        S._to_double("embedding"),
        lambda v: F.round(v * 1_000_000).cast("long") + 1_000_000,
    )
    x = emb.select(
        "vec_id", "label", F.posexplode(q).alias("d0", "val")
    ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "val")
    cent = x.groupBy("label", "d").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    dist = (
        x.join(F.broadcast(cent), ["label", "d"])
        .withColumn("dd", F.col("val") - F.expr("s div n"))
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("dd") * F.col("dd")).alias("sqdist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(
        F.col("sqdist").desc(), F.col("vec_id")
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("label", "vec_id", "rank", "sqdist")
    )


@query(
    "text_bpe_merge_stats",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS t FROM documents),
    pairs AS (
      SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
      FROM tok, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    counted AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rank
    FROM counted ORDER BY n DESC, pair LIMIT 20
    """,
)
def text_bpe_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer INDUCTION: corpus-wide adjacent
    symbol-pair frequencies (the statistic each BPE merge round
    maximizes), emitted as the top-20 merge candidates. Complements the
    BPE-ish token counter (ops.text.bpe_token_count) — counting applies
    a tokenizer, this is the pass that trains one; iterated rounds
    re-run the same shape on the merged symbol stream.

    Scale shape: explode token chars to pairs (output ~ corpus bytes —
    the same bound as tokenization), one combinable count whose
    distinct key space is at most |alphabet|², then a tiny fully-keyed
    top-k sort. No Python, no joins.
    """
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    pair_lists = F.flatten(
        F.transform(
            F.filter(toks, lambda t: F.length(t) >= 2),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.length(t) - 1),
                lambda i: t.substr(i, F.lit(2)),
            ),
        )
    )
    pairs = docs.select(F.explode(pair_lists).alias("pair"))
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), "pair")
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@query(
    "dedup_semantic_quality",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    b AS (SELECT vec_id, v, {_sql_bucket_expr(_SEM_PLANES)} AS bucket FROM e),
    exact_p AS (
      SELECT DISTINCT a.vec_id
      FROM e a JOIN e c
        ON c.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.v, c.v), 6) >= {_SEM_THRESHOLD}
    ),
    lsh_p AS (
      SELECT DISTINCT a.vec_id
      FROM b a JOIN b c
        ON a.bucket = c.bucket AND c.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.v, c.v), 6) >= {_SEM_THRESHOLD}
    )
    SELECT CAST((SELECT count(*) FROM exact_p) AS BIGINT) AS n_exact_pruned,
           CAST((SELECT count(*) FROM lsh_p) AS BIGINT)   AS n_lsh_pruned,
           CAST((SELECT count(*) FROM lsh_p) * 1000000
                // (SELECT count(*) FROM exact_p) AS BIGINT) AS recall_ppm
    """,
)
def dedup_semantic_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential QUALITY meter for the semantic-prune family: how
    many prune verdicts the bucketed SemDeDup pass recovers vs the
    exact all-pairs ground truth at the same threshold (the bucketed
    verdict set is a strict subset — a same-bucket pair is also a
    global pair — so the ratio IS recall). Same discipline as
    ``dedup_minhash_quality``: the accuracy claim itself is
    differentially checked, not asserted, because both sides are
    deterministic in both engines (bit-exact buckets, round-6 cosine).

    Scale stance: the all-pairs side is the VALIDATION pass — run it
    on a hash-sample to meter production recall at 100 TB; the
    bucketed side is the production path. The all-pairs join in
    ops.similarity.cosine_near_dup_pairs is unhinted, so the optimizer
    broadcasts only while the validation frame is actually small.
    """
    emb = table(spark, sf_dir, "embeddings")
    exact_n = (
        S.cosine_near_dup_pairs(emb, threshold=_SEM_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .agg(F.count("*").alias("n_exact_pruned"))
    )
    lsh_n = (
        S.semantic_prune(emb, planes=_SEM_PLANES, threshold=_SEM_THRESHOLD)
        .filter(F.col("pruned"))
        .agg(F.count("*").alias("n_lsh_pruned"))
    )
    return exact_n.crossJoin(lsh_n).select(
        "n_exact_pruned",
        "n_lsh_pruned",
        F.expr("n_lsh_pruned * 1000000 div n_exact_pruned").alias("recall_ppm"),
    )


_SEM_SAMPLE_MOD = 4

_SQL_SEM_SAMPLE = f"{sql_md5_long('vec_id')} % {_SEM_SAMPLE_MOD} = 0"


@query(
    "dedup_semantic_quality_sampled",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    es AS (SELECT * FROM e WHERE {_SQL_SEM_SAMPLE}),
    b AS (SELECT vec_id, v, {{bucket}} AS bucket FROM e),
    bs AS (SELECT * FROM b WHERE {_SQL_SEM_SAMPLE}),
    exact_p AS (
      SELECT DISTINCT a.vec_id
      FROM es a JOIN e c
        ON c.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.v, c.v), 6) >= {_SEM_THRESHOLD}
    ),
    lsh_p AS (
      SELECT DISTINCT a.vec_id
      FROM bs a JOIN b c
        ON a.bucket = c.bucket AND c.vec_id < a.vec_id
       AND round(list_cosine_similarity(a.v, c.v), 6) >= {_SEM_THRESHOLD}
    )
    SELECT CAST((SELECT count(*) FROM exact_p) AS BIGINT) AS n_exact_pruned,
           CAST((SELECT count(*) FROM lsh_p) AS BIGINT)   AS n_lsh_pruned,
           CAST((SELECT count(*) FROM lsh_p) * 1000000
                // (SELECT count(*) FROM exact_p) AS BIGINT) AS recall_ppm
    """.replace("{bucket}", _sql_bucket_expr(_SEM_PLANES)),
)
def dedup_semantic_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED twin of dedup_semantic_quality — the exact-leg
    recipe its docstring prescribes for 100 TB, registered and
    differentially checked (the sim_margin_quality_sampled pattern):
    prune-candidate vectors are restricted to a deterministic md5
    hash-sample (mod 4 = 25%) BEFORE the exact
    all-pairs leg, so validation scans |sample| x |corpus| instead of
    |corpus|²; the LSH leg keeps the FULL production clustering and
    restricts only its verdicts to the same sample. Per-id verdicts
    are unchanged by sampling on both legs (exact: the c side stays
    the whole corpus; LSH: bucket membership is per-row), so the
    sampled ratio is an unbiased estimate of the full meter — measured
    0.178 vs 0.169 full at sf0.01 and 0.318 vs 0.323 full at sf0.1.

    (The absolute level ~0.2-0.3 is SemDeDup's designed behavior —
    it prunes within clusters only, by construction — metered here
    against the global all-pairs ground truth; see
    dedup_semantic_quality.)"""
    emb = table(spark, sf_dir, "embeddings")
    sample = md5_long("vec_id") % _SEM_SAMPLE_MOD == 0  # Spark twin of _SQL_SEM_SAMPLE
    a = S.unit(emb.filter(sample), "embedding", "a")
    a = a.select(F.col("vec_id").alias("a_id"), "av", "an")
    c = S.unit(emb, "embedding", "c").select(F.col("vec_id").alias("c_id"), "cv", "cn")
    exact_n = (
        a.join(c, F.col("c_id") < F.col("a_id"))
        .filter(S.cos6("a", "c") >= _SEM_THRESHOLD)
        .select("a_id")
        .distinct()
        .agg(F.count("*").alias("n_exact_pruned"))
    )
    lsh_n = (
        S.semantic_prune(emb, planes=_SEM_PLANES, threshold=_SEM_THRESHOLD)
        .filter(F.col("pruned"))
        .filter(sample)
        .agg(F.count("*").alias("n_lsh_pruned"))
    )
    return exact_n.crossJoin(lsh_n).select(
        "n_exact_pruned",
        "n_lsh_pruned",
        F.expr("n_lsh_pruned * 1000000 div n_exact_pruned").alias("recall_ppm"),
    )


def _communities_oracle(iters: int = 3) -> str:
    head = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    b AS (SELECT vec_id, v, {_sql_bucket_expr(_SEM_PLANES)} AS bucket FROM e),
    scored AS (
      SELECT a.vec_id AS src_id, c.vec_id AS n_id,
             round(list_cosine_similarity(a.v, c.v), 6) AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT src_id, n_id,
             row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, n_id)
               AS rank
      FROM scored
    ),
    knn AS (SELECT src_id, n_id FROM ranked WHERE rank <= {_KNN_K}),
    edges0 AS (SELECT src_id AS src, n_id AS dst FROM knn
               UNION ALL SELECT n_id AS src, src_id AS dst FROM knn),
    edges AS (SELECT DISTINCT src, dst FROM edges0),
    nodes AS (SELECT vec_id AS id FROM e),
    l0 AS (SELECT id, id AS label FROM nodes)"""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(f"""
    v{i} AS (
      SELECT g.src AS id, l.label, count(*) AS votes
      FROM edges g JOIN l{i - 1} l ON g.dst = l.id
      GROUP BY g.src, l.label
    ),
    w{i} AS (
      SELECT id, label,
             row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) AS rn
      FROM v{i}
    ),
    l{i} AS (
      SELECT n.id, coalesce(w.label, p.label) AS label
      FROM nodes n
      JOIN l{i - 1} p ON n.id = p.id
      LEFT JOIN (SELECT id, label FROM w{i} WHERE rn = 1) w ON n.id = w.id
    )""")
    return (
        head + "," + ",".join(rounds)
        + f"""
    SELECT id AS vec_id, CAST(label AS BIGINT) AS community FROM l{iters}
    """
    )


@query("emb_semantic_communities", oracle=_communities_oracle())
def emb_semantic_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup-style clustering pipeline COMPOSED end to end:
    deterministic hyperplane buckets -> exact-cosine k-NN graph
    (``sim_knn_graph``'s edges) -> majority-vote label propagation
    (``ops.graph.label_propagation``, 3 rounds, ties to smallest
    label) -> one community label per vector. Every stage is
    deterministic in both engines, so the oracle replays bucketing,
    graph construction AND all three vote rounds bit-for-bit —
    the composition is checked, not just its parts. Vectors isolated
    in their bucket (no k-NN edges) keep their own id as label.

    Scale: inherits each stage's shape — scan-side bucketing, bucket
    self-equi-join bounded by occupancy, per-round edge join +
    combinable vote count + argmax window. Community size then drives
    downstream curation (per-community survivor quotas, diversity
    sampling) the way ``dedup_semantic_prune`` drives pair pruning.
    """
    from ..ops.graph import label_propagation

    emb = table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=_KNN_K, planes=_SEM_PLANES).select(
        F.col("src_id").alias("src"), F.col("n_id").alias("dst")
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    return label_propagation(nodes, edges, iters=3).select(
        F.col("id").alias("vec_id"), F.col("label").alias("community")
    )
