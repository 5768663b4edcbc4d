"""Corpus-mining wave: duplicated-span statistics, BM25 retrieval,
PMI collocations, DSIR-style importance weights, and margin-based
embedding pair mining.

These are the corpus-analysis passes a pretraining-data pipeline runs
between raw ingest and shard export (reference parity: the reference's
report layer computes derived per-entity statistics from cleaned
loads — main.py:1069+ builds t_diario_* aggregate tables with pandas
groupbys; this wave is the same genre re-expressed as distributed
Spark passes over the document/embedding corpus).

Determinism rules (house style, see workload/__init__ docstring):
integer counts stay BIGINT end-to-end (oracle sums cast away
HUGEINT); float expressions are written with ``e0``-suffixed literals
so both engines parse DOUBLE (a bare ``0.5`` is DECIMAL in both
parsers); every float is derived from exact integers via one
identically-structured IEEE expression and rounded to 6 on both
sides; sums over float sets are avoided entirely (micro-unit BIGINT
sums) or fixed in textual order (BM25's three-term total).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_QV, _SQL_TOKS, query, table
from ..ops.hashing import (
    TABLE_BITS,
    bit_words,
    bloom_probes,
    bloom_screen,
    md5_long,
    sql_bit_words,
    sql_bloom_probes,
    sql_bloom_screen,
    sql_md5_long,
)
from ..ops.similarity import cos6, unit
from ..ops.text import tokens

# ---------------------------------------------------------------------------
# Duplicated-span statistics (the span-level exact-dedup signal of
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better": find every 5-token window that occurs more than once in the
# corpus, then merge a document's duplicated windows into maximal
# contiguous spans and report the duplicated-token fraction).
# ---------------------------------------------------------------------------

_SPAN_N = 5  # window length in tokens


@query(
    "text_dup_span_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id, len(toks) AS n_tokens,
             unnest(range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id, n_tokens, pos,
             array_to_string(list_slice(toks, pos, pos + {_SPAN_N - 1}), ' ') AS gram
      FROM pg
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.n_tokens, g.pos FROM g JOIN dup USING (gram)),
    m AS (
      SELECT doc_id, n_tokens, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
      FROM d
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CASE WHEN lp IS NULL THEN {_SPAN_N}
                  ELSE least({_SPAN_N}, pos - lp) END AS contrib,
             CASE WHEN lp IS NULL OR pos - lp > {_SPAN_N} THEN 1 ELSE 0 END AS brk
      FROM m
    ),
    s AS (
      SELECT doc_id,
             CAST(max(n_tokens) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_dup_grams,
             CAST(sum(contrib) AS BIGINT) AS covered_tokens,
             CAST(sum(brk) AS BIGINT) AS n_dup_spans
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_dup_grams, covered_tokens, n_dup_spans,
           covered_tokens * 1000000 // n_tokens AS dup_ppm
    FROM s
    """,
)
def text_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication audit: every 5-token window hashed by
    content, windows occurring >= 2x anywhere in the corpus marked
    duplicated, and each document's duplicated windows merged into
    maximal contiguous spans (gaps-and-islands over window start
    positions). Output per affected doc: token count, duplicated
    window count, covered-token count, span count, duplicated-token
    ppm — the quantity span-removal dedup (Lee et al. 2021) acts on,
    and the number CCNet-style pipelines report per shard.

    Scale shape: one explode (docs x windows, same order as the
    MinHash shingle pass), one count aggregate keyed by the window
    text (map-side combinable; at 100 TB you'd key by xxhash64(gram)
    to keep shuffle rows at 8 bytes — the md5-free twin of
    ops/hashing.py), one semi-join back, and a per-document window.
    Interval merging is O(windows) with integer arithmetic only —
    equal-length intervals sorted by start have a monotone running
    end, so each window's new-coverage contribution is
    least(5, pos - lag(pos)).
    """
    return dup_span_frame(table(spark, sf_dir, "documents"))


def _windows_frame(docs: DataFrame, span_n: int = _SPAN_N) -> DataFrame:
    """(doc_id, n_tokens, pos, gram): every span_n-token sliding
    window of every document, with its 1-based start position."""
    toks = tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= span_n, F.sequence(F.lit(1), cnt - (span_n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return docs.select(
        "doc_id",
        cnt.cast("long").alias("n_tokens"),
        toks.alias("toks"),
        F.explode(idx).alias("pos"),
    ).select(
        "doc_id",
        "n_tokens",
        "pos",
        F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), span_n)).alias("gram"),
    )


def _island_stats(marked: DataFrame, span_n: int = _SPAN_N) -> DataFrame:
    """Merge a document's marked window positions into maximal
    contiguous covered spans (gaps-and-islands: equal-length intervals
    sorted by start have a monotone running end, so each window's new
    coverage is least(span_n, pos - lag(pos))). Input: (doc_id,
    n_tokens, pos); output per doc: n_tokens, n_dup_grams,
    covered_tokens, n_dup_spans."""
    lp = F.lag("pos").over(W.partitionBy("doc_id").orderBy("pos"))
    c = marked.select(
        "doc_id",
        "n_tokens",
        F.when(lp.isNull(), F.lit(span_n))
        .otherwise(F.least(F.lit(span_n), F.col("pos") - lp))
        .alias("contrib"),
        F.when(lp.isNull() | (F.col("pos") - lp > span_n), 1).otherwise(0).alias("brk"),
    )
    return c.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_dup_grams"),
        F.sum("contrib").cast("long").alias("covered_tokens"),
        F.sum("brk").cast("long").alias("n_dup_spans"),
    )


def dup_span_frame(docs: DataFrame) -> DataFrame:
    """The text_dup_span_stats plan over any documents-shaped frame
    (doc_id, text) — exposed so tests can drive it with crafted
    corpora where the expected islands are known by construction.

    Duplication is marked with ONE count-over-gram window rather than
    a groupBy + join-back: the join form shuffles the full window set
    for the join anyway (the dup-gram set is corpus-sized, not
    broadcastable) AND recomputes the tokenize+explode subtree for
    both join inputs — measured 2x slower at sf0.1 (6.3 s vs 3.2 s
    warm, bit-identical output). Same trade at 100 TB: equal shuffle
    volume, half the scans. Contrast decontaminate_span_stats, where
    the marking set IS tiny (benchmark-sized) and the broadcast join
    form is the right shape."""
    g = _windows_frame(docs)
    d = g.withColumn("n_occ", F.count("*").over(W.partitionBy("gram"))).filter(
        F.col("n_occ") >= 2
    )
    s = _island_stats(d.select("doc_id", "n_tokens", "pos"))
    return s.select(
        "doc_id",
        "n_tokens",
        "n_dup_grams",
        "covered_tokens",
        "n_dup_spans",
        F.expr("covered_tokens * 1000000 div n_tokens").alias("dup_ppm"),
    )


# Contamination windows are 4 tokens — the same 4-gram granularity
# decontaminate_train matches on (train_prep.py), one under the
# dup-span length so eval overlap is caught more aggressively than
# corpus-internal duplication.
_CONTAM_N = 4


@query(
    "decontaminate_span_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id, len(toks) AS n_tokens,
             unnest(range(1, greatest(len(toks) - {_CONTAM_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id, n_tokens, pos,
             array_to_string(list_slice(toks, pos, pos + {_CONTAM_N - 1}), ' ') AS gram
      FROM pg
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    d AS (SELECT g.doc_id, g.n_tokens, g.pos
          FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0),
    m AS (
      SELECT doc_id, n_tokens, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
      FROM d
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CASE WHEN lp IS NULL THEN {_CONTAM_N}
                  ELSE least({_CONTAM_N}, pos - lp) END AS contrib,
             CASE WHEN lp IS NULL OR pos - lp > {_CONTAM_N} THEN 1 ELSE 0 END AS brk
      FROM m
    ),
    s AS (
      SELECT doc_id,
             CAST(max(n_tokens) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_shared_grams,
             CAST(sum(contrib) AS BIGINT) AS contaminated_tokens,
             CAST(sum(brk) AS BIGINT) AS n_contam_spans
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_shared_grams, contaminated_tokens,
           n_contam_spans,
           contaminated_tokens * 1000000 // n_tokens AS contam_ppm
    FROM s
    """,
)
def decontaminate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark-contamination report: which exact 4-gram
    spans of each TRAINING document also occur in the eval slice
    (doc_id ≡ 0 mod 50 and 4-token windows — the same eval split and
    gram length decontaminate_train matches on), merged into maximal
    contiguous token ranges. decontaminate_train answers "which docs
    are contaminated"; this answers "which spans do I excise" — the
    surgical removal serious pipelines prefer over dropping whole
    documents, and the eval-overlap twin of text_dup_span_stats.

    Scale shape: the eval gram set is benchmark-sized — tiny against
    the corpus — so the marking join broadcasts at 100 TB (left
    unhinted here so both engines stay exact); islands are one
    per-document window over integer positions.
    """
    return contam_span_frame(table(spark, sf_dir, "documents"))


def contam_span_frame(docs: DataFrame) -> DataFrame:
    """The decontaminate_span_stats plan over any documents-shaped
    frame (doc_id, text); eval slice = doc_id ≡ 0 mod 50."""
    g = _windows_frame(docs, span_n=_CONTAM_N)
    ev = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    marked = g.filter(F.col("doc_id") % 50 != 0).join(ev, "gram")
    s = _island_stats(marked, span_n=_CONTAM_N)
    return s.select(
        "doc_id",
        "n_tokens",
        F.col("n_dup_grams").alias("n_shared_grams"),
        F.col("covered_tokens").alias("contaminated_tokens"),
        F.col("n_dup_spans").alias("n_contam_spans"),
        F.expr("covered_tokens * 1000000 div n_tokens").alias("contam_ppm"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi BM25, k1=1.2, b=0.75) for a fixed query.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "merge", "window")

# Per-(doc, term) BM25 contribution. Identical text runs on both
# engines: every literal is e0-suffixed DOUBLE, every name is a BIGINT
# column, so the IEEE evaluation order is pinned by the expression
# tree itself.
_BM25_TERM_SCORE = (
    "round(ln((n_docs - df_t + 0.5e0) / (df_t + 0.5e0) + 1.0e0)"
    " * (tf * 2.2e0)"
    " / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / (tot_tokens * 1.0e0 / n_docs))), 6)"
)


# Full per-doc BM25 frame (doc_id, s_hash, s_merge, s_window, score),
# shared by text_bm25_topk's oracle and wave7's hybrid RRF fusion —
# the SQL twin of bm25_doc_scores(). Kept tail-free so callers append
# their own ORDER BY / LIMIT.
BM25_SCORED_SQL = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tot_tokens FROM dl),
    qt AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('hash', 'merge', 'window')
      GROUP BY doc_id, term
    ),
    dft AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_t
      FROM tok WHERE term IN ('hash', 'merge', 'window')
      GROUP BY term
    ),
    scored AS (
      SELECT qt.doc_id, qt.term, {_BM25_TERM_SCORE} AS s
      FROM qt
      JOIN dl USING (doc_id) JOIN dft USING (term)
      CROSS JOIN scal CROSS JOIN tot
    ),
    piv AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN term = 'hash' THEN s END), 0.0e0) AS s_hash,
             coalesce(max(CASE WHEN term = 'merge' THEN s END), 0.0e0) AS s_merge,
             coalesce(max(CASE WHEN term = 'window' THEN s END), 0.0e0) AS s_window
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, s_hash, s_merge, s_window,
           round(s_hash + s_merge + s_window, 6) AS score
    FROM piv
"""


def bm25_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-doc BM25 frame over any documents-shaped input — the body
    of text_bm25_topk without its top-10 tail (see that query's
    docstring for the plan shape and determinism argument). Shared
    with wave7's reciprocal-rank fusion so both rankers score docs
    identically."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tot = dl.agg(F.sum("dl").cast("long").alias("tot_tokens"))
    qtok = tok.filter(F.col("term").isin(*_BM25_TERMS))
    qt = qtok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dft = qtok.groupBy("term").agg(F.countDistinct("doc_id").alias("df_t"))
    scored = (
        qt.join(dl, "doc_id")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "term", F.expr(_BM25_TERM_SCORE).alias("s"))
    )
    piv = scored.groupBy("doc_id").agg(
        F.coalesce(F.max(F.when(F.col("term") == "hash", F.col("s"))), F.lit(0.0)).alias("s_hash"),
        F.coalesce(F.max(F.when(F.col("term") == "merge", F.col("s"))), F.lit(0.0)).alias("s_merge"),
        F.coalesce(F.max(F.when(F.col("term") == "window", F.col("s"))), F.lit(0.0)).alias("s_window"),
    )
    return piv.select(
        "doc_id",
        "s_hash",
        "s_merge",
        "s_window",
        F.round(F.col("s_hash") + F.col("s_merge") + F.col("s_window"), 6).alias("score"),
    )


@query(
    "text_bm25_topk",
    oracle=BM25_SCORED_SQL
    + """
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the fixed query {hash, merge, window}
    (k1=1.2, b=0.75) — the sparse-retrieval ranker a RAG/search layer
    runs beside the dense ANN family. Spark side: one explode, two
    hash aggregations (per-doc length, per-(doc,term) tf restricted
    to query terms by a pushed-down IN filter), a broadcast of the
    |query|-sized df table, and two broadcast 1-row scalar aggregates
    (corpus size, total tokens) — no driver-side counts.

    The three per-term scores are pivoted to fixed columns and summed
    in a pinned textual order (s_hash + s_merge + s_window) so the
    3-double total cannot vary with aggregation order; the per-term
    expression is the same e0-literal string on both engines. Top-10
    is a distributed TakeOrdered with doc_id tiebreak.

    Scale shape: the IN-filter prunes the token explode to query
    terms before any shuffle; everything downstream is query-sized x
    matching docs. At 100 TB the df/idf table is still |query| rows.
    """
    docs = table(spark, sf_dir, "documents")
    return bm25_doc_scores(docs).orderBy(F.desc("score"), "doc_id").limit(10)


# ---------------------------------------------------------------------------
# PMI / lift collocations over adjacent token bigrams.
# ---------------------------------------------------------------------------

_PMI_LIFT = (
    "round((n_xy * 1.0e0 / n_pairs)"
    " / ((n_x * 1.0e0 / n_tok) * (n_y * 1.0e0 / n_tok)), 6)"
)


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id, unnest(range(1, len(toks))) AS pos, toks FROM tok
    ),
    b AS (SELECT toks[pos] AS w1, toks[pos + 1] AS w2 FROM pg),
    big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
      FROM b GROUP BY w1, w2 HAVING count(*) >= 5
    ),
    uni AS (
      SELECT unnest(toks) AS term FROM tok
    ),
    cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY term),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni
    ),
    np AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_pairs FROM (
             SELECT w1, w2, count(*) AS n_xy FROM b GROUP BY w1, w2)),
    j AS (
      SELECT big.w1, big.w2, big.n_xy, cx.n AS n_x, cy.n AS n_y,
             scal.n_tok, np.n_pairs
      FROM big
      JOIN cnt cx ON big.w1 = cx.term
      JOIN cnt cy ON big.w2 = cy.term
      CROSS JOIN scal CROSS JOIN np
    )
    SELECT w1, w2, n_xy, {_PMI_LIFT} AS lift
    FROM j
    ORDER BY lift DESC, w1, w2
    LIMIT 20
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: lift (the exp of PMI) of adjacent token
    bigrams vs their unigram frequencies — the statistic phrase
    extraction and tokenizer-vocabulary audits rank by. Counting is
    pure BIGINT; the single float, lift, is one identically-written
    IEEE expression over exact integers rounded to 6 on both sides.

    Note n_pairs (the bigram-position total) is summed over ALL
    bigrams before the support filter, so probabilities stay proper;
    the >= 5 support cut only prunes the ranked output.

    Scale shape: one positional explode, two hash aggregations
    (bigrams, unigrams), two unhinted joins of the vocabulary-sized
    unigram table onto the bigram table (AQE broadcasts while the
    vocab is small; at web scale it shuffle-joins — the vocab grows
    with the corpus, so no pinned hint), and two broadcast 1-row
    scalars. At 100 TB the only big shuffle is the bigram count, and
    it combines map-side.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    b = docs.select(toks.alias("toks"), F.explode(idx).alias("pos")).select(
        F.element_at("toks", F.col("pos")).alias("w1"),
        F.element_at("toks", F.col("pos") + 1).alias("w2"),
    )
    big_all = b.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    big = big_all.filter(F.col("n_xy") >= 5)
    uni = docs.select(F.explode(toks).alias("term"))
    ucnt = uni.groupBy("term").agg(F.count("*").alias("n"))
    n_tok = uni.agg(F.count("*").alias("n_tok"))
    n_pairs = big_all.agg(F.sum("n_xy").cast("long").alias("n_pairs"))
    # ucnt is the unigram vocabulary — corpus-scaled, so no pinned
    # broadcast hints on these two joins (AQE picks broadcast while
    # small); only the 1-row scalars stay pinned.
    j = (
        big.join(ucnt.select(F.col("term").alias("w1"), F.col("n").alias("n_x")), "w1")
        .join(ucnt.select(F.col("term").alias("w2"), F.col("n").alias("n_y")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pairs))
    )
    return (
        j.select("w1", "w2", "n_xy", F.expr(_PMI_LIFT).alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): per-document sum of
# per-token log-likelihood ratios between a target domain's unigram
# LM and the whole-corpus unigram LM, in integer micro-nats.
# ---------------------------------------------------------------------------

_DSIR_TARGET_SOURCE = "src0"

_DSIR_LR = (
    "CAST(round(ln(((coalesce(tgt_tf, CAST(0 AS BIGINT)) + 1) * 1.0e0 / (tgt_tot + v_sz))"
    " / ((all_tf + 1) * 1.0e0 / (all_tot + v_sz))) * 1.0e6) AS BIGINT)"
)


@query(
    "quality_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    allc AS (SELECT term, CAST(count(*) AS BIGINT) AS all_tf FROM tok GROUP BY term),
    tgtc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS tgt_tf
      FROM tok WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY term
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS all_tot,
             CAST(count(DISTINCT term) AS BIGINT) AS v_sz
      FROM tok
    ),
    tscal AS (
      SELECT CAST(count(*) AS BIGINT) AS tgt_tot
      FROM tok WHERE source = '{_DSIR_TARGET_SOURCE}'
    ),
    lr AS (
      SELECT allc.term,
             {_DSIR_LR} AS lr_unats
      FROM allc
      LEFT JOIN tgtc USING (term)
      CROSS JOIN scal CROSS JOIN tscal
    ),
    doc AS (
      SELECT tok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lr.lr_unats) AS BIGINT) AS score_unats
      FROM tok JOIN lr USING (term)
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens, score_unats
    FROM doc
    ORDER BY score_unats DESC, doc_id
    LIMIT 100
    """,
)
def quality_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: score every document by how much
    more likely its tokens are under the target domain's (source
    'src0') Laplace-smoothed unigram LM than under the whole-corpus
    LM — the importance-resampling selection signal of Xie et al.
    2023, kept exactly engine-reproducible by quantizing each
    per-token log-ratio to integer micro-nats BEFORE the per-document
    sum (a float sum over an exploded token set has no deterministic
    order; a BIGINT sum is order-free).

    Missing-from-target vocabulary gets the +1 Laplace floor through
    a coalesce on the count itself (tgt_tf -> 0 -> smoothed 1), so a
    term the target domain never uses scores its honest negative
    log-ratio instead of a neutral 0.

    Scale shape: the log-ratio table is vocabulary-sized — it grows
    with the corpus, so its join is UNHINTED (AQE broadcasts while
    small, shuffle-joins at web scale; quality_dsir_weights_hashed is
    the fixed-memory hashing-trick twin); the document score is one
    explode + one combinable BIGINT aggregation. At 100 TB this is the
    cheapest useful quality signal there is: two token-count passes
    and a hash agg.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
    allc = tok.groupBy("term").agg(F.count("*").alias("all_tf"))
    tgtc = (
        tok.filter(F.col("source") == _DSIR_TARGET_SOURCE)
        .groupBy("term")
        .agg(F.count("*").alias("tgt_tf"))
    )
    scal = tok.agg(
        F.count("*").alias("all_tot"), F.countDistinct("term").alias("v_sz")
    )
    tscal = tok.filter(F.col("source") == _DSIR_TARGET_SOURCE).agg(
        F.count("*").alias("tgt_tot")
    )
    lr = (
        allc.join(tgtc, "term", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tscal))
        .select("term", F.expr(_DSIR_LR).alias("lr_unats"))
    )
    # lr is vocabulary-sized — it GROWS with the corpus (Heaps' law), so
    # the join carries no pinned broadcast hint: AQE broadcasts it while
    # it is actually small and falls back to a shuffle join when it
    # isn't (a pinned hint would OOM at 100 TB). The fixed-memory
    # production twin is quality_dsir_weights_hashed.
    doc = (
        tok.join(lr, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr_unats").cast("long").alias("score_unats"),
        )
    )
    return doc.select("doc_id", "n_tokens", "score_unats").orderBy(
        F.desc("score_unats"), "doc_id"
    ).limit(100)


# --- Hashed-vocabulary DSIR twin (the hashing trick, as in
# quality_hashed_classifier): token -> md5 bucket, so the weight table
# is FIXED at _DSIR_BUCKETS rows regardless of corpus vocabulary —
# the memory bound that makes the broadcast legitimate at 100 TB.

_DSIR_BUCKETS = 4096

# Same Laplace-smoothed log-ratio as _DSIR_LR, with the smoothing
# denominator the FIXED bucket count instead of the observed vocab size
# (the hashed model's event space is the bucket domain).
_DSIR_LR_HASHED = (
    f"CAST(round(ln(((coalesce(tgt_tf, CAST(0 AS BIGINT)) + 1) * 1.0e0"
    f" / (tgt_tot + {_DSIR_BUCKETS}))"
    f" / ((all_tf + 1) * 1.0e0 / (all_tot + {_DSIR_BUCKETS}))) * 1.0e6) AS BIGINT)"
)

_SQL_BUCKET = f"{sql_md5_long('term')} % {_DSIR_BUCKETS}"


@query(
    "quality_dsir_weights_hashed",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tb AS (SELECT doc_id, source, {_SQL_BUCKET} AS b FROM tok),
    allc AS (SELECT b, CAST(count(*) AS BIGINT) AS all_tf FROM tb GROUP BY b),
    tgtc AS (
      SELECT b, CAST(count(*) AS BIGINT) AS tgt_tf
      FROM tb WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY b
    ),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS all_tot FROM tb),
    tscal AS (
      SELECT CAST(count(*) AS BIGINT) AS tgt_tot
      FROM tb WHERE source = '{_DSIR_TARGET_SOURCE}'
    ),
    lr AS (
      SELECT allc.b, {_DSIR_LR_HASHED} AS lr_unats
      FROM allc
      LEFT JOIN tgtc USING (b)
      CROSS JOIN scal CROSS JOIN tscal
    ),
    doc AS (
      SELECT tb.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lr.lr_unats) AS BIGINT) AS score_unats
      FROM tb JOIN lr USING (b)
      GROUP BY tb.doc_id
    )
    SELECT doc_id, n_tokens, score_unats
    FROM doc
    ORDER BY score_unats DESC, doc_id
    LIMIT 100
    """,
)
def quality_dsir_weights_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of quality_dsir_weights under the hashing
    trick (the quality_hashed_classifier technique applied to DSIR):
    tokens hash (md5, cross-engine exact) into 4096 weight buckets,
    the two unigram LMs are estimated over bucket counts, and
    each document scores the BIGINT micro-nat sum of its buckets'
    smoothed log-ratios. The weight table is FIXED at 4096 rows no
    matter how large the corpus vocabulary grows — so its broadcast is
    bounded by construction, the scale property the exact twin cannot
    have (its lr table is Heaps-law vocabulary-sized). This is how
    DSIR is actually deployed (Xie et al. 2023 use hashed n-gram
    features for exactly this reason).

    Scale shape: two bucket-count aggregations whose state is <= 4096
    rows each (map-side combinable), one pinned-broadcast join of the
    4096-row weight table (legitimately pinned: the modulus bounds it
    at any corpus size), one combinable per-doc BIGINT aggregation.
    Memory per executor is O(buckets), independent of the corpus.
    """
    return dsir_hashed_frame(table(spark, sf_dir, "documents"))


def dsir_hashed_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of quality_dsir_weights_hashed over any
    (doc_id, source, text) frame — shared by the registered query and
    the scaling probe (tools/scale_probe.py hashed)."""
    tb = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    ).select("doc_id", "source", (md5_long("term") % _DSIR_BUCKETS).alias("b"))
    allc = tb.groupBy("b").agg(F.count("*").alias("all_tf"))
    tgtc = (
        tb.filter(F.col("source") == _DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count("*").alias("tgt_tf"))
    )
    scal = tb.agg(F.count("*").alias("all_tot"))
    tscal = tb.filter(F.col("source") == _DSIR_TARGET_SOURCE).agg(
        F.count("*").alias("tgt_tot")
    )
    # tgtc is also <= _DSIR_BUCKETS rows by modulus, so the lr build
    # join broadcasts too — no bucket-table shuffle anywhere.
    lr = (
        allc.join(F.broadcast(tgtc), "b", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tscal))
        .select("b", F.expr(_DSIR_LR_HASHED).alias("lr_unats"))
    )
    # lr is <= _DSIR_BUCKETS rows BY CONSTRUCTION (modulus), so the
    # pinned broadcast is the fixed-memory production shape — see
    # tests/test_plans.py CORPUS_HINT_ALLOWED.
    doc = (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr_unats").cast("long").alias("score_unats"),
        )
    )
    return doc.select("doc_id", "n_tokens", "score_unats").orderBy(
        F.desc("score_unats"), "doc_id"
    ).limit(100)


# ---------------------------------------------------------------------------
# Margin-based pair mining (Artetxe & Schwenk 2019 "margin criterion"
# for bitext mining): score cross-set pairs by cosine normalized by
# the mean cosine of each endpoint's nearest neighbors.
# ---------------------------------------------------------------------------

_MARGIN_K = 4


@query(
    "sim_margin_pairs",
    oracle=f"""
    WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS av
               FROM embeddings WHERE label = 0),
    b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv
          FROM embeddings WHERE label = 1),
    m AS (
      SELECT a_id, b_id,
             CAST(round(round(list_cosine_similarity(av, bv), 6) * 1000000.0e0)
                  AS BIGINT) AS cos_u
      FROM a CROSS JOIN b
    ),
    ra AS (
      SELECT a_id, cos_u,
             row_number() OVER (PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS rn
      FROM m
    ),
    sa AS (SELECT a_id, CAST(sum(cos_u) AS BIGINT) AS sa_u
           FROM ra WHERE rn <= {_MARGIN_K} GROUP BY a_id),
    rb AS (
      SELECT b_id, cos_u,
             row_number() OVER (PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS rn
      FROM m
    ),
    sb AS (SELECT b_id, CAST(sum(cos_u) AS BIGINT) AS sb_u
           FROM rb WHERE rn <= {_MARGIN_K} GROUP BY b_id),
    j AS (
      SELECT m.a_id, m.b_id, m.cos_u,
             round(m.cos_u * {2 * _MARGIN_K}.0e0 / (sa.sa_u + sb.sb_u), 6) AS margin
      FROM m JOIN sa USING (a_id) JOIN sb USING (b_id)
    )
    SELECT a_id, b_id, cos_u, margin FROM j
    ORDER BY margin DESC, a_id, b_id
    LIMIT 20
    """,
)
def sim_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion pair mining between two embedding populations
    (label 0 vs label 1 — the bitext-mining shape of Artetxe &
    Schwenk 2019: a pair is strong if its cosine beats the average
    cosine of each endpoint's own k nearest neighbors, which cancels
    hubness). Cosines are quantized to BIGINT micro-units after the
    established round-6 boundary, so the top-k neighborhood sums are
    order-free integer arithmetic; the final margin is one IEEE
    division of exact integers rounded identically on both engines.

    This is the brute-force baseline twin of sim_cosine_topk: the
    |A| x |B| cross-label matrix is computed once and reused for both
    neighborhood windows and the pair scores. At 100 TB the matrix
    build is replaced by the LSH/IVF candidate joins (ops/similarity)
    and the windows run per bucket — the margin arithmetic is
    unchanged; checkpoint the candidate matrix so the three consumers
    scan it once.
    """
    emb = table(spark, sf_dir, "embeddings")
    return _margin_topk(_margin_exact(emb.filter(F.col("label") == 0), emb))


def _cos_u(a: str, b: str) -> Column:
    """:func:`cos6` of two ``unit`` sides in BIGINT micro-units, so
    neighborhood sums are order-free integer arithmetic."""
    return F.round(cos6(a, b) * F.lit(1000000.0)).cast("long")


def _margin_sides(a_pop: DataFrame, emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ``unit`` sides of the margin matrix: (a_id, av, an) over
    ``a_pop`` and (b_id, bv, bn) over the label-1 rows of ``emb``."""
    a = unit(a_pop, "embedding", "a").select(F.col("vec_id").alias("a_id"), "av", "an")
    b = unit(emb.filter(F.col("label") == 1), "embedding", "b")
    return a, b.select(F.col("vec_id").alias("b_id"), "bv", "bn")


def _margin_exact(a_pop: DataFrame, emb: DataFrame) -> DataFrame:
    """(a_id, b_id, cos_u) over every a x b pair: the brute-force
    matrix. Both label populations scale with the corpus, so the cross
    join carries no pinned broadcast hint (the optimizer still
    broadcasts whichever side is small enough; at scale you don't run
    this shape at all — sim_margin_pairs_indexed is the candidate-join
    twin)."""
    a, b = _margin_sides(a_pop, emb)
    return b.crossJoin(a).select("a_id", "b_id", _cos_u("a", "b").alias("cos_u"))


def _margin_topk(m: DataFrame, k: int = 20) -> DataFrame:
    """The margin-criterion arithmetic over any (a_id, b_id, cos_u)
    pair frame — shared by the brute-force baseline (all pairs) and
    the LSH-indexed production twin (candidate pairs): per-endpoint
    top-_MARGIN_K neighborhood sums in order-free BIGINT micro-units,
    one IEEE division per pair, fully-tiebroken top-k."""
    ra = F.row_number().over(W.partitionBy("a_id").orderBy(F.desc("cos_u"), "b_id"))
    sa = (
        m.withColumn("rn", ra)
        .filter(F.col("rn") <= _MARGIN_K)
        .groupBy("a_id")
        .agg(F.sum("cos_u").cast("long").alias("sa_u"))
    )
    rb = F.row_number().over(W.partitionBy("b_id").orderBy(F.desc("cos_u"), "a_id"))
    sb = (
        m.withColumn("rn", rb)
        .filter(F.col("rn") <= _MARGIN_K)
        .groupBy("b_id")
        .agg(F.sum("cos_u").cast("long").alias("sb_u"))
    )
    j = m.join(sa, "a_id").join(sb, "b_id").select(
        "a_id",
        "b_id",
        "cos_u",
        F.round(
            F.col("cos_u") * F.lit(float(2 * _MARGIN_K)) / (F.col("sa_u") + F.col("sb_u")),
            6,
        ).alias("margin"),
    )
    return j.orderBy(F.desc("margin"), "a_id", "b_id").limit(k)


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the 100 TB shape of the eval-gram
# guard. The exact semi-join against the eval gram set is correct but
# shuffles EVERY training gram; the production pattern is a Bloom
# pre-filter on the scan (fixed-size bit table, no shuffle for the
# ~100% of grams that are clean) with the exact join only on the
# surviving candidates. Spark's runtime bloom injection does this
# automatically for large scans; this is the explicit, engine-level
# form — built from md5-derived probes and BIGINT bit arithmetic so
# DuckDB replays the WHOLE filter (bits, probes, false positives)
# bit-for-bit, which the JVM-internal might_contain cannot offer.
# The probes, the 60-bit word table and the screen are ops.hashing's.
# ---------------------------------------------------------------------------

_CONTAM_GUARD_ORACLE = f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_CONTAM_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + {_CONTAM_N - 1}), ' ') AS gram
      FROM pg
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
    SELECT DISTINCT g.doc_id
    FROM g JOIN ev USING (gram)
    WHERE g.doc_id % 50 <> 0
    """


@query("decontam_bloom_prefilter", oracle=_CONTAM_GUARD_ORACLE)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-training-doc detection through a BLOOM PRE-FILTER:
    the eval 4-gram set builds a 65536-bit filter (3 md5
    probes per gram, bits bit_or-aggregated into <= 1093 60-bit BIGINT
    words — a table bounded by the modulus, never by the data), every
    distinct training gram is screened against the broadcast word
    table scan-side, and ONLY the surviving candidates reach the exact
    eval-gram semi-join. A Bloom filter has no false negatives (the
    build sets exactly the bits the probes read), so the final answer
    is IDENTICAL to the plain exact join — the oracle is the same
    exact-join SQL, which is precisely the point: the scale
    optimization is output-invariant and differentially provable.

    Scale shape: at 100 TB the exact join shuffles every training
    gram; here the shuffle carries only bloom survivors (true matches
    + sub-1% false positives: measured 7989 ppm at sf0.1 vs the
    analytic (1-e^(-kn/m))^k = 7870 ppm — decontam_bloom_quality
    meters the rate differentially every round). The filter
    table is fixed-size regardless of corpus, the probe is a codegen'd
    projection + one broadcast hash join on word index, and this is
    the explicit form of the runtime bloom-join pruning Spark injects
    for big scans (tests/test_plans.py exercises the automatic one).
    """
    return bloom_prefilter_frame(table(spark, sf_dir, "documents"))


def _bloom_legs(docs: DataFrame, bits: int) -> tuple[DataFrame, ...]:
    """(tg, ev, tgd, cand) of the batch Bloom screen: the training
    (doc_id, gram) rows, the distinct eval grams, the distinct training
    grams, and those of them that pass the filter the eval grams build.
    The build is <= ceil(m / 60) = 1093 words, bounded by the modulus, so
    the screen's pinned broadcast is the fixed-memory production shape.

    r12 MEASURED AND DECLINED (guide §1): inlining the word table as a
    literal array (the streaming guard's form) regressed the batch
    prefilter 1.26x in a same-session A/B — the collect() is a separate
    action that re-derives the eval gram tree, while the batch join
    screen folds into the one AQE-planned job and shares the ev subtree
    via exchange reuse. Per-stage fixed cost is what the literal
    removes, and only micro-batch re-planning pays it."""
    g = _windows_frame(docs, span_n=_CONTAM_N).select("doc_id", "gram")
    ev = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    tg = g.filter(F.col("doc_id") % 50 != 0)
    tgd = tg.select("gram").distinct()
    words = bit_words(ev, F.explode(bloom_probes("gram", bits)))
    return tg, ev, tgd, bloom_screen(tgd, "gram", words, bits)


def bloom_prefilter_frame(docs: DataFrame, bits: int = TABLE_BITS) -> DataFrame:
    """Frame-level body of decontam_bloom_prefilter over any
    (doc_id, text) frame — shared by the registered query and the
    scaling probe (tools/scale_probe.py hashed), which sizes ``bits``
    to the synthetic eval corpus per the docstring's deploy rule."""
    tg, ev, _, hits = _bloom_legs(docs, bits)
    # exact verification on survivors only — removes false positives,
    # so the output is the exact join's output
    return (
        tg.join(hits, "gram", "left_semi")
        .join(ev, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )


_BLOOM_QUALITY_ORACLE = f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_CONTAM_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + {_CONTAM_N - 1}), ' ') AS gram
      FROM pg
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    tgd AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 <> 0),
    words AS ({sql_bit_words("ev", f"unnest({sql_bloom_probes('gram')})")}),
    cand AS ({sql_bloom_screen("tgd", "gram", "words")}),
    truth AS (SELECT gram FROM tgd JOIN ev USING (gram))
    SELECT CAST((SELECT count(*) FROM tgd) AS BIGINT) AS n_train_grams,
           CAST((SELECT count(*) FROM ev) AS BIGINT) AS n_eval_grams,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_shared,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM cand) - (SELECT count(*) FROM truth)
                AS BIGINT) AS n_false_positives,
           CAST(((SELECT count(*) FROM cand) - (SELECT count(*) FROM truth))
                * 1000000 // (SELECT count(*) FROM tgd) AS BIGINT) AS fp_ppm
    """


@query("decontam_bloom_quality", oracle=_BLOOM_QUALITY_ORACLE)
def decontam_bloom_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential QUALITY meter for the Bloom pre-filter: candidate
    count vs ground-truth shared-gram count, and the false-positive
    rate in ppm of screened grams. Because the filter is md5-derived
    BIGINT arithmetic (not a JVM-internal sketch), DuckDB replays the
    exact bit table and probe sequence — so even the FALSE POSITIVES
    match bit-for-bit, and the claim "the pre-filter passes ~0.1% of
    clean grams at these parameters" is a differentially checked
    number, not an estimate. n_false_positives >= 0 always; a negative
    value would mean a false negative, which the construction forbids.

    Scale note: fp rate for a Bloom filter is (1-e^(-kn/m))^k; at the
    registered parameters (m=65536, k=3) the sf0.1 eval set (4845
    grams) predicts 7870 ppm and the meter measures 7989 — theory and
    differential measurement agree to 1.5%. At 100 TB you size m to
    the eval corpus (which is benchmark-sized, NOT train-sized, so
    the table stays broadcastable by construction).
    """
    return bloom_fp_frame(table(spark, sf_dir, "documents"))


def bloom_fp_frame(docs: DataFrame, bits: int = TABLE_BITS) -> DataFrame:
    """Frame-level body of decontam_bloom_quality over any
    (doc_id, text) frame — shared by the registered query and the
    scaling probe (which records fp_ppm at every scale, sizing
    ``bits`` to the eval corpus per the deploy rule)."""
    _, ev, tgd, cand = _bloom_legs(docs, bits)
    truth = tgd.join(ev, "gram")
    n_train = tgd.agg(F.count("*").alias("n_train_grams"))
    n_eval = ev.agg(F.count("*").alias("n_eval_grams"))
    n_truth = truth.agg(F.count("*").alias("n_true_shared"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return (
        n_train.crossJoin(n_eval)
        .crossJoin(n_truth)
        .crossJoin(n_cand)
        .select(
            "n_train_grams",
            "n_eval_grams",
            "n_true_shared",
            "n_candidates",
            (F.col("n_candidates") - F.col("n_true_shared")).alias(
                "n_false_positives"
            ),
            F.expr(
                "(n_candidates - n_true_shared) * 1000000 div n_train_grams"
            ).alias("fp_ppm"),
        )
    )


# --- LSH-indexed margin mining: the production twin of the brute
# |A| x |B| matrix. Candidates come from a multi-table hyperplane LSH
# join (16 tables x 3 planes, disjoint slices of the global family —
# the exact machinery of ops.similarity.multi_table_buckets), and the
# margin arithmetic is the SAME helper the brute twin runs.
#
# Knob history (recall of the exact top-20, metered by
# sim_margin_quality's differential oracle — full sweep in SCALING.md):
# 16x4 recalled 16/20 at both SFs (the r5 figure). Diagnosis: every
# missed pair sat at >=0.99 cosine percentile and half were
# in-candidates-but-ranked-out (neighborhood-sum distortion), so more
# candidate mass attacks both failure modes at once. 24x4 recalls
# 19/20 + 20/20 for 3.0 s best-of-3 at sf0.1; 16x3 recalls
# 20/20 + 19/20 for 2.2 s (and its 16-table oracle SQL is ~2.5x
# cheaper in DuckDB) — chosen. Both meet the >=0.90 target at both
# SFs; at 100 TB planes scale with log2(population) regardless (the
# occupancy rule, tools/scale_probe.py hashed).

_MT_TABLES = 16
_MT_PLANES = 3
_MARGIN_COS_U = (
    "CAST(round(round(list_cosine_similarity(a.av, b.bv), 6)"
    " * 1000000.0e0) AS BIGINT)"
)


def _sql_slice_bucket(t: int, dim: int = 64) -> str:
    """DuckDB bucket id for LSH table ``t`` over quantized column
    ``qv`` — the literal twin of ops.similarity.multi_table_buckets'
    disjoint plane slice (same md5-derived signs, same bit packing)."""
    from ..ops.similarity import hyperplane_signs

    signs = hyperplane_signs(dim, _MT_TABLES * _MT_PLANES)[
        t * _MT_PLANES : (t + 1) * _MT_PLANES
    ]
    terms = [
        "(CASE WHEN list_dot_product(qv, ["
        + ", ".join(f"{s}.0" for s in srow)
        + f"]) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {j})"
        for j, srow in enumerate(signs)
    ]
    return "(" + " + ".join(terms) + ")"


def _margin_sides_sql(a_sample_mod: int | None = None) -> str:
    """The shared a/b population CTEs (vectors + quantized copies).
    ``a_sample_mod`` adds the deterministic md5 hash-sample predicate
    to the a side — the sampled-metering recipe's only difference."""
    samp = (
        ""
        if a_sample_mod is None
        else f" AND {sql_md5_long('vec_id')} % {a_sample_mod} = 0"
    )
    return f"""
    a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS av, {_SQL_QV} AS qv
          FROM embeddings WHERE label = 0{samp}),
    b AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv, {_SQL_QV} AS qv
          FROM embeddings WHERE label = 1)"""


def _margin_cand_sql() -> str:
    """Candidate CTEs: per-table bucket keys on both sides, a 4-way
    bucket equi-join union, and the exact cos_u on candidates only."""
    keys = ", ".join(
        f"{_sql_slice_bucket(t)} AS k{t}" for t in range(_MT_TABLES)
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT ab.a_id, bb.b_id FROM ab JOIN bb ON ab.k{t} = bb.k{t}"
        for t in range(_MT_TABLES)
    )
    return f"""
    ab AS (SELECT a_id, {keys} FROM a),
    bb AS (SELECT b_id, {keys.replace('qv', 'qv')} FROM b),
    cand AS (
      SELECT DISTINCT a_id, b_id FROM (
        {unions}
      )
    ),
    mi AS (
      SELECT c.a_id, c.b_id, {_MARGIN_COS_U} AS cos_u
      FROM cand c JOIN a ON c.a_id = a.a_id JOIN b ON c.b_id = b.b_id
    )"""


def _margin_rank_sql(mname: str, tag: str) -> str:
    """The margin pipeline over pair CTE ``mname`` (the SQL twin of
    :func:`_margin_topk`), ending in CTE ``top{tag}``."""
    return f"""
    ra{tag} AS (
      SELECT a_id, b_id, cos_u,
             row_number() OVER (PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS rn
      FROM {mname}
    ),
    sa{tag} AS (SELECT a_id, CAST(sum(cos_u) AS BIGINT) AS sa_u
           FROM ra{tag} WHERE rn <= {_MARGIN_K} GROUP BY a_id),
    rb{tag} AS (
      SELECT a_id, b_id, cos_u,
             row_number() OVER (PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS rn
      FROM {mname}
    ),
    sb{tag} AS (SELECT b_id, CAST(sum(cos_u) AS BIGINT) AS sb_u
           FROM rb{tag} WHERE rn <= {_MARGIN_K} GROUP BY b_id),
    top{tag} AS (
      SELECT m.a_id, m.b_id, m.cos_u,
             round(m.cos_u * {2 * _MARGIN_K}.0e0 / (sa.sa_u + sb.sb_u), 6) AS margin
      FROM {mname} m
      JOIN sa{tag} sa USING (a_id) JOIN sb{tag} sb USING (b_id)
      ORDER BY margin DESC, a_id, b_id LIMIT 20
    )"""


def _margin_sample_pred(mod: int):
    """Deterministic md5 hash-sample predicate over vec_id — the Spark
    twin of the ``a_sample_mod`` clause in :func:`_margin_sides_sql`,
    so both engines keep the same endpoints."""
    return md5_long("vec_id") % mod == 0


def margin_cand_frame_from(
    emb: DataFrame,
    tables: int = _MT_TABLES,
    planes: int = _MT_PLANES,
    materialize: bool = True,
    a_sample_mod: int | None = None,
) -> DataFrame:
    """(a_id, b_id, cos_u) over LSH candidates only — the indexed pair
    frame both the indexed query and the recall meter consume.
    ``a_sample_mod`` restricts the a side to the deterministic hash
    sample BEFORE bucket assignment — querying the production index
    with a sampled endpoint set, the 100 TB metering recipe.
    ``tables``/``planes`` are the registered knobs, overridable so the
    scaling probe (tools/scale_probe.py hashed) can apply the deploy
    rule — planes track log2(corpus) so bucket occupancy stays flat.

    ``materialize`` localCheckpoints the candidate matrix: the margin
    stage scans it three times (two neighborhood windows + the pair
    join), and recomputing the bucket join + cosine subtree per
    consumer measured ~3x the wall (7.9 -> 3.0 s at sf0.1). This is
    exactly what the brute twin's docstring prescribes ("checkpoint
    the candidate matrix so the three consumers scan it once"); the
    frame is the LSH-PRUNED pair set — near-dup-density-sized, not
    |A| x |B| — and at 100 TB you persist this stage boundary as a
    table. Plan tests pass materialize=False to see the join shape."""
    from ..ops import similarity as S

    a_pop = emb.filter(F.col("label") == 0)
    if a_sample_mod is not None:
        a_pop = a_pop.filter(_margin_sample_pred(a_sample_mod))
    ta = S.multi_table_buckets(
        a_pop,
        tables=tables,
        planes_per_table=planes,
    ).select(F.col("id").alias("a_id"), "t", "bucket")
    tb = S.multi_table_buckets(
        emb.filter(F.col("label") == 1),
        tables=tables,
        planes_per_table=planes,
    ).select(F.col("id").alias("b_id"), "t", "bucket")
    cand = (
        ta.join(tb, ["t", "bucket"])
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    av, bv = _margin_sides(a_pop, emb)
    m = cand.join(av, "a_id").join(bv, "b_id").select(
        "a_id", "b_id", _cos_u("a", "b").alias("cos_u")
    )
    return m.localCheckpoint() if materialize else m


def _margin_cand_frame(
    spark: SparkSession,
    sf_dir: str,
    materialize: bool = True,
    a_sample_mod: int | None = None,
) -> DataFrame:
    """Registered-query wrapper of :func:`margin_cand_frame_from` over
    the testdata embeddings table at the registered knobs."""
    return margin_cand_frame_from(
        table(spark, sf_dir, "embeddings"),
        materialize=materialize,
        a_sample_mod=a_sample_mod,
    )


def margin_indexed_frame(
    emb: DataFrame, tables: int = _MT_TABLES, planes: int = _MT_PLANES
) -> DataFrame:
    """Frame-level entry of sim_margin_pairs_indexed for the scaling
    probe: LSH candidates -> exact cosines on candidates -> margin
    top-k, over any (vec_id, embedding, label) frame."""
    return _margin_topk(margin_cand_frame_from(emb, tables=tables, planes=planes))


@query(
    "sim_margin_pairs_indexed",
    oracle="WITH"
    + _margin_sides_sql()
    + ","
    + _margin_cand_sql()
    + ","
    + _margin_rank_sql("mi", "i")
    + "\n    SELECT a_id, b_id, cos_u, margin FROM topi",
)
def sim_margin_pairs_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of sim_margin_pairs: cross-label candidate
    pairs come from a multi-table hyperplane-LSH bucket equi-join
    (16 tables x 3 disjoint plane slices — the same recall point as
    the registered LSH near-dup family, via the machinery of
    ops.similarity.multi_table_buckets: deterministic md5-derived
    signs over integer-quantized projections so DuckDB replays the
    buckets bit-for-bit), exact micro-unit cosines are computed on
    candidates ONLY, and the margin arithmetic is the SAME
    _margin_topk helper the brute twin runs — neighborhood sums taken
    over the candidate set (the standard indexed-margin
    approximation; sim_margin_quality meters its recall against the
    exact matrix every round — 1.00 of the exact top-20 at sf0.01 and
    0.95 at sf0.1 with the 16x3 family; the 16x4 family of r5
    measured 0.80 at both).

    Scale shape: bucket assignment is one codegen'd projection per
    side (no shuffle); the only pair-producing join is the (t, bucket)
    equi-join, cost bounded by bucket occupancy — never |A| x |B|; at
    100 TB raise planes_per_table so 2^planes tracks corpus growth,
    exactly like the registered LSH dedup family. No cartesian, no
    broadcast of either corpus-scaled population (plan-tested).
    """
    return _margin_topk(_margin_cand_frame(spark, sf_dir))


@query(
    "sim_margin_quality",
    oracle="WITH"
    + _margin_sides_sql()
    + f""",
    m AS (
      SELECT a_id, b_id, {_MARGIN_COS_U} AS cos_u
      FROM a CROSS JOIN b
    ),"""
    + _margin_cand_sql()
    + ","
    + _margin_rank_sql("m", "x")
    + ","
    + _margin_rank_sql("mi", "i")
    + f"""
    SELECT CAST((SELECT count(*) FROM topx) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM topi) AS BIGINT) AS n_indexed,
           CAST((SELECT count(*) FROM topx JOIN topi USING (a_id, b_id))
                AS BIGINT) AS n_matched,
           CAST((SELECT count(*) FROM topx JOIN topi USING (a_id, b_id))
                * 1000000 // (SELECT count(*) FROM topx) AS BIGINT)
             AS recall_ppm
    """,
)
def sim_margin_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential QUALITY meter for the margin-mining family (the
    dedup_minhash_quality / dedup_semantic_quality pattern): how many
    of the exact brute-force top-20 margin pairs the LSH-indexed twin
    recovers. Both pipelines are deterministic in both engines
    (bit-exact buckets, micro-unit cosines, fully-tiebroken top-k), so
    the accuracy claim is itself differentially checked rather than
    asserted.

    Scale stance: the exact side is the VALIDATION pass — run it on a
    hash-sample to meter production recall at 100 TB; the indexed side
    is the production path.
    """
    emb = table(spark, sf_dir, "embeddings")
    m = _margin_exact(emb.filter(F.col("label") == 0), emb)
    exact = _margin_topk(m).select("a_id", "b_id")
    indexed = _margin_topk(_margin_cand_frame(spark, sf_dir)).select("a_id", "b_id")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_indexed = indexed.agg(F.count("*").alias("n_indexed"))
    n_matched = exact.join(indexed, ["a_id", "b_id"]).agg(
        F.count("*").alias("n_matched")
    )
    return (
        n_exact.crossJoin(n_indexed)
        .crossJoin(n_matched)
        .select(
            "n_exact",
            "n_indexed",
            "n_matched",
            F.expr("n_matched * 1000000 div n_exact").alias("recall_ppm"),
        )
    )


_MARGIN_SAMPLE_MOD = 4


@query(
    "sim_margin_quality_sampled",
    oracle="WITH"
    + _margin_sides_sql(a_sample_mod=_MARGIN_SAMPLE_MOD)
    + f""",
    m AS (
      SELECT a_id, b_id, {_MARGIN_COS_U} AS cos_u
      FROM a CROSS JOIN b
    ),"""
    + _margin_cand_sql()
    + ","
    + _margin_rank_sql("m", "x")
    + ","
    + _margin_rank_sql("mi", "i")
    + """
    SELECT CAST((SELECT count(*) FROM topx) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM topi) AS BIGINT) AS n_indexed,
           CAST((SELECT count(*) FROM topx JOIN topi USING (a_id, b_id))
                AS BIGINT) AS n_matched,
           CAST((SELECT count(*) FROM topx JOIN topi USING (a_id, b_id))
                * 1000000 // (SELECT count(*) FROM topx) AS BIGINT)
             AS recall_ppm
    """,
)
def sim_margin_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED twin of sim_margin_quality — the exact-leg recipe
    its docstring prescribes for 100 TB, registered and differentially
    checked instead of merely asserted (the sim_ivf_pq_sampled
    pattern, applied to metering instead of training): the a-side is
    restricted to a deterministic md5 hash-sample (mod
    4 = 25%) BEFORE the exact cross join, so the
    validation pass scans |sample| x |B| instead of |A| x |B| — the
    filter sits under the scan, plan-visibly (tests/test_plans.py) —
    while the indexed leg queries the SAME production LSH index with
    the sampled endpoint set. Both legs see the identical a
    population, so the overlap of their top-20s is an unbiased
    sampled estimate of production recall; at 100 TB you tighten the
    modulus until the exact leg fits a validation budget, and the
    estimate's variance shrinks with sample size.

    Both sides stay deterministic in both engines (md5 sample
    predicate, bit-exact buckets, micro-unit cosines, fully-tiebroken
    top-k), so even the SAMPLED meter is differentially checked."""
    emb = table(spark, sf_dir, "embeddings")
    a_pop = emb.filter(F.col("label") == 0).filter(_margin_sample_pred(_MARGIN_SAMPLE_MOD))
    exact = _margin_topk(_margin_exact(a_pop, emb)).select("a_id", "b_id")
    indexed = _margin_topk(
        _margin_cand_frame(spark, sf_dir, a_sample_mod=_MARGIN_SAMPLE_MOD)
    ).select("a_id", "b_id")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_indexed = indexed.agg(F.count("*").alias("n_indexed"))
    n_matched = exact.join(indexed, ["a_id", "b_id"]).agg(
        F.count("*").alias("n_matched")
    )
    return (
        n_exact.crossJoin(n_indexed)
        .crossJoin(n_matched)
        .select(
            "n_exact",
            "n_indexed",
            "n_matched",
            F.expr("n_matched * 1000000 div n_exact").alias("recall_ppm"),
        )
    )


@query(
    "streaming_contam_guard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_CONTAM_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + {_CONTAM_N - 1}), ' ') AS gram
      FROM pg
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
    SELECT DISTINCT g.doc_id
    FROM g JOIN ev USING (gram)
    WHERE g.doc_id % 50 <> 0
    """,
)
def streaming_contam_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of streaming.landing.stream_contamination_guard
    (see that docstring): a REAL streaming run (availableNow) of the
    stream-static contamination semi-join, checked against the batch
    distinct-contaminated-docs oracle. The streaming twin of
    decontaminate_span_stats' doc set. state_partitions=8 pins the
    stateful dropDuplicates' state-store count at the measured
    local-mode optimum for one availableNow batch — pinned at this
    bench-facing call site, not in the op's default (r11 VERDICT #7)."""
    from ..streaming.landing import stream_contamination_guard

    return stream_contamination_guard(spark, sf_dir, state_partitions=8)


@query("streaming_contam_guard_bloom", oracle=_CONTAM_GUARD_ORACLE)
def streaming_contam_guard_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of
    streaming.landing.stream_contamination_guard_bloom (see that
    docstring): the bloom-prefiltered streaming decontamination guard,
    completing the batch/stream pairing of decontam_bloom_prefilter.
    The Bloom screen is output-invariant (no false negatives), so this
    runs against the SAME exact-join oracle as both the plain
    streaming guard and the batch prefilter — the scale optimization
    is differentially proven, not asserted, in the streaming plan
    too. state_partitions=8 pins the stateful dropDuplicates'
    state-store count at the measured local-mode optimum for one
    availableNow batch (the stream_stream_signup_purchase rationale) —
    pinned at this bench-facing call site, not in the op's default
    (r11 VERDICT #4/#7)."""
    from ..streaming.landing import stream_contamination_guard_bloom

    return stream_contamination_guard_bloom(spark, sf_dir, state_partitions=8)


@query(
    "text_dup_span_removal",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos, pos + {_SPAN_N - 1}), ' ') AS gram
      FROM pg
    ),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS n_occ
      FROM g
    ),
    dp AS (
      SELECT doc_id, list_sort(list(pos)) AS dps
      FROM marked WHERE n_occ >= 2 GROUP BY doc_id
    ),
    joined AS (
      SELECT t.doc_id, t.toks,
             CASE WHEN dp.dps IS NULL THEN CAST([] AS BIGINT[]) ELSE dp.dps END AS dps
      FROM tok t LEFT JOIN dp ON t.doc_id = dp.doc_id
    ),
    cleaned AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             list_filter(
               list_transform(range(1, len(toks) + 1),
                 i -> CASE WHEN len(list_filter(dps,
                              p -> i >= p AND i <= p + {_SPAN_N - 1})) > 0
                           THEN NULL ELSE toks[i] END),
               x -> x IS NOT NULL) AS kept
      FROM joined
    )
    SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
           (n_tokens - len(kept)) * 1000000 // greatest(n_tokens, 1) AS removed_ppm,
           md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
    FROM cleaned
    """,
)
def text_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM text_dup_span_stats reports on: excise every
    duplicated 5-token span and REBUILD the cleaned document, with
    both engines reconstructing byte-identical text (md5-compared —
    the same end-to-end reconstruction guarantee text_segment_dedup
    gives at segment granularity, here at exact-span granularity).
    Aggressive excision semantics: every occurrence of a duplicated
    window is removed (the conservative keep-one variant is the
    segment-dedup query; pipelines pick per corpus).

    Scale shape: the window marking is the dup-span single-shuffle
    plan; each document's duplicated positions then collect into a
    per-doc array (bounded by windows-per-doc, the segment-dedup
    precedent) and one codegen projection rebuilds the kept token
    list — no second explode, no per-token join.
    """
    docs = table(spark, sf_dir, "documents")
    g = _windows_frame(docs)
    marked = g.withColumn(
        "n_occ", F.count("*").over(W.partitionBy("gram"))
    ).filter(F.col("n_occ") >= 2)
    dp = marked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("dps")
    )
    toks = tokens(F.col("text"))
    joined = docs.select("doc_id", toks.alias("toks")).join(dp, "doc_id", "left")
    dps = F.coalesce(F.col("dps").cast("array<long>"), F.array().cast("array<long>"))
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.when(
                F.exists(dps, lambda p: (i >= p) & (i <= p + (_SPAN_N - 1))),
                F.lit(None).cast("string"),
            ).otherwise(F.element_at("toks", i)),
        ),
        lambda x: x.isNotNull(),
    )
    cleaned = joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        kept.alias("kept"),
    )
    return cleaned.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("long").alias("n_kept"),
        F.expr(
            "(n_tokens - size(kept)) * 1000000 div greatest(n_tokens, 1)"
        ).alias("removed_ppm"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("cleaned_md5"),
    )


_FP_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


@query(
    "pretrain_pipeline_e2e",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, lang, text, {_FP_SQL} AS fingerprint
      FROM documents
    ),
    keep AS (
      SELECT fingerprint, min(doc_id) AS keeper FROM fp GROUP BY fingerprint
    ),
    survivors AS (
      SELECT fp.doc_id, fp.source, fp.lang, fp.text
      FROM fp JOIN keep ON fp.fingerprint = keep.fingerprint
                       AND fp.doc_id = keep.keeper
    ),
    tok AS (SELECT doc_id, source, lang, {_SQL_TOKS} AS toks FROM survivors),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos, pos + {_SPAN_N - 1}), ' ') AS gram
      FROM pg
    ),
    marked AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ FROM g
    ),
    cov AS (
      SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS covered FROM (
        SELECT doc_id,
               CASE WHEN lag(pos) OVER w IS NULL THEN {_SPAN_N}
                    ELSE least({_SPAN_N}, pos - lag(pos) OVER w) END AS contrib
        FROM marked WHERE n_occ >= 2
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      ) GROUP BY doc_id
    ),
    cleaned AS (
      SELECT t.doc_id, t.source, t.lang,
             CAST(len(t.toks) AS BIGINT)
               - CAST(coalesce(cov.covered, 0) AS BIGINT) AS n_kept
      FROM tok t LEFT JOIN cov ON t.doc_id = cov.doc_id
    ),
    gated AS (
      SELECT doc_id, source, n_kept FROM cleaned
      WHERE lang = 'en' AND n_kept >= 10
    ),
    allc AS (
      SELECT t2.term, CAST(count(*) AS BIGINT) AS all_tf FROM (
        SELECT unnest({_SQL_TOKS}) AS term FROM documents) t2 GROUP BY t2.term
    ),
    tgtc AS (
      SELECT t3.term, CAST(count(*) AS BIGINT) AS tgt_tf FROM (
        SELECT unnest({_SQL_TOKS}) AS term FROM documents
        WHERE source = '{_DSIR_TARGET_SOURCE}') t3 GROUP BY t3.term
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS all_tot,
             CAST(count(DISTINCT term) AS BIGINT) AS v_sz
      FROM (SELECT unnest({_SQL_TOKS}) AS term FROM documents)
    ),
    tscal AS (
      SELECT CAST(count(*) AS BIGINT) AS tgt_tot
      FROM (SELECT unnest({_SQL_TOKS}) AS term FROM documents
            WHERE source = '{_DSIR_TARGET_SOURCE}')
    ),
    lr AS (
      SELECT allc.term, {_DSIR_LR} AS lr_unats
      FROM allc LEFT JOIN tgtc USING (term)
      CROSS JOIN scal CROSS JOIN tscal
    ),
    dscore AS (
      SELECT dtok.doc_id, CAST(sum(lr.lr_unats) AS BIGINT) AS score_unats
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents) dtok
      JOIN lr USING (term)
      WHERE dtok.doc_id IN (SELECT doc_id FROM gated)
      GROUP BY dtok.doc_id
    ),
    ranked AS (
      SELECT gg.doc_id, gg.source, gg.n_kept, ds.score_unats,
             CAST(sum(gg.n_kept) OVER (PARTITION BY gg.source
                  ORDER BY ds.score_unats DESC, gg.doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             CAST(sum(gg.n_kept) OVER (PARTITION BY gg.source) AS BIGINT)
               AS source_tokens
      FROM gated gg JOIN dscore ds ON gg.doc_id = ds.doc_id
    )
    SELECT doc_id, source, n_kept, score_unats, cum_tokens
    FROM ranked
    WHERE cum_tokens * 10 <= source_tokens * 4
    """,
)
def pretrain_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline COMPOSED end to end, exactly
    engine-reproducible at every stage: (1) fingerprint dedup keeps
    the min-id survivor per normalized-text hash; (2) duplicated
    5-gram spans are excised from survivors (island coverage
    arithmetic — only the kept-token COUNT flows on); (3) a quality
    gate keeps English docs with >= 10 surviving tokens; (4) each doc
    is scored by DSIR target-likelihood ratio in BIGINT micro-nats;
    (5) each source spends a 40% token budget on its best-scoring
    docs (running kept-token sum in score order, integer 40% test via
    cross-multiplication). This is the pipeline the individual
    queries exist to feed — pretrain_filter composes the cheap gates;
    this composes the EXPENSIVE passes (dedup + span excision + DSIR
    + budgeting) and the oracle replays all five stages bit-for-bit.

    Scale shape: every stage is a shape already proven at 10x-100x in
    isolation (fingerprint groupBy; single-shuffle span window;
    unhinted vocabulary-sized LM join — AQE broadcasts while small;
    per-source budget windows); the composition adds joins on doc_id —
    uniform keys — and nothing else. Neither the gated doc-id set nor
    the LM table carries a pinned broadcast hint: both scale with the
    corpus. At 100 TB you'd persist each stage boundary as a table and
    the plan per stage is unchanged.
    """
    return pretrain_frame(table(spark, sf_dir, "documents"))


def pretrain_frame(docs: DataFrame) -> DataFrame:
    """The composed pipeline over any documents-shaped frame (doc_id,
    source, lang, text) — exposed so tools/scale_probe.py curation can
    drive the COMPOSITION (stage-boundary skew, AQE interactions) at
    1x/10x/100x, not just its stages in isolation."""
    from ..ops.text import fingerprint_md5

    fp = docs.select("doc_id", "source", "lang", "text", fingerprint_md5("text").alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    survivors = fp.join(keep, "fingerprint").filter(
        F.col("doc_id") == F.col("keeper")
    ).select("doc_id", "source", "lang", "text")

    g = _windows_frame(survivors)
    markedw = g.withColumn("n_occ", F.count("*").over(W.partitionBy("gram"))).filter(
        F.col("n_occ") >= 2
    )
    cov = _island_stats(markedw.select("doc_id", "n_tokens", "pos")).select(
        "doc_id", F.col("covered_tokens").alias("covered")
    )
    cleaned = (
        survivors.select(
            "doc_id", "source", "lang", F.size(tokens(F.col("text"))).cast("long").alias("nt")
        )
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            (F.col("nt") - F.coalesce(F.col("covered"), F.lit(0))).alias("n_kept"),
        )
    )
    gated = cleaned.filter((F.col("lang") == "en") & (F.col("n_kept") >= 10)).select(
        "doc_id", "source", "n_kept"
    )

    tok = docs.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
    allc = tok.groupBy("term").agg(F.count("*").alias("all_tf"))
    tgtc = tok.filter(F.col("source") == _DSIR_TARGET_SOURCE).groupBy("term").agg(
        F.count("*").alias("tgt_tf")
    )
    scal = tok.agg(F.count("*").alias("all_tot"), F.countDistinct("term").alias("v_sz"))
    tscal = tok.filter(F.col("source") == _DSIR_TARGET_SOURCE).agg(
        F.count("*").alias("tgt_tot")
    )
    lr = (
        allc.join(tgtc, "term", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tscal))
        .select("term", F.expr(_DSIR_LR).alias("lr_unats"))
    )
    # Both join sides here scale with the corpus (gated is the filtered
    # DOCUMENT set; lr is the vocabulary), so neither carries a pinned
    # broadcast hint — AQE broadcasts while small, shuffles when not.
    dscore = (
        tok.join(gated.select("doc_id"), "doc_id", "left_semi")
        .join(lr, "term")
        .groupBy("doc_id")
        .agg(F.sum("lr_unats").cast("long").alias("score_unats"))
    )

    wrun = (
        W.partitionBy("source")
        .orderBy(F.desc("score_unats"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("source")
    ranked = (
        gated.join(dscore, "doc_id")
        .withColumn("cum_tokens", F.sum("n_kept").over(wrun).cast("long"))
        .withColumn("source_tokens", F.sum("n_kept").over(wtot).cast("long"))
    )
    return ranked.filter(
        F.col("cum_tokens") * 10 <= F.col("source_tokens") * 4
    ).select("doc_id", "source", "n_kept", "score_unats", "cum_tokens")


_MMR_K = 5          # final diversified set size
_MMR_POOL = 20      # relevance candidate pool
_MMR_COS = "CAST(round(round(list_cosine_similarity({a}, {b}), 6) * 1000000.0e0) AS BIGINT)"


def _mmr_oracle() -> str:
    head = f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             {_MMR_COS.format(a='qv.v', b='CAST(e.embedding AS DOUBLE[])')} AS rel_u
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id <> 0
      ORDER BY rel_u DESC, e.vec_id LIMIT {_MMR_POOL}
    ),
    pair AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {_MMR_COS.format(a='a.v', b='b.v')} AS s_u
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    pick1 AS (
      SELECT vec_id, rel_u, 7 * rel_u AS mmr_score, CAST(1 AS BIGINT) AS rank
      FROM cand ORDER BY rel_u DESC, vec_id LIMIT 1
    ),
    chosen1 AS (SELECT vec_id, rel_u, mmr_score, rank FROM pick1)"""
    blocks = []
    for k in range(2, _MMR_K + 1):
        blocks.append(f"""
    pick{k} AS (
      SELECT u.vec_id, u.rel_u,
             7 * u.rel_u - 3 * coalesce(m.mx, 0) AS mmr_score,
             CAST({k} AS BIGINT) AS rank
      FROM cand u
      LEFT JOIN (
        SELECT p.a_id, CAST(max(p.s_u) AS BIGINT) AS mx
        FROM pair p JOIN chosen{k - 1} c ON p.b_id = c.vec_id
        GROUP BY p.a_id
      ) m ON u.vec_id = m.a_id
      WHERE u.vec_id NOT IN (SELECT vec_id FROM chosen{k - 1})
      ORDER BY mmr_score DESC, u.vec_id LIMIT 1
    ),
    chosen{k} AS (
      SELECT vec_id, rel_u, mmr_score, rank FROM chosen{k - 1}
      UNION ALL SELECT vec_id, rel_u, mmr_score, rank FROM pick{k}
    )""")
    return (
        head + "," + ",".join(blocks)
        + f"\n    SELECT rank, vec_id, rel_u, mmr_score FROM chosen{_MMR_K} ORDER BY rank"
    )


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    Goldstein 1998) over the dense-retrieval pool: take the top-20
    candidates by cosine to the query vector (vec_id 0), then
    greedily pick 5 maximizing 0.7*relevance - 0.3*max-similarity-to-
    already-picked — the de-duplicating re-rank layer between ANN
    retrieval and a RAG context window. All arithmetic is integer
    micro-cosines (7*rel - 3*maxsim — the lambda=0.7 trade scaled by
    10), each greedy step fully tie-broken by vec_id, five steps
    unrolled on both engines.

    Scale shape: the pool is top-k-sized (20 rows) after one
    brute-force pass (sub in the LSH/IVF candidate join at 100 TB —
    the greedy stage doesn't change); the pairwise table is pool²,
    and each step is an argmax over <= 20 rows. The sequential greedy
    dependency lives entirely in the tiny post-retrieval frame —
    exactly where sequential logic belongs at scale.
    """
    emb = table(spark, sf_dir, "embeddings")
    ev = unit(emb.select("vec_id", "embedding"), "embedding", "")
    qv = ev.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"), F.col("n").alias("qn"))
    cand = (
        ev.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "v", "n", _cos_u("q", "").alias("rel_u"))
        .orderBy(F.desc("rel_u"), "vec_id")
        .limit(_MMR_POOL)
        # materialize the pool: the corpus-wide brute-force subtree is
        # reused by all 5 greedy steps AND the pair table (10+ scans
        # without it) — measured 4x (17.6 -> 4.4 s at sf0.01). The
        # inverse of the triangle-count case, where the subtree was
        # cheap and ReusedExchange already deduped it.
        .localCheckpoint()
    )
    a = cand.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("n").alias("an"))
    b = cand.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("n").alias("bn"))
    pair = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", _cos_u("a", "b").alias("s_u"))
        .localCheckpoint()
    )
    chosen = (
        cand.select(
            "vec_id", "rel_u", (F.lit(7) * F.col("rel_u")).alias("mmr_score")
        )
        .orderBy(F.desc("rel_u"), "vec_id")
        .limit(1)
        .withColumn("rank", F.lit(1).cast("long"))
    )
    for k in range(2, _MMR_K + 1):
        m = (
            pair.join(
                F.broadcast(chosen.select(F.col("vec_id").alias("b_id"))), "b_id"
            )
            .groupBy("a_id")
            .agg(F.max("s_u").cast("long").alias("mx"))
        )
        pick = (
            cand.join(
                F.broadcast(chosen.select("vec_id")), "vec_id", "left_anti"
            )
            .join(F.broadcast(m.withColumnRenamed("a_id", "vec_id")), "vec_id", "left")
            .select(
                "vec_id",
                "rel_u",
                (
                    F.lit(7) * F.col("rel_u")
                    - F.lit(3) * F.coalesce(F.col("mx"), F.lit(0))
                ).alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), "vec_id")
            .limit(1)
            .withColumn("rank", F.lit(k).cast("long"))
        )
        chosen = chosen.unionByName(pick)
    return chosen.select("rank", "vec_id", "rel_u", "mmr_score").orderBy("rank")
