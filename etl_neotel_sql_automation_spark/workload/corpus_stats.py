"""Corpus-statistics workloads over ``documents``: within-doc
repetition signals (the Gopher-style repetition filters), per-source
token budgeting, and corpus-frequency (rarity) scoring.

These are the profiling passes a pretraining-data pipeline runs before
and after filtering: repetition flags feed quality filtering alongside
``ops.text.quality_score``; source budgets drive mixture weighting;
rarity scores are the cheap stand-in for LM-perplexity filtering when
no model is in the loop.

Determinism: every ratio rides on integer parts-per-million arithmetic
(``x * 1000000 div n`` on BIGINT) — no float summation, so the DuckDB
oracles (``//`` floor division, same operands) match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..ops import text as X
from ..ops.hashing import (
    TABLE_BITS,
    bit_words,
    md5_long,
    salted_bucket,
    sql_bit_words,
    sql_md5_long,
    sql_salted_bucket,
)
from ..ops.similarity import cos6, unit
from . import _SQL_TOKS, query, table


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    per AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             count(*)                 AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct, top_cnt,
           n_distinct * 1000000 // n_tokens AS distinct_ppm,
           top_cnt * 1000000 // n_tokens    AS top_ppm,
           (top_cnt * 1000000 // n_tokens >= 200000
            OR n_distinct * 1000000 // n_tokens <= 600000) AS flag_repetitive
    FROM agg
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher quality-filter
    family): distinct-token ratio and most-frequent-token share, with a
    composite repetition flag (top token >= 20% of the doc, or < 60%
    distinct tokens).

    Shape at scale: explode -> (doc, token) hash aggregate -> per-doc
    aggregate. Shuffle volume is the distinct (doc, token) pair count,
    not raw token count, and both aggregates combine map-side. Ratios
    are integer ppm (BIGINT multiply + ``div``), never float division,
    so cross-engine comparison is exact.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    per = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    agg = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    distinct_ppm = F.expr("n_distinct * 1000000 div n_tokens")
    top_ppm = F.expr("top_cnt * 1000000 div n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_cnt",
        distinct_ppm.alias("distinct_ppm"),
        top_ppm.alias("top_ppm"),
        ((top_ppm >= 200000) | (distinct_ppm <= 600000)).alias("flag_repetitive"),
    )


@query(
    "corpus_source_stats",
    oracle=f"""
    WITH feat AS (
      SELECT source,
             CAST(len({_SQL_TOKS}) AS BIGINT)  AS nt,
             CAST(length(text) AS BIGINT)      AS nc
      FROM documents
    )
    SELECT source,
           count(*)                        AS n_docs,
           CAST(sum(nt) AS BIGINT)         AS total_tokens,
           CAST(sum(nc) AS BIGINT)         AS total_chars,
           CAST(min(nt) AS BIGINT)         AS min_tokens,
           CAST(max(nt) AS BIGINT)         AS max_tokens,
           round(quantile_cont(nt, 0.5), 4) AS median_tokens
    FROM feat GROUP BY source
    """,
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget: doc/token/char totals plus the doc-length
    envelope — the numbers that set mixture weights and sampling rates
    when assembling a training mix. One narrow projection + one hash
    aggregate; count/sum/min/max combine map-side, and the exact median
    (``percentile`` == DuckDB ``quantile_cont``) is the only sort-based
    term — swap it for ``approx_percentile`` at the 100 TB tier."""
    docs = table(spark, sf_dir, "documents")
    feat = docs.select(
        "source",
        X.token_count("text").cast("long").alias("nt"),
        F.length("text").cast("long").alias("nc"),
    )
    return feat.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.sum("nc").alias("total_chars"),
        F.min("nt").alias("min_tokens"),
        F.max("nt").alias("max_tokens"),
        F.round(F.expr("percentile(nt, 0.5)"), 4).alias("median_tokens"),
    )


@query(
    "text_rare_token_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    per AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok),
    vocab AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS freq FROM per GROUP BY tok),
    agg AS (
      SELECT per.doc_id,
             CAST(sum(per.cnt) AS BIGINT)            AS n_tokens,
             CAST(sum(per.cnt * vocab.freq) AS BIGINT) AS sum_freq,
             CAST(sum(CASE WHEN vocab.freq <= 2 THEN per.cnt ELSE 0 END) AS BIGINT)
                                                     AS rare_cnt
      FROM per JOIN vocab ON per.tok = vocab.tok
      GROUP BY per.doc_id
    )
    SELECT doc_id, n_tokens, sum_freq, rare_cnt,
           sum_freq * 1000 // n_tokens     AS mean_freq_milli,
           rare_cnt * 1000000 // n_tokens  AS rare_ppm
    FROM agg
    """,
)
def text_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency document scoring — the model-free stand-in for
    LM-perplexity filtering: docs dominated by corpus-rare tokens score
    low mean frequency / high rare-token share and get routed to review.

    Shape at scale: the (doc, token) counts aggregate FIRST, so the
    vocabulary join carries one row per distinct pair (not per token
    occurrence); the Zipf head makes ``tok`` a skewed join key — AQE
    skew-join splits those partitions at runtime. ``mean_freq_milli``
    stays in BIGINT millis: at 10^12-token corpora sum_freq*1e6 would
    overflow, *1000 keeps 3 digits of precision with headroom.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    per = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    vocab = per.groupBy("tok").agg(F.sum("cnt").alias("freq"))
    agg = (
        per.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("freq")).alias("sum_freq"),
            F.sum(F.when(F.col("freq") <= 2, F.col("cnt")).otherwise(F.lit(0))).alias(
                "rare_cnt"
            ),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        "rare_cnt",
        F.expr("sum_freq * 1000 div n_tokens").alias("mean_freq_milli"),
        F.expr("rare_cnt * 1000000 div n_tokens").alias("rare_ppm"),
    )


# Least-squares fit over integer micro-nat points: every ln() is
# quantized to BIGINT micro-nats per term, so the five accumulators
# (n, Sx, Sy, Sxy, Sxx, Syy) are order-free integer sums and the
# slope/intercept/r2 are single identically-written IEEE expressions.
_ZIPF_SLOPE = "round((n * sxy - sx * sy) * 1.0e0 / (n * sxx - sx * sx), 6)"
_ZIPF_INTERCEPT = (
    "round((sy * 1.0e0 - ((n * sxy - sx * sy) * 1.0e0 / (n * sxx - sx * sx)) * sx)"
    " / n, 6)"
)
_ZIPF_R2 = (
    "round(((n * sxy - sx * sy) * 1.0e0 * (n * sxy - sx * sy))"
    " / ((n * sxx - sx * sx) * 1.0e0 * (n * syy - sy * sy)), 6)"
)


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY term),
    ranked AS (
      SELECT term, f,
             CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT) AS rnk
      FROM freq
    ),
    pts AS (
      SELECT CAST(round(ln(rnk * 1.0e0) * 1.0e6) AS BIGINT) AS x,
             CAST(round(ln(f * 1.0e0) * 1.0e6) AS BIGINT) AS y
      FROM ranked
    ),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pts
    )
    SELECT n AS n_vocab, {_ZIPF_SLOPE} AS slope,
           {_ZIPF_INTERCEPT} AS intercept, {_ZIPF_R2} AS r2
    FROM acc
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope of
    ln(frequency) against ln(rank) (a healthy natural-language corpus
    sits near slope -1; synthetic, templated, or spam-heavy corpora
    flatten or step — this is the single cheapest corpus-health
    number there is). Each point's logs are quantized to BIGINT
    micro-nats BEFORE accumulation so all five regression sums are
    order-free integer arithmetic; slope/intercept/r² are one
    identically-written IEEE expression each (units cancel in slope
    and r²; intercept is in micro-nats).

    Scale shape: one token explode + one vocabulary-sized count; the
    rank window and the 6-sum accumulator run on the VOCABULARY
    (thousands of rows at 100 TB), not the corpus — the global
    window is deliberate and safe.
    """
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    rnk = F.row_number().over(W.orderBy(F.desc("f"), "term")).cast("long")
    pts = freq.withColumn("rnk", rnk).select(
        F.expr("CAST(round(ln(rnk * 1.0e0) * 1.0e6) AS BIGINT)").alias("x"),
        F.expr("CAST(round(ln(f * 1.0e0) * 1.0e6) AS BIGINT)").alias("y"),
    )
    acc = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    return acc.select(
        F.col("n").alias("n_vocab"),
        F.expr(_ZIPF_SLOPE).alias("slope"),
        F.expr(_ZIPF_INTERCEPT).alias("intercept"),
        F.expr(_ZIPF_R2).alias("r2"),
    )


@query(
    "emb_centroid_drift",
    oracle="""
    WITH half AS (
      SELECT vec_id % 2 AS h, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    comp AS (
      SELECT h, unnest(range(1, len(v) + 1)) AS dim, v FROM half
    ),
    q AS (
      SELECT h, dim,
             CAST(round(v[dim] * 1.0e6) AS BIGINT) AS q_micro
      FROM comp
    ),
    agg AS (
      SELECT dim,
             CAST(count(CASE WHEN h = 0 THEN 1 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN h = 0 THEN q_micro ELSE 0 END) AS BIGINT) AS s0,
             CAST(count(CASE WHEN h = 1 THEN 1 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN h = 1 THEN q_micro ELSE 0 END) AS BIGINT) AS s1
      FROM q GROUP BY dim
    )
    SELECT dim, n0, n1,
           round(s0 * 1.0e0 / n0, 6) AS mean0_micro,
           round(s1 * 1.0e0 / n1, 6) AS mean1_micro,
           round(s0 * 1.0e0 / n0 - s1 * 1.0e0 / n1, 6) AS shift_micro
    FROM agg
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-distribution drift between two corpus
    halves (vec_id parity — the deterministic stand-in for
    before/after-a-pipeline-change cohorts): component means in
    micro-units and their shift. This is the drift monitor run when
    an embedding model, preprocessing step, or upstream corpus
    changes — per-dimension mean shift localizes WHICH dimensions
    moved (a single hot dimension usually means a preprocessing bug;
    uniform drift means a model change).

    Components are quantized to BIGINT micro-units before summation
    (float sums over a shuffled explode have no deterministic order;
    integer sums do), then both halves aggregate in ONE pass via
    conditional sums — no join, one shuffle keyed by the 64
    dimensions. At 100 TB the aggregate state is dimension-sized.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val"),
    ).select(
        "h",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.expr("CAST(round(val * 1.0e6) AS BIGINT)").alias("q_micro"),
    )
    agg = q.groupBy("dim").agg(
        F.count(F.when(F.col("h") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("h") == 0, F.col("q_micro")).otherwise(0)).cast("long").alias("s0"),
        F.count(F.when(F.col("h") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("h") == 1, F.col("q_micro")).otherwise(0)).cast("long").alias("s1"),
    )
    return agg.select(
        "dim",
        "n0",
        "n1",
        F.expr("round(s0 * 1.0e0 / n0, 6)").alias("mean0_micro"),
        F.expr("round(s1 * 1.0e0 / n1, 6)").alias("mean1_micro"),
        F.expr("round(s0 * 1.0e0 / n0 - s1 * 1.0e0 / n1, 6)").alias("shift_micro"),
    )


# Per-pair add-one-smoothed bigram log-likelihood in BIGINT micro-nats:
# quantized per (w1, w2) pair BEFORE per-document summation, so doc
# scores are order-free integer sums.
_BIGRAM_LR = (
    "CAST(round(ln((n_xy + 1) * 1.0e0 / (n_x + v_sz)) * 1.0e6) AS BIGINT)"
)


@query(
    "text_bigram_lm_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (SELECT doc_id, unnest(range(1, len(toks))) AS pos, toks FROM tok),
    b AS (SELECT doc_id, toks[pos] AS w1, toks[pos + 1] AS w2 FROM pg),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy FROM b GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_x FROM b GROUP BY w1),
    scal AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v_sz FROM b),
    lm AS (
      SELECT bc.w1, bc.w2, {_BIGRAM_LR} AS lp_unats
      FROM bc JOIN uc USING (w1) CROSS JOIN scal
    ),
    doc AS (
      SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(lm.lp_unats) AS BIGINT) AS logp_unats
      FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_pairs, logp_unats,
           round(-logp_unats * 1.0e0 / n_pairs, 6) AS nll_per_pair_unats
    FROM doc
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring of every document under an
    add-one-smoothed bigram LM trained on the corpus itself — the
    classical perplexity-filter stand-in (a KenLM-shaped gate without
    the external model): documents whose per-pair negative
    log-likelihood is far above corpus norm are boilerplate, spam, or
    wrong-language. Per-pair log-probs are quantized to BIGINT
    micro-nats at the vocabulary-sized LM table, so per-doc sums are
    order-free; the one float (mean NLL) is a single IEEE division
    rounded on both sides.

    Scale shape: LM training is two hash aggregations to at most
    vocab² + vocab rows — joined back onto the bigram stream UNHINTED
    (AQE broadcasts while small; the table is corpus-scaled so a
    pinned hint would OOM at web scale — text_bigram_lm_hashed is the
    fixed-memory twin); the doc score is one combinable BIGINT
    aggregation. The 100 TB cost is two passes over the token stream,
    nothing model-shaped.
    """
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    b = docs.select(
        "doc_id", toks.alias("toks"), F.explode(idx).alias("pos")
    ).select(
        "doc_id",
        F.element_at("toks", F.col("pos")).alias("w1"),
        F.element_at("toks", F.col("pos") + 1).alias("w2"),
    )
    bc = b.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    uc = b.groupBy("w1").agg(F.count("*").alias("n_x"))
    # v_sz = |distinct w1| = |uc| — counted off the vocabulary-sized
    # aggregate, NOT a third scan of the corpus-wide bigram stream
    scal = uc.agg(F.count("*").alias("v_sz"))
    lm = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(scal))
        .select("w1", "w2", F.expr(_BIGRAM_LR).alias("lp_unats"))
    )
    # lm is (at most) vocab² + vocab rows — corpus-scaled under Heaps'
    # law, so no pinned broadcast hint: AQE broadcasts while small. The
    # fixed-memory production twin is text_bigram_lm_hashed.
    doc = (
        b.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("lp_unats").cast("long").alias("logp_unats"),
        )
    )
    return doc.select(
        "doc_id",
        "n_pairs",
        "logp_unats",
        F.expr("round(-logp_unats * 1.0e0 / n_pairs, 6)").alias("nll_per_pair_unats"),
    )


# --- Hashed-vocabulary bigram-LM twin (the hashing trick): w1 and the
# (w1, w2) pair each hash to fixed bucket domains, so BOTH LM tables
# are bounded by construction — the fixed-memory production shape of
# text_bigram_lm_score (whose exact tables are vocab/vocab²-sized).

_LM_UNI_BUCKETS = 2048   # w1-context buckets
_LM_PAIR_BUCKETS = 8192  # (w1, w2) pair buckets

# Add-one-smoothed hashed bigram log-likelihood in BIGINT micro-nats;
# the smoothing denominator is the FIXED pair-bucket count (the hashed
# model's event space), quantized per bigram before the per-doc sum.
_BIGRAM_LR_HASHED = (
    f"CAST(round(ln((n_xy + 1) * 1.0e0 / (n_x + {_LM_PAIR_BUCKETS}))"
    " * 1.0e6) AS BIGINT)"
)

_SQL_B1 = f"{sql_md5_long('w1')} % {_LM_UNI_BUCKETS}"
_SQL_PB = sql_md5_long("w1 || ' ' || w2") + f" % {_LM_PAIR_BUCKETS}"


@query(
    "text_bigram_lm_hashed",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (SELECT doc_id, unnest(range(1, len(toks))) AS pos, toks FROM tok),
    b AS (
      SELECT doc_id, {_SQL_B1} AS b1, {_SQL_PB} AS pb
      FROM (SELECT doc_id, toks[pos] AS w1, toks[pos + 1] AS w2 FROM pg)
    ),
    bc AS (SELECT pb, CAST(count(*) AS BIGINT) AS n_xy FROM b GROUP BY pb),
    uc AS (SELECT b1, CAST(count(*) AS BIGINT) AS n_x FROM b GROUP BY b1),
    doc AS (
      SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum({_BIGRAM_LR_HASHED}) AS BIGINT) AS logp_unats
      FROM b JOIN uc USING (b1) JOIN bc USING (pb)
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_pairs, logp_unats,
           round(-logp_unats * 1.0e0 / n_pairs, 6) AS nll_per_pair_unats
    FROM doc
    """,
)
def text_bigram_lm_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of text_bigram_lm_score under the hashing
    trick: the bigram context (w1) and the (w1, w2) pair each hash
    (md5, cross-engine exact) into fixed bucket domains, so the two LM
    tables are AT MOST 2048 and 8192 rows regardless of corpus
    vocabulary — the memory bound the exact twin cannot offer (its
    tables are vocab and vocab²-sized under Heaps' law). Per-bigram
    log-probs quantize to BIGINT micro-nats before the per-doc sum
    (order-free); the one float is a single IEEE division rounded on
    both engines.

    Scale shape: two bucket-count aggregations with <= 8192 rows of
    state each (map-side combinable), two pinned-broadcast joins of
    the bounded LM tables (legitimately pinned: the moduli bound them
    at any corpus size), one combinable per-doc BIGINT aggregation.
    Executor memory is O(buckets), independent of the corpus — this is
    the shape a KenLM-style perplexity gate actually ships with.
    """
    return bigram_lm_hashed_frame(table(spark, sf_dir, "documents"))


def bigram_lm_hashed_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of text_bigram_lm_hashed over any
    (doc_id, text) frame — shared by the registered query and the
    scaling probe (tools/scale_probe.py hashed)."""
    toks = X.tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    b = (
        docs.select("doc_id", toks.alias("toks"), F.explode(idx).alias("pos"))
        .select(
            "doc_id",
            F.element_at("toks", F.col("pos")).alias("w1"),
            F.element_at("toks", F.col("pos") + 1).alias("w2"),
        )
        .select(
            "doc_id",
            (md5_long("w1") % _LM_UNI_BUCKETS).alias("b1"),
            (md5_long(F.concat_ws(" ", "w1", "w2")) % _LM_PAIR_BUCKETS).alias("pb"),
        )
    )
    # BOTH LM tables from ONE pass over the bigram stream via grouping
    # sets (the tokenize+hash subtree dominates cost — measured 3.3 s
    # per scan at sf0.1 — so training must not scan it twice); the
    # expand duplicates rows AFTER the expensive projection. Buckets
    # are never null in data, so a null key marks the other set.
    gsets = (
        b.groupingSets([["b1"], ["pb"]], "b1", "pb")
        .agg(F.count("*").alias("n"))
    )
    bc = gsets.filter(F.col("b1").isNull()).select("pb", F.col("n").alias("n_xy"))
    uc = gsets.filter(F.col("pb").isNull()).select("b1", F.col("n").alias("n_x"))
    # Both tables are bounded BY CONSTRUCTION (moduli), so the pinned
    # broadcasts are the fixed-memory production shape — see
    # tests/test_plans.py CORPUS_HINT_ALLOWED.
    doc = (
        b.join(F.broadcast(uc), "b1")
        .join(F.broadcast(bc), "pb")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr(_BIGRAM_LR_HASHED)).cast("long").alias("logp_unats"),
        )
    )
    return doc.select(
        "doc_id",
        "n_pairs",
        "logp_unats",
        F.expr("round(-logp_unats * 1.0e0 / n_pairs, 6)").alias("nll_per_pair_unats"),
    )


# --- exact-integer power iteration for the top principal direction ---
#
# All corpus-sized sums are exact integers/decimals (order-free); the
# only floats are per-dim normalization expressions over exact scalars,
# written identically on both engines. Inputs quantize to centi units
# (round(x*100)) so every product chain stays provably in range:
# proj <= 64*58*1000 ~ 3.7e6 (BIGINT), S_d <= 58*3.7e6*n_vecs ~ 1e12
# (BIGINT at sf<=1), S_d^2 via DECIMAL(19,0)xDECIMAL(19,0) ->
# DECIMAL(38,0) exact, and the norm^2 is integer-divided by 1e12
# (POSITIVE, so floor == trunc on both engines) down into exact-double
# territory (< 2^53) before the one sqrt.

_PCA_ITERS = 3
_PCA_VNEW = (
    "CAST(round(s_d * 1000.0e0 / (1.0e6 * sqrt(CAST(n2s AS DOUBLE) + 1.0e0)))"
    " AS BIGINT)"
)


def _pca_oracle() -> str:
    q = """
    q AS (
      SELECT vec_id, unnest(range(1, len(v) + 1)) AS dim, v
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ),
    x AS (
      SELECT vec_id, dim, CAST(round(v[dim] * 100.0e0) AS BIGINT) AS x_c FROM q
    ),
    v0 AS (SELECT DISTINCT dim, CAST(1000 AS BIGINT) AS v_milli FROM x)
    """
    steps = []
    prev = "v0"
    for i in range(1, _PCA_ITERS + 1):
        steps.append(f"""
    proj{i} AS (
      SELECT x.vec_id, CAST(sum(x.x_c * {prev}.v_milli) AS BIGINT) AS proj
      FROM x JOIN {prev} USING (dim) GROUP BY x.vec_id
    ),
    s{i} AS (
      SELECT x.dim, CAST(sum(CAST(x.x_c * proj{i}.proj AS DECIMAL(38,0)))
                         AS DECIMAL(38,0)) AS s_dec
      FROM x JOIN proj{i} USING (vec_id) GROUP BY x.dim
    ),
    sb{i} AS (SELECT dim, CAST(s_dec AS BIGINT) AS s_d FROM s{i}),
    n{i} AS (
      SELECT CAST(sum(CAST(s_d AS DECIMAL(19,0)) * CAST(s_d AS DECIMAL(19,0)))
                  // CAST(1000000000000 AS DECIMAL(38,0)) AS BIGINT) AS n2s
      FROM sb{i}
    ),
    v{i} AS (
      SELECT sb{i}.dim, {_PCA_VNEW} AS v_milli
      FROM sb{i} CROSS JOIN n{i}
    )""")
        prev = f"v{i}"
    return (
        "WITH " + q + "," + ",".join(steps)
        + f"\n    SELECT dim, v_milli AS loading_milli FROM {prev} ORDER BY dim"
    )


@query("emb_pca_power_iteration", oracle=_pca_oracle())
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER
    ITERATION with every corpus-sized reduction exact: components
    quantize to centi units, each iteration is one codegen'd
    projection pass (proj = x·v per vector, BIGINT), one per-dim sum
    (DECIMAL(38,0) — order-free), and one normalization over exact
    scalars (squares as DECIMAL(19,0)² so they stay representable;
    the positive norm² integer-divides down below 2^53 before the
    single sqrt, so the double conversion is exact on both engines).
    Three unrolled iterations from the all-ones start — the same
    exact-arithmetic discipline as graph_pagerank, applied to
    numerical linear algebra. The loading vector is what embedding
    whitening / ABTT-style postprocessing ("all-but-the-top") removes
    first.

    Scale shape: per iteration, one vector-keyed aggregate and one
    dim-keyed aggregate (64 rows) with the 64-row v broadcast back —
    shuffle O(corpus x dims) per pass and nothing driver-sized but
    the direction itself.
    """
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val"),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.expr("CAST(round(val * 100.0e0) AS BIGINT)").alias("x_c"),
    )
    v = x.select("dim").distinct().select("dim", F.lit(1000).cast("long").alias("v_milli"))
    for _ in range(_PCA_ITERS):
        proj = (
            x.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.expr("x_c * v_milli")).cast("long").alias("proj"))
        )
        s = (
            x.join(proj, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(F.expr("CAST(x_c * proj AS DECIMAL(38,0))"))
                .cast("decimal(38,0)")
                .alias("s_dec")
            )
        ).select("dim", F.col("s_dec").cast("long").alias("s_d"))
        n = s.agg(
            F.expr(
                "CAST(sum(CAST(s_d AS DECIMAL(19,0)) * CAST(s_d AS DECIMAL(19,0)))"
                " div CAST(1000000000000 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("n2s")
        )
        v = s.crossJoin(F.broadcast(n)).select(
            "dim", F.expr(_PCA_VNEW).alias("v_milli")
        )
    return v.select("dim", F.col("v_milli").alias("loading_milli")).orderBy("dim")


_RAKE_STOPS = "('a', 'an', 'the', 'of', 'and', 'to', 'in', 'is', 'it')"


@query(
    "text_keyword_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    t AS (
      SELECT doc_id, pos, toks[pos] AS term,
             CASE WHEN toks[pos] IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS is_stop
      FROM tok
    ),
    ph AS (
      SELECT doc_id, pos, term, phrase_id FROM (
        SELECT doc_id, pos, term, is_stop,
               CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS phrase_id
        FROM t
      ) WHERE is_stop = 0
    ),
    plen AS (
      SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS n_words
      FROM ph GROUP BY doc_id, phrase_id
    ),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM ph GROUP BY term),
    deg AS (
      SELECT ph.term, CAST(sum(plen.n_words) AS BIGINT) AS d
      FROM ph JOIN plen USING (doc_id, phrase_id)
      GROUP BY ph.term
    ),
    wscore AS (
      SELECT freq.term, deg.d * 1000000 // freq.f AS score_u
      FROM freq JOIN deg USING (term)
    ),
    pscore AS (
      SELECT ph.doc_id, ph.phrase_id,
             string_agg(ph.term, ' ' ORDER BY ph.pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(wscore.score_u) AS BIGINT) AS score_u
      FROM ph JOIN wscore USING (term)
      GROUP BY ph.doc_id, ph.phrase_id
    )
    SELECT doc_id, phrase, n_words, score_u
    FROM pscore WHERE n_words >= 2
    ORDER BY score_u DESC, doc_id, phrase_id
    LIMIT 15
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands keyed by a
    running stopword count), each word scores degree/frequency
    (degree = summed length of phrases it appears in), and a phrase
    scores the sum of its word scores — top-15 multi-word keyphrases.
    Word scores quantize to integer ppm BEFORE the per-phrase sum, so
    phrase scores are order-free BIGINT arithmetic; phrase text
    reassembles in position order on both engines.

    Scale shape: one positional explode, one running-sum window per
    document (bounded per-key state), two vocabulary-sized aggregates
    joined back UNHINTED (the vocab grows with the corpus — AQE
    broadcasts while small), and one phrase-keyed aggregate whose
    collect is bounded by phrase length — the segment-dedup
    reassembly precedent.
    """
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    tok = docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term")
    t = tok.withColumn(
        "is_stop",
        F.when(F.col("term").isin("a", "an", "the", "of", "and", "to", "in", "is", "it"), 1).otherwise(0),
    )
    wrun = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ph = (
        t.withColumn("phrase_id", F.sum("is_stop").over(wrun).cast("long"))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pos", "term", "phrase_id")
    )
    plen = ph.groupBy("doc_id", "phrase_id").agg(F.count("*").alias("n_words"))
    freq = ph.groupBy("term").agg(F.count("*").alias("f"))
    deg = (
        ph.join(plen, ["doc_id", "phrase_id"])
        .groupBy("term")
        .agg(F.sum("n_words").cast("long").alias("d"))
    )
    wscore = freq.join(deg, "term").select(
        "term", F.expr("d * 1000000 div f").alias("score_u")
    )
    # wscore is vocabulary-sized (corpus-scaled under Heaps' law) — no
    # pinned broadcast hint; AQE broadcasts while it is actually small.
    pscore = (
        ph.join(wscore, "term")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
            ).alias("phrase"),
            F.count("*").alias("n_words"),
            F.sum("score_u").cast("long").alias("score_u"),
        )
    )
    return (
        pscore.filter(F.col("n_words") >= 2)
        .orderBy(F.desc("score_u"), "doc_id", "phrase_id")
        .limit(15)
        .select("doc_id", "phrase", "n_words", "score_u")
    )


# Cosine DISTANCE in micro-units (1e6 - cos_u): exact integers, so
# two-NN selection is deterministic under the (distance, neighbor-id)
# tiebreak, and the per-point ln(d2/d1) quantizes to micro-nats before
# the corpus-wide sum.
_TWO_NN_D = (
    "1000000 - CAST(round(round(list_cosine_similarity(av, bv), 6)"
    " * 1000000.0e0) AS BIGINT)"
)


@query(
    "emb_intrinsic_dim_two_nn",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pair AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {_TWO_NN_D.format()} AS d_u
      FROM (SELECT vec_id, v AS av FROM e WHERE vec_id < 1000) a
      JOIN (SELECT vec_id, v AS bv FROM e) b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT a_id, d_u,
             row_number() OVER (PARTITION BY a_id ORDER BY d_u, b_id) AS rn
      FROM pair
    ),
    nn AS (
      SELECT a_id,
             CAST(max(CASE WHEN rn = 1 THEN d_u END) AS BIGINT) AS d1,
             CAST(max(CASE WHEN rn = 2 THEN d_u END) AS BIGINT) AS d2
      FROM ranked WHERE rn <= 2 GROUP BY a_id
    ),
    mu AS (
      SELECT a_id,
             CAST(round(ln(d2 * 1.0e0 / d1) * 1.0e6) AS BIGINT) AS lnmu_unats
      FROM nn WHERE d1 > 0
    ),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(lnmu_unats) AS BIGINT) AS sum_lnmu_unats
      FROM mu
    )
    SELECT n_points, sum_lnmu_unats,
           round(n_points * 1.0e6 / sum_lnmu_unats, 6) AS id_est
    FROM acc
    """,
)
def emb_intrinsic_dim_two_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate of the embedding corpus
    (Facco et al. 2017): for each point, the ratio mu = d2/d1 of its
    two nearest-neighbor distances; the maximum-likelihood intrinsic
    dimension is n / sum(ln mu). A corpus whose id_est is far below
    the ambient 64 dims is concentrated on a low-dimensional manifold
    — the geometry diagnostic that decides how aggressive ANN
    compression (PQ bits, LSH planes) can be before recall collapses.

    Distances are integer micro-units of cosine distance, so the 2-NN
    selection is exactly reproducible under the (distance, id)
    tiebreak; each point's ln(d2/d1) quantizes to BIGINT micro-nats
    BEFORE the corpus sum (order-free); points with an exact
    duplicate (d1 = 0 — see emb_duplicate_vectors) are excluded as
    the estimator requires. The estimate runs on a deterministic
    1000-point sample (a-side vec_id < 1000 — the estimator is
    statistically a sample statistic; neighbors still come from the
    WHOLE corpus) so cost is sample x corpus, not corpus². Brute-force
    pair pass here; at 100 TB the
    2-NN comes from the LSH/IVF candidate join (ops/similarity), the
    estimator arithmetic unchanged.
    """
    emb = table(spark, sf_dir, "embeddings")
    a = unit(emb.filter(F.col("vec_id") < 1000), "embedding", "a")
    a = a.select(F.col("vec_id").alias("a_id"), "av", "an")
    b = unit(emb, "embedding", "b").select(F.col("vec_id").alias("b_id"), "bv", "bn")
    d_u = F.lit(1000000) - F.round(cos6("a", "b") * F.lit(1000000.0)).cast("long")
    # Broadcast the SAMPLE side (a: vec_id < 1000 — bounded by the
    # literal filter, not by the corpus) and stream the corpus side b.
    # The r4 shape broadcast b — the whole corpus — which would OOM at
    # 100 TB; pinning the provably-bounded side keeps the same
    # sample x corpus BNLJ with fixed executor memory.
    pair = b.join(F.broadcast(a), F.col("a_id") != F.col("b_id")).select(
        "a_id", "b_id", d_u.alias("d_u")
    )
    rn = F.row_number().over(W.partitionBy("a_id").orderBy("d_u", "b_id"))
    nn = (
        pair.withColumn("rn", rn)
        .filter(F.col("rn") <= 2)
        .groupBy("a_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d_u"))).cast("long").alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d_u"))).cast("long").alias("d2"),
        )
    )
    mu = nn.filter(F.col("d1") > 0).select(
        F.expr("CAST(round(ln(d2 * 1.0e0 / d1) * 1.0e6) AS BIGINT)").alias(
            "lnmu_unats"
        )
    )
    acc = mu.agg(
        F.count("*").alias("n_points"),
        F.sum("lnmu_unats").cast("long").alias("sum_lnmu_unats"),
    )
    return acc.select(
        "n_points",
        "sum_lnmu_unats",
        F.expr("round(n_points * 1.0e6 / sum_lnmu_unats, 6)").alias("id_est"),
    )


# --- Count-min-sketch heavy hitters: the bounded-memory frequency
# sketch (Cormode & Muthukrishnan 2005), built natively in DataFrame
# integer arithmetic like the Bloom decontamination filter — md5
# row-hashes so DuckDB replays the ENTIRE sketch (every bucket count
# and therefore every estimate and every overestimate) bit-for-bit,
# which Spark's JVM-internal count_min_sketch() cannot offer.

_CMS_D = 4      # hash rows
_CMS_W = 1024   # buckets per row


_SQL_CMS_BUCKET = sql_salted_bucket("term", ":cms", _CMS_W)


def _cms_buckets():
    """The _CMS_D sketch-row buckets of column ``term``, as one array
    (Spark twin of _SQL_CMS_BUCKET); posexplode yields (r, b)."""
    return F.array(
        *[salted_bucket(F.col("term"), ":cms", F.lit(r), _CMS_W) for r in range(_CMS_D)]
    )


@query(
    "text_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    pr AS (SELECT term, unnest([0, 1, 2, 3]) AS r FROM tok),
    tb AS (SELECT r, {_SQL_CMS_BUCKET} AS b FROM pr),
    sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt FROM tb GROUP BY r, b),
    exact AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
              FROM tok GROUP BY term),
    top AS (SELECT term, n_exact FROM exact
            ORDER BY n_exact DESC, term LIMIT 20),
    cand AS (SELECT term, n_exact, unnest([0, 1, 2, 3]) AS r FROM top),
    cj AS (SELECT term, n_exact, r, {_SQL_CMS_BUCKET} AS b FROM cand),
    est AS (
      SELECT cj.term, cj.n_exact, CAST(min(sk.cnt) AS BIGINT) AS n_cms_est
      FROM cj JOIN sk USING (r, b)
      GROUP BY cj.term, cj.n_exact
    )
    SELECT term, n_exact, n_cms_est,
           (n_cms_est - n_exact) * 1000000 // n_exact AS overest_ppm
    FROM est
    ORDER BY n_exact DESC, term
    """,
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token frequencies through a COUNT-MIN SKETCH with
    its error differentially metered: the token stream feeds a
    4 x 1024 sketch (4 md5-salted row hashes, counts bucketed mod
    1024), the exact top-20 tokens are then estimated FROM THE SKETCH
    (min over the 4 row counts — the CMS point query), and each row
    reports estimate vs exact truth as an overestimate in ppm. CMS
    never underestimates (every bucket count >= the true count of
    every term in it), so ``overest_ppm >= 0`` is a structural
    invariant — the one-sided-error analog of the Bloom filter's
    no-false-negatives, and like the Bloom filter the whole sketch is
    md5-derived BIGINT arithmetic that DuckDB replays bit-for-bit,
    estimates, errors and all.

    Scale shape: the sketch build is ONE pass — tokenize once, then a
    4-way posexplode of small ints (the expand happens AFTER the
    expensive projection, the grouping-sets lesson) into a
    map-side-combinable count whose state is <= 4096 (r, b) cells at
    ANY corpus size; that modulus bound makes the sketch's pinned
    broadcast legitimate (CORPUS_HINT_ALLOWED). The exact top-20 leg
    is the local VALIDATION twin — at 100 TB the candidate set comes
    from a hash-sample or the previous snapshot's hitters, and the
    sketch (mergeable across shards/streams by cellwise sum) is the
    production frequency store.
    """
    return cms_heavy_hitters_frame(table(spark, sf_dir, "documents"))


def cms_heavy_hitters_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of text_heavy_hitters_cms over any
    (doc_id, text) frame — shared by the registered query and the
    scaling probe (tools/scale_probe.py hashed)."""
    tok = docs.select(F.explode(X.tokens(F.col("text"))).alias("term"))
    buckets = _cms_buckets()
    sk = (
        tok.select(F.posexplode(buckets).alias("r", "b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        tok.groupBy("term")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "term")
        .limit(20)
    )
    cand = top.select("term", "n_exact", F.posexplode(buckets).alias("r", "b"))
    est = (
        cand.join(F.broadcast(sk), ["r", "b"])
        .groupBy("term", "n_exact")
        .agg(F.min("cnt").cast("long").alias("n_cms_est"))
    )
    return est.select(
        "term",
        "n_exact",
        "n_cms_est",
        F.expr("(n_cms_est - n_exact) * 1000000 div n_exact").alias(
            "overest_ppm"
        ),
    ).orderBy(F.desc("n_exact"), "term")


# --- Linear-counting distinct estimation (Whang et al. 1990): the
# replayable cardinality sketch completing the family — membership
# (Bloom, corpus_mining), frequency (count-min, above), cardinality
# (here). The same ops.hashing bit table as the Bloom filter; the one
# float is a single ln over an exact integer ratio.


@query(
    "distinct_linear_counting",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT array_to_string(list_slice(toks, pos, pos + 3), ' ') AS term
      FROM pg
    ),
    words AS ({sql_bit_words("g", f"{sql_md5_long('term')} % {TABLE_BITS}")}),
    setb AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS n_set FROM words),
    ex AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM g)
    SELECT ex.n_exact, setb.n_set,
           CAST(round(-{TABLE_BITS}.0e0
                      * ln(({TABLE_BITS} - setb.n_set) * 1.0e0 / {TABLE_BITS}))
                AS BIGINT) AS lc_est,
           CAST(round(-{TABLE_BITS}.0e0
                      * ln(({TABLE_BITS} - setb.n_set) * 1.0e0 / {TABLE_BITS}))
                AS BIGINT) - ex.n_exact AS est_minus_exact,
           abs(CAST(round(-{TABLE_BITS}.0e0
                      * ln(({TABLE_BITS} - setb.n_set) * 1.0e0 / {TABLE_BITS}))
                AS BIGINT) - ex.n_exact) * 1000000 // ex.n_exact
             AS abs_err_ppm
    FROM ex CROSS JOIN setb
    """,
)
def distinct_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 4-GRAM cardinality through LINEAR COUNTING with its
    error differentially metered: every sliding 4-token window sets
    one md5-derived bit in a 65536-bit table (packed into <= 1093
    sixty-bit BIGINT words, the Bloom filter's sign-safe packing), the
    estimate is ``-m * ln(zero_fraction)``, and the row reports
    estimate vs the exact distinct-gram count with the absolute error
    in ppm. Grams, not tokens, because gram cardinality is the number
    that SIZES the decontamination Bloom filter (the kn/m rule) — LC
    supplies it in one bounded pass before the filter is built — and
    because the fixture's token vocabulary (31) is degenerate while
    its gram space (210,645 exact at sf0.1 against 65536 bits, load
    ~3.2) is a real workout for the estimator — measured abs error
    1616 ppm at sf0.01 and 2463 ppm at sf0.1, both replayed exactly
    by the oracle. Spark's native
    approx_count_distinct is an opaque JVM HyperLogLog; this sketch
    trades its asymptotics for full cross-engine replay — bits,
    estimate and error all match DuckDB bit-for-bit, so the accuracy
    claim is a checked number, not a sketch-library constant.

    Scale shape: ONE pass — tokenize + window once, one md5 per gram,
    a bit_or aggregate whose state is <= 1093 words at ANY corpus
    size (map-side combinable; cellwise-OR mergeable across shards
    and streams, like the Bloom filter it shares packing with); the
    estimate is arithmetic over two scalar aggregates. Size m ~ the
    expected cardinality (load factor < ~12 keeps LC usable); beyond
    that tier, switch the SAME word table to HLL register semantics —
    the plumbing is identical. The exact count_distinct leg is the
    local VALIDATION twin; at 100 TB it runs on a hash-sample (the
    sampled-meter recipe) or not at all.
    """
    return lc_distinct_frame(table(spark, sf_dir, "documents"))


def lc_distinct_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of distinct_linear_counting over any
    (doc_id, text) frame — shared by the registered query and the
    scaling probe."""
    from .corpus_mining import _windows_frame

    tok = docs.select("doc_id", "text")
    g = _windows_frame(tok, span_n=4).select(F.col("gram").alias("term"))
    words = bit_words(g, md5_long("term") % TABLE_BITS)
    setb = words.agg(F.sum(F.bit_count("bits")).cast("long").alias("n_set"))
    ex = g.agg(F.count_distinct("term").cast("long").alias("n_exact"))
    lc = (
        f"CAST(round(-{TABLE_BITS}.0e0"
        f" * ln(({TABLE_BITS} - n_set) * 1.0e0 / {TABLE_BITS})) AS BIGINT)"
    )
    return ex.crossJoin(F.broadcast(setb)).select(
        "n_exact",
        "n_set",
        F.expr(lc).alias("lc_est"),
        F.expr(f"{lc} - n_exact").alias("est_minus_exact"),
        F.expr(f"abs({lc} - n_exact) * 1000000 div n_exact").alias(
            "abs_err_ppm"
        ),
    )


# --- Jensen-Shannon drift between corpus halves: the text twin of
# emb_centroid_drift. Per-gram log-ratios quantize to BIGINT
# micro-nats (ln of an exact BIGINT rational, the DSIR convention), so
# the two corpus-sized sums are order-free; the one float is the final
# division of exact integers.


@query(
    "text_gram_js_drift",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS pos,
             toks
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + 3), ' ') AS gram
      FROM pg
    ),
    c AS (
      SELECT gram,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
      FROM g GROUP BY gram
    ),
    tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
                   CAST(sum(n2) AS BIGINT) AS t2,
                   CAST(count(*) AS BIGINT) AS n_grams
            FROM c),
    s AS (
      SELECT
        CAST(sum(CASE WHEN n1 > 0 THEN n1 *
          CAST(round(ln(2.0e0 * n1 * t2 / (n1 * t2 + n2 * t1)) * 1.0e6)
               AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN n2 > 0 THEN n2 *
          CAST(round(ln(2.0e0 * n2 * t1 / (n1 * t2 + n2 * t1)) * 1.0e6)
               AS BIGINT) ELSE 0 END) AS BIGINT) AS s2
      FROM c CROSS JOIN tot
    )
    SELECT tot.t1 AS t1_grams, tot.t2 AS t2_grams, tot.n_grams,
           CAST(round((s.s1 * 1.0e0 / tot.t1 + s.s2 * 1.0e0 / tot.t2)
                      * 0.5e0) AS BIGINT) AS js_unats
    FROM tot CROSS JOIN s
    """,
)
def text_gram_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the 4-gram distributions of
    two corpus halves (doc_id parity standing in for old/new snapshot,
    the emb_centroid_drift convention) — the one-number answer to "did
    the newest crawl shift the text distribution?" that pretraining
    intake monitors alongside embedding drift. JS(p, q) decomposes
    into per-gram terms ``n_i * ln(2 n_i T_j / (n_i T_j + n_j T_i))``
    — a log of an EXACT BIGINT rational — quantized to micro-nats per
    gram before the corpus-sized sums (the DSIR ln-quantization
    convention: float summation has no deterministic order, integer
    summation does); absent-side grams contribute exactly 0 (the
    p*ln(p/m) limit). The one float is the final division of four
    exact integers, rounded identically on both engines.

    Scale shape: tokenize + window once, ONE combinable aggregation to
    gram-keyed (n1, n2) pair counts (the two halves counted in the
    same pass — no join, no second scan), a 1-row total broadcast, and
    a second combinable aggregation to two BIGINT sums. Cost is one
    pass over the gram stream plus a vocab-sized shuffle. At corpora
    where ``n_i * T_j`` exceeds int64 (~3e9 grams per half), move the
    ln's operands to DECIMAL(38,0) unchanged — the quantized-sum
    skeleton is already overflow-safe (|t| <= ln(2)*1e6 per gram).
    """
    from .corpus_mining import _windows_frame

    docs = table(spark, sf_dir, "documents")
    g = _windows_frame(docs.select("doc_id", "text"), span_n=4).select(
        "doc_id", "gram"
    )
    c = g.groupBy("gram").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    tot = c.agg(
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
        F.count("*").alias("n_grams"),
    )
    s = (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.when(
                    F.col("n1") > 0,
                    F.col("n1")
                    * F.expr(
                        "CAST(round(ln(2.0e0 * n1 * t2 / (n1 * t2 + n2 * t1))"
                        " * 1.0e6) AS BIGINT)"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s1"),
            F.sum(
                F.when(
                    F.col("n2") > 0,
                    F.col("n2")
                    * F.expr(
                        "CAST(round(ln(2.0e0 * n2 * t1 / (n1 * t2 + n2 * t1))"
                        " * 1.0e6) AS BIGINT)"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s2"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            F.col("t1").alias("t1_grams"),
            F.col("t2").alias("t2_grams"),
            "n_grams",
            F.expr(
                "CAST(round((s1 * 1.0e0 / t1 + s2 * 1.0e0 / t2) * 0.5e0)"
                " AS BIGINT)"
            ).alias("js_unats"),
        )
    )


@query(
    "streaming_cms_sketch",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    pr AS (SELECT term, unnest([0, 1, 2, 3]) AS r FROM tok),
    tb AS (SELECT r, {_SQL_CMS_BUCKET} AS b FROM pr)
    SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
    FROM tb GROUP BY r, b
    """,
)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of streaming.landing.stream_cms_sketch (see
    that docstring): the count-min sketch built as a REAL streaming
    aggregation whose state is modulus-bounded (<= 4096 cells) rather
    than watermark-bounded — the streaming half of
    text_heavy_hitters_cms, final cells equal to the batch sketch
    bit-for-bit against the shared DuckDB oracle."""
    from ..streaming.landing import stream_cms_sketch

    return stream_cms_sketch(spark, sf_dir)
