"""Training-data preparation workload: PII redaction, deterministic
train/eval splitting, per-domain quotas, and n-gram corpus statistics —
the operations a pretraining pipeline runs between raw documents and a
training shard.

100 TB design notes: every query here is a projection, a hash
aggregate, or a bounded window per small key — no fact-fact joins, no
driver-side state. The train/eval split and the domain quota are both
DETERMINISTIC (md5-derived), so re-running the pipeline on appended
data never reshuffles previously assigned documents across splits —
the property that keeps eval sets honest over time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from ..ops.hashing import hash_split, md5_long, sql_hash_split, sql_md5_long


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
               AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{X.EMAIL_RE}'))
              + len(regexp_extract_all(text, '{X.PHONE_RE}')) AS INT) AS n_pii,
           md5(regexp_replace(regexp_replace(text, '{X.EMAIL_RE}', '[PII]', 'g'),
                              '{X.PHONE_RE}', '[PII]', 'g'))          AS clean_md5
    FROM seeded
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as a pure codegen projection. The synthetic corpus
    contains no PII, so both engines first seed each document with an
    email and a phone number derived from doc_id, then redact; the
    oracle compares the match count and the md5 of the scrubbed text,
    proving the byte-identical rewrite without hauling full documents
    through the driver's canonicalizer."""
    docs = table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        X.pii_count("text").alias("n_pii"),
        F.md5(X.redact_pii("text")).alias("clean_md5"),
    )


@query(
    "split_train_eval",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             {sql_hash_split("doc_id")} AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/eval/test split keyed on
    md5(doc_id) — stable under re-runs and data appends (a document
    never migrates between splits), uniformly distributed, and
    computed as one codegen'd expression with no shuffle beyond the
    verification count."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", hash_split("doc_id").alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "docs_domain_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source, doc_id, n_chars
    FROM ranked WHERE rk <= 10
    """,
)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota (anti-domination filter): keep the 10
    longest documents per source. One window per source partition — at
    100 TB each domain's partition streams through a sorted window with
    O(1) retained state; heavily skewed domains are exactly the case
    AQE skew handling plus the deterministic tiebreak keep correct."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "text_bigram_top",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
    ),
    grams AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[i] <> '' AND t[i + 1] <> ''
    )
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: explode adjacent token pairs and count
    the top 50. The pair construction is an array zip (slice + zip) in
    pure codegen; the count is one map-side-combinable aggregate over
    ~tokens rows — the canonical shape for vocabulary/n-gram builds."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("a"),
        F.slice(toks, 2, n - 1).alias("b"),
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .filter((F.col("p.a") != "") & (F.col("p.b") != ""))
        .select(F.concat_ws(" ", "p.a", "p.b").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_SQL_TOKS}) AS n_tok FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source,
           CAST(floor((cum - n_tok) / 256) AS BIGINT) AS bin_id,
           count(*)    AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c GROUP BY source, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards (GPT-style concat-then-
    chunk): documents are laid out in deterministic order per source
    and a doc's bin is ``floor(preceding_tokens / 256)`` — i.e. the
    256-token block its first token lands in after concatenation.
    One running-sum window PER SOURCE (never a global single-partition
    window: at 100 TB each source/shard packs independently, which is
    also what keeps shard boundaries stable under corpus appends to
    other sources). Output is per-bin occupancy — the shard manifest
    a training loader consumes."""
    docs = table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        docs.select(
            "doc_id", "source", X.token_count("text").cast("long").alias("n_tok")
        )
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn(
            "bin_id", F.floor((F.col("cum") - F.col("n_tok")) / 256).cast("long")
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "decontaminate_train",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 4 THEN
          list_distinct(list_transform(
              range(1, greatest(len(toks) - 3, 0) + 1),
              i -> array_to_string(list_slice(toks, i, i + 3), ' ')))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM t
    ),
    eval_sh AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
    )
    SELECT s.doc_id, count(*) AS n_shared
    FROM sh s JOIN eval_sh e ON s.sh = e.sh
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan: training documents sharing any
    word 4-gram with the eval slice (doc_id ≡ 0 mod 50), with the
    count of shared shingles — the n-gram-overlap decontamination
    every serious pretraining corpus runs against its benchmarks.
    Shape: explode distinct shingles on both sides, equi-join on the
    shingle, aggregate per train doc. At 100 TB the shingle strings
    are replaced by md5_long hashes (smaller shuffle keys, same
    join) and the eval side — benchmarks are tiny relative to the
    corpus — broadcasts; here both stay unhinted and exact for the
    differential check."""
    from ..ops.dedup import shingles

    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), 4)).alias("sh")
    )
    eval_sh = sh.filter(F.col("doc_id") % 50 == 0).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(eval_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .orderBy("doc_id")
    )


@query(
    "chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 24)) AS st FROM t
    )
    SELECT doc_id,
           CAST((st - 1) // 24 AS INT)                       AS chunk_id,
           CAST(len(list_slice(toks, st, st + 31)) AS INT)   AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, st, st + 31), ' ')) AS chunk_md5
    FROM starts
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (window 32 tokens, stride
    24 => 8-token overlap) — the RAG/long-context preprocessing step
    that turns documents into model-sized pieces without losing
    cross-boundary context. Pure codegen: sequence of window starts,
    posexplode, array slice — no shuffle at all; chunk ids derive from
    the start offset so they are stable under re-partitioning. The
    md5 of each chunk keeps the compared surface scalar."""
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(24))
    chunked = docs.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("st")
    )
    chunk = F.slice(F.col("toks"), F.col("st"), 32)
    return chunked.select(
        "doc_id",
        F.expr("(st - 1) div 24").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@query(
    "sample_token_budget",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
             {sql_md5_long("'budget:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, nt,
             CAST(sum(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM feat
    )
    SELECT doc_id, source, nt AS n_tokens, cum_tokens
    FROM c
    WHERE cum_tokens <= CASE WHEN source IN ('src0', 'src1', 'src2')
                             THEN 400 ELSE 200 END
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling to a per-source TOKEN budget (not a doc
    count): docs stream in salted-md5 order and accumulate until the
    source's budget is hit — how a training mixture hits its per-domain
    token targets reproducibly. The hash order makes the selection a
    pure function of (doc_id, salt): appends never evict previously
    selected docs below the cumsum boundary, retries pick the same set,
    and any engine replays it (the oracle proves it). One window per
    source partition, O(1) running state."""
    docs = table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        X.token_count("text").cast("long").alias("nt"),
        md5_long(F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    budget = F.when(F.col("source").isin("src0", "src1", "src2"), 400).otherwise(200)
    return (
        feat.withColumn("cum_tokens", F.sum("nt").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            "doc_id", "source", F.col("nt").alias("n_tokens"), "cum_tokens"
        )
    )


@query(
    "sample_weighted_poisson",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
             {sql_md5_long("'wps:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS u
      FROM documents
    ),
    tot AS (SELECT CAST(sum(nt) AS BIGINT) AS sum_nt,
                   count(*) AS n_docs FROM feat)
    SELECT doc_id, source, nt AS n_tokens, u
    FROM feat, tot
    WHERE u * 10 * sum_nt < 3000000 * nt * n_docs
    """,
)
def sample_weighted_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Poisson (independent Bernoulli) sampling at
    target rate 0.3: each doc is kept with probability
    min(1, 0.3 * nt / avg_nt) — longer docs oversampled in proportion
    to their token mass, the standard way a mixture stage upsamples
    high-value domains without a global sort or reservoir state.

    Fully deterministic AND integer-exact: the uniform draw is a salted
    md5 residue and the inclusion test is cross-multiplied to one
    BIGINT comparison (u * 10 * sum_nt < 3e6 * nt * n_docs) — no
    float division anywhere, so any engine replays the exact sample
    (the oracle proves it) and appends/retries keep prior decisions.
    One pass + a broadcast 1-row total; per-row O(1). At corpus scales
    where the cross-product exceeds int64 (~1e13 total tokens), move
    the comparison to DECIMAL(38,0) unchanged; semantics identical."""
    docs = table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        X.token_count("text").cast("long").alias("nt"),
        (
            md5_long(F.concat(F.lit("wps:"), F.col("doc_id").cast("string")))
            % 1_000_000
        ).alias("u"),
    )
    tot = feat.agg(
        F.sum("nt").alias("sum_nt"), F.count("*").alias("n_docs")
    )
    return (
        feat.crossJoin(F.broadcast(tot))
        .filter(
            F.col("u") * 10 * F.col("sum_nt")
            < F.lit(3_000_000) * F.col("nt") * F.col("n_docs")
        )
        .select("doc_id", "source", F.col("nt").alias("n_tokens"), "u")
    )


@query(
    "mixture_weights_temperature",
    oracle=f"""
    WITH s AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_micro
      FROM s
    ),
    tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS sum_w FROM w)
    SELECT source, n_docs, n_tokens, w_micro,
           CAST(floor((w_micro * 1000000.0) / sum_w) AS BIGINT) AS share_ppm
    FROM w, tot
    ORDER BY source
    """,
)
def mixture_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weighting (alpha = 0.5): per-source
    sampling shares proportional to sqrt(token mass) — the standard
    rebalancing that up-weights small domains without letting giant
    crawls dominate (multilingual/multi-domain pretraining's
    p_s ∝ n_s^alpha). Output is the per-source weight and its share in
    parts-per-million.

    Cross-engine exactness without the round()-tie trap: IEEE requires
    CORRECTLY-ROUNDED sqrt and division, so both engines compute
    identical doubles, and all outputs go through floor to micro/ppm
    integers — floor has no tie behavior to disagree on (the BUILDLOG
    round(x, d)-on-division lesson applied). One groupBy + a 1-row
    broadcast total."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_count("text").cast("long")).alias("n_tokens"),
    )
    w = s.withColumn(
        "w_micro",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000).cast("long"),
    )
    tot = w.agg(F.sum("w_micro").alias("sum_w"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "w_micro",
            F.floor((F.col("w_micro") * 1_000_000.0) / F.col("sum_w"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("source")
    )


@query(
    "sample_weighted_es_topk",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt,
             {sql_md5_long("'es:' || CAST(doc_id AS VARCHAR)")} % 1048576 AS r
      FROM documents
    )
    SELECT doc_id, source, nt AS n_tokens,
           CAST(round(ln((r + 1) * 1.0e0 / 1048576.0e0) * 1000000.0e0 / nt)
                AS BIGINT) AS key_unats
    FROM feat
    WHERE nt >= 1
    ORDER BY key_unats DESC, doc_id
    LIMIT 20
    """,
)
def sample_weighted_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k weighted sampling WITHOUT replacement via the
    Efraimidis-Spirakis one-pass scheme (the reservoir counterpart of
    sample_weighted_poisson's independent Bernoulli draws): each doc
    gets key u^(1/w) for a uniform u and weight w = token count, and
    the k largest keys ARE a weight-proportional sample without
    replacement — here ranked by the monotone-equivalent ln(u)/w,
    quantized to BIGINT micro-nats (the DSIR ln-quantization
    convention) with a doc_id tiebreak so both engines cut the same
    k-set. u is a salted-md5 residue over 2^20, so the whole draw is
    a pure function of doc_id — appends and retries keep prior
    selections, and any engine replays it (the oracle proves it).

    Scale shape: ONE narrow projection (tokenize + md5, no joins, no
    state) followed by a rank-k sort — Spark executes it as per-
    partition top-k + a k-row driver merge (TakeOrderedAndProject),
    so nothing corpus-sized shuffles, the textbook distributed
    weighted-reservoir. This is how a mixture stage draws "10k docs
    proportional to token mass" from a 100 TB corpus in one pass.
    """
    docs = table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        X.token_count("text").cast("long").alias("nt"),
        (
            md5_long(F.concat(F.lit("es:"), F.col("doc_id").cast("string")))
            % 1_048_576
        ).alias("r"),
    ).filter(F.col("nt") >= 1)
    return (
        feat.select(
            "doc_id",
            "source",
            F.col("nt").alias("n_tokens"),
            F.expr(
                "CAST(round(ln((r + 1) * 1.0e0 / 1048576.0e0) * 1000000.0e0 / nt)"
                " AS BIGINT)"
            ).alias("key_unats"),
        )
        .orderBy(F.desc("key_unats"), "doc_id")
        .limit(20)
    )
