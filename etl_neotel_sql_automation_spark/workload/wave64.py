"""Round-8 wave-64 workload: text_heaps_law — the vocabulary growth
curve and its Heaps'-law exponent: V(N) ~ K * N^beta over nested
corpus prefixes. Corpus statistics cover the static distributions
(Zipf fit, lexical diversity, OOV, n-gram coverage); Heaps' law is
the GROWTH readout — "how fast does the vocabulary (and so the
tokenizer pressure, the embedding table, the OOV tail) grow as the
corpus doubles?" — the curve a data engineer consults before sizing
a vocab, and nothing else in the registry measures anything across
corpus PREFIXES.

Method (one pass per input, no global sort): prefixes are doc-id
RANGES — segment seg = 1 + ((doc_id - mn) * 8) div R over the id span
R from a 1-row min/max aggregate, so prefix k = segments 1..k; no
row_number over the corpus (the global-sort shape the layout meters
were dinged for). A token's first appearance is min(doc_id) (one
combinable aggregate over the exploded tokens); bucketing first-ids
by segment and cumulating over the 8-row segment spine gives the
exact nested vocabulary sizes, and the same bucketing of per-doc
token counts gives cumulative corpus sizes. The Heaps exponent is
the micro-nat-quantized log-log OLS slope (the wave-57 idiom) over
the up-to-8 checkpoint points, computed in exact integer moments via
unpartitioned windows on the spine.

Scale shape: tokenize+explode -> token-keyed combinable min
aggregate (the vocab scan — the same shape every dedup fingerprint
rides), doc-keyed count aggregate, then everything lives on the
8-row spine. At 100 TB the only heavy stage is the token aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, _SQL_TOKS, query, table
from ..ops import text as X

_SEGS = 8


def heaps_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_heaps_law (scaling-probe entry)."""
    rng = docs.agg(
        F.min("doc_id").cast("bigint").alias("mn"),
        (F.max("doc_id") - F.min("doc_id") + 1).cast("bigint").alias("r"),
    )
    seg_of = f"CAST(1 + ((doc_id - mn) * {_SEGS}) div r AS INT)"
    toks = X.tokens("text")
    # token first-appearance -> segment counts
    first = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .crossJoin(F.broadcast(rng))  # 1-row range scalars
        .select(F.expr(seg_of).alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").cast("bigint").alias("new_vocab"))
    )
    # per-doc token counts -> segment sums
    sizes = (
        docs.select("doc_id", F.size(toks).cast("bigint").alias("ntok"))
        .crossJoin(F.broadcast(rng))
        .select(F.expr(seg_of).alias("seg"), "ntok")
        .groupBy("seg")
        .agg(
            F.sum("ntok").cast("bigint").alias("seg_tokens"),
            F.count("*").cast("bigint").alias("seg_docs"),
        )
    )
    spine = docs.sparkSession.range(1, _SEGS + 1).select(
        F.col("id").cast("int").alias("seg")
    )
    cum = (
        spine.join(first, "seg", "left")
        .join(sizes, "seg", "left")
        .select(
            "seg",
            F.expr(
                "CAST(sum(coalesce(seg_docs, 0)) OVER (ORDER BY seg)"
                " AS BIGINT)"
            ).alias("docs_cum"),
            F.expr(
                "CAST(sum(coalesce(seg_tokens, 0)) OVER (ORDER BY seg)"
                " AS BIGINT)"
            ).alias("tokens_cum"),
            F.expr(
                "CAST(sum(coalesce(new_vocab, 0)) OVER (ORDER BY seg)"
                " AS BIGINT)"
            ).alias("vocab_cum"),
        )
    )
    pt = cum.select(
        "*",
        F.expr(
            "CASE WHEN tokens_cum > 0 AND vocab_cum > 0 THEN"
            " CAST(round(ln(tokens_cum) * 1000000) AS BIGINT) END"
        ).alias("x"),
        F.expr(
            "CASE WHEN tokens_cum > 0 AND vocab_cum > 0 THEN"
            " CAST(round(ln(vocab_cum) * 1000000) AS BIGINT) END"
        ).alias("y"),
    )
    w = pt.select(
        "*",
        F.expr("count(x) OVER ()").cast("bigint").alias("np"),
        F.expr("sum(x) OVER ()").cast("bigint").alias("sx"),
        F.expr("sum(y) OVER ()").cast("bigint").alias("sy"),
        F.expr(f"sum(CAST(x AS {_DEC}) * x) OVER ()").cast(_DEC).alias("sxx"),
        F.expr(f"sum(CAST(x AS {_DEC}) * y) OVER ()").cast(_DEC).alias("sxy"),
    )
    det = f"(np * sxx - CAST(sx AS {_DEC}) * sx)"
    cov = f"(np * sxy - CAST(sx AS {_DEC}) * sy)"
    slope = f"(CAST({cov} AS DOUBLE) / CAST({det} AS DOUBLE))"
    return w.select(
        "seg",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        F.expr(
            f"CASE WHEN {det} = 0 THEN NULL ELSE round({slope}, 6) END"
        ).alias("heaps_beta"),
        F.expr(
            f"CASE WHEN {det} = 0 THEN NULL"
            f" ELSE round((sy - {slope} * sx) / (np * 1.0e6), 6) END"
        ).alias("heaps_lnk"),
    ).orderBy("seg")


@query(
    "text_heaps_law",
    oracle=f"""
    WITH rng AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS mn,
             CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS r
      FROM documents
    ),
    first AS (
      SELECT CAST(1 + ((doc_id - mn) * {_SEGS}) // r AS INTEGER) AS seg,
             CAST(count(*) AS BIGINT) AS new_vocab
      FROM (
        SELECT tok, CAST(min(doc_id) AS BIGINT) AS doc_id
        FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
        GROUP BY tok
      ) CROSS JOIN rng
      GROUP BY 1
    ),
    sizes AS (
      SELECT CAST(1 + ((doc_id - mn) * {_SEGS}) // r AS INTEGER) AS seg,
             CAST(sum(ntok) AS BIGINT) AS seg_tokens,
             CAST(count(*) AS BIGINT) AS seg_docs
      FROM (SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS ntok
            FROM documents) CROSS JOIN rng
      GROUP BY 1
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(1, {_SEGS})) AS INTEGER) AS seg
    ),
    cum AS (
      SELECT spine.seg,
             CAST(sum(coalesce(seg_docs, 0)) OVER (ORDER BY spine.seg)
                  AS BIGINT) AS docs_cum,
             CAST(sum(coalesce(seg_tokens, 0)) OVER (ORDER BY spine.seg)
                  AS BIGINT) AS tokens_cum,
             CAST(sum(coalesce(new_vocab, 0)) OVER (ORDER BY spine.seg)
                  AS BIGINT) AS vocab_cum
      FROM spine
      LEFT JOIN first ON spine.seg = first.seg
      LEFT JOIN sizes ON spine.seg = sizes.seg
    ),
    pt AS (
      SELECT *,
             CASE WHEN tokens_cum > 0 AND vocab_cum > 0 THEN
               CAST(round(ln(tokens_cum) * 1000000) AS BIGINT) END AS x,
             CASE WHEN tokens_cum > 0 AND vocab_cum > 0 THEN
               CAST(round(ln(vocab_cum) * 1000000) AS BIGINT) END AS y
      FROM cum
    ),
    w AS (
      SELECT *,
             CAST(count(x) OVER () AS BIGINT) AS np,
             CAST(sum(x) OVER () AS BIGINT) AS sx,
             CAST(sum(y) OVER () AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER () AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) OVER () AS HUGEINT) AS sxy
      FROM pt
    )
    SELECT seg, docs_cum, tokens_cum, vocab_cum,
           CASE WHEN np * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round(CAST(np * sxy - CAST(sx AS HUGEINT) * sy
                                AS DOUBLE)
                     / CAST(np * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                     6) END AS heaps_beta,
           CASE WHEN np * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE round((sy - (CAST(np * sxy - CAST(sx AS HUGEINT) * sy
                                       AS DOUBLE)
                            / CAST(np * sxx - CAST(sx AS HUGEINT) * sx
                                   AS DOUBLE)) * sx) / (np * 1.0e6), 6)
           END AS heaps_lnk
    FROM w ORDER BY seg
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth over 8 nested doc-id-range prefixes: per
    checkpoint cumulative docs/tokens/vocabulary, with the Heaps'-law
    exponent and ln K from a micro-nat log-log OLS over the curve."""
    return heaps_frame(table(spark, sf_dir, "documents"))
