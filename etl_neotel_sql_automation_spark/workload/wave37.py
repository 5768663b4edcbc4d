"""Round-7 wave-37 workloads: the two tuning tables a curation /
training-prep pipeline reads before committing a knob —

- quality_gate_sweep — the threshold-tuning curve for a quality gate:
  for each decile threshold over the stopword-ratio score (the
  calibration-bins convention), the docs and tokens RETAINED by
  "keep score >= t", their shares, and the mean score of the
  survivors. quality_calibration_bins says whether the score is
  honest; the sweep says what each cut actually costs in corpus mass —
  the two tables a gate threshold is chosen from. Computed as one
  10-bin aggregate + a reverse-cumulative window (never 10 passes).
- train_length_bucket_padding — dynamic-batching padding audit:
  bucket docs by token count into [64, 128, 256, 512] (longer docs
  truncate to 512), report per-bucket doc counts, padded tokens and
  waste ppm, plus the pooled bucketed waste vs the single-bucket
  (pad-everything-to-512) waste — the measured case for
  length-bucketed batching.

Determinism: integer ppm floor division throughout (all operands
non-negative); token counts via the shared ops.text tokenizer /
_SQL_TOKS twin; bucket boundaries are literals in both texts.

Scale notes: each query is one tokenize pass + a <=10-key combinable
aggregate; the sweep's cumulative sums and the padding pool are
windows over <=10 rows. Zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from .wave12 import _SQL_STOPS

# ---------------------------------------------------------------------------
# quality_gate_sweep
# ---------------------------------------------------------------------------


def gate_sweep_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_gate_sweep (scaling-probe entry)."""
    toks = X.tokens(F.col("text"))
    d = docs.select(
        X.stopword_count(F.col("text")).cast("bigint").alias("stp"),
        F.size(toks).cast("bigint").alias("ntok"),
    ).select(
        F.expr(
            "CAST((1000000 * stp) div greatest(1, ntok) AS BIGINT)"
        ).alias("score_ppm"),
        "ntok",
    )
    bins = (
        d.select(
            F.least(F.lit(9), F.expr("score_ppm div 100000")).alias("bin"),
            "score_ppm",
            "ntok",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("ntok").cast("bigint").alias("tok"),
            F.sum("score_ppm").cast("bigint").alias("s"),
        )
    )
    # retained at threshold t = bin*100000: reverse-cumulative sums
    w = "OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING" \
        " AND CURRENT ROW)"
    return bins.select(
        F.expr("CAST(bin * 100000 AS BIGINT)").alias("threshold_ppm"),
        F.expr(f"CAST(sum(n) {w} AS BIGINT)").alias("docs_retained"),
        F.expr(f"CAST(sum(tok) {w} AS BIGINT)").alias("tokens_retained"),
        F.expr(
            f"CAST((1000000 * sum(n) {w}) div (sum(n) OVER ()) AS BIGINT)"
        ).alias("docs_share_ppm"),
        F.expr(
            f"CAST((1000000 * sum(tok) {w})"
            " div greatest(1, sum(tok) OVER ()) AS BIGINT)"
        ).alias("tokens_share_ppm"),
        F.expr(
            f"CAST((sum(s) {w}) div (sum(n) {w}) AS BIGINT)"
        ).alias("mean_score_ppm"),
    ).orderBy("threshold_ppm")


@query(
    "quality_gate_sweep",
    oracle=f"""
    WITH d AS (
      SELECT CAST((1000000 * {_SQL_STOPS.format(toks=_SQL_TOKS)})
                  // greatest(1, len({_SQL_TOKS})) AS BIGINT) AS score_ppm,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS ntok
      FROM documents
    ),
    bins AS (
      SELECT least(9, score_ppm // 100000) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ntok) AS BIGINT) AS tok,
             CAST(sum(score_ppm) AS BIGINT) AS s
      FROM d GROUP BY 1
    )
    SELECT CAST(bin * 100000 AS BIGINT) AS threshold_ppm,
           CAST(sum(n) OVER w AS BIGINT) AS docs_retained,
           CAST(sum(tok) OVER w AS BIGINT) AS tokens_retained,
           CAST((1000000 * sum(n) OVER w) // (sum(n) OVER ()) AS BIGINT)
             AS docs_share_ppm,
           CAST((1000000 * sum(tok) OVER w)
                // greatest(1, sum(tok) OVER ()) AS BIGINT)
             AS tokens_share_ppm,
           CAST((sum(s) OVER w) // (sum(n) OVER w) AS BIGINT)
             AS mean_score_ppm
    FROM bins
    WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY threshold_ppm
    """,
)
def quality_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate tuning curve: per decile threshold of the
    stopword-ratio score, the docs/tokens retained by `score >= t`,
    their corpus shares, and the survivors' mean score."""
    return gate_sweep_frame(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# train_length_bucket_padding
# ---------------------------------------------------------------------------

_BUCKETS = (64, 128, 256, 512)
_BUCKET_CASE = (
    "CASE WHEN ntok <= 64 THEN 64 WHEN ntok <= 128 THEN 128"
    " WHEN ntok <= 256 THEN 256 ELSE 512 END"
)


def length_bucket_frame(docs: DataFrame) -> DataFrame:
    """Frame core of train_length_bucket_padding (scaling-probe
    entry)."""
    d = docs.select(
        F.least(F.lit(512), X.token_count(F.col("text")).cast("bigint"))
        .alias("ntok")
    ).selectExpr("ntok", f"CAST({_BUCKET_CASE} AS BIGINT) AS bucket")
    b = d.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("real_tokens"),
        F.expr("CAST(sum(bucket - ntok) AS BIGINT)").alias("padded_tokens"),
    )
    return b.select(
        "bucket",
        "n_docs",
        "real_tokens",
        "padded_tokens",
        F.expr(
            "CAST((1000000 * padded_tokens)"
            " div greatest(1, n_docs * bucket) AS BIGINT)"
        ).alias("waste_ppm"),
        F.expr(
            "CAST((1000000 * sum(padded_tokens) OVER ())"
            " div greatest(1, sum(n_docs * bucket) OVER ()) AS BIGINT)"
        ).alias("bucketed_waste_ppm"),
        F.expr(
            "CAST((1000000 * (512 * sum(n_docs) OVER ()"
            " - sum(real_tokens) OVER ()))"
            " div greatest(1, 512 * sum(n_docs) OVER ()) AS BIGINT)"
        ).alias("unbucketed_waste_ppm"),
    ).orderBy("bucket")


@query(
    "train_length_bucket_padding",
    oracle=f"""
    WITH d AS (
      SELECT least(512, CAST(len({_SQL_TOKS}) AS BIGINT)) AS ntok
      FROM documents
    ),
    d2 AS (SELECT ntok, CAST({_BUCKET_CASE} AS BIGINT) AS bucket FROM d),
    b AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS real_tokens,
             CAST(sum(bucket - ntok) AS BIGINT) AS padded_tokens
      FROM d2 GROUP BY bucket
    )
    SELECT bucket, n_docs, real_tokens, padded_tokens,
           CAST((1000000 * padded_tokens)
                // greatest(1, n_docs * bucket) AS BIGINT) AS waste_ppm,
           CAST((1000000 * sum(padded_tokens) OVER ())
                // greatest(1, sum(n_docs * bucket) OVER ()) AS BIGINT)
             AS bucketed_waste_ppm,
           CAST((1000000 * (512 * sum(n_docs) OVER ()
                            - sum(real_tokens) OVER ()))
                // greatest(1, 512 * sum(n_docs) OVER ()) AS BIGINT)
             AS unbucketed_waste_ppm
    FROM b ORDER BY bucket
    """,
)
def train_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching padding audit: per-bucket padded
    tokens and waste ppm, plus pooled bucketed vs pad-to-512 waste."""
    return length_bucket_frame(table(spark, sf_dir, "documents"))
