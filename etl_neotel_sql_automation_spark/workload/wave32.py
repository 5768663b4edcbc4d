"""Round-7 wave-32 workloads: forecast-quality accounting and corpus
byte hygiene —

- quality_brier_decomposition — the Murphy decomposition of the Brier
  score for the stopword-ratio "probability" against the long-doc
  label (the exact setup quality_calibration_bins reads per bin):
  one row with the raw Brier score, the reliability / resolution /
  uncertainty terms over score deciles, and the residual
  within-bin-variance term (raw Brier - (REL - RES + UNC)), all in
  integer ppm^2. Calibration bins show WHERE a score lies; the
  decomposition says how much of the error is miscalibration (REL,
  fixable by remapping) vs lack of sharpness (RES/UNC, not fixable
  without a better feature) — the readout that decides whether
  recalibrating a quality classifier is worth anything.
- text_charset_profile — per-source byte/charset hygiene: printable-
  ASCII, digit, letter, uppercase and whitespace ratios (ppm of
  characters). The first-pass filter table a corpus curator reads
  before any tokenizer sees the bytes (binary junk, digit dumps and
  shouting sources each light up one column).

Determinism: all ratios are floor-divided integer ppm / ppm^2 on both
engines (all div operands non-negative); per-bin means use the same
floor rounding as quality_calibration_bins, so the decomposition
identity carries a small nonnegative rounding residual that the
within-bin-variance column absorbs (the fixture pins the exact-zero
case). Character classes are single fixed regex classes evaluated by
each engine's regex (ASCII-only classes, no dialect divergence).

Scale notes: the Brier frame is one tokenize pass + one 10-key
aggregate + one 1-row scalar; the charset profile is one regex pass +
a |sources|-key aggregate. Both map-side combinable, no joins beyond
the 1-row scalar. ppm^2 sums hold to ~9e6 docs in BIGINT; past that
the meter runs on a hash-sample (the sim_margin_quality_sampled
recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from .wave12 import _SQL_STOPS

# ---------------------------------------------------------------------------
# quality_brier_decomposition
# ---------------------------------------------------------------------------


def _scored(docs: DataFrame) -> DataFrame:
    """(score_ppm, pos) — the quality_calibration_bins convention:
    stopword-ratio ppm as the forecast, >=30 tokens as the label."""
    toks = X.tokens(F.col("text"))
    return docs.select(
        X.stopword_count(F.col("text")).cast("bigint").alias("stp"),
        F.greatest(F.lit(1), F.size(toks)).cast("bigint").alias("ntok"),
        F.when(F.size(toks) >= 30, 1).otherwise(0).cast("bigint").alias("pos"),
    ).select(
        F.expr("CAST((1000000 * stp) div ntok AS BIGINT)").alias("score_ppm"),
        "pos",
    )


def brier_decomposition_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_brier_decomposition (scaling-probe
    entry)."""
    d = _scored(docs)
    bins = (
        d.select(
            F.least(F.lit(9), F.expr("score_ppm div 100000")).alias("bin"),
            "score_ppm",
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("score_ppm").cast("bigint").alias("s"),
            F.sum("pos").cast("bigint").alias("p"),
            F.expr(
                "sum((score_ppm - 1000000 * pos) * (score_ppm - 1000000 * pos))"
            )
            .cast("bigint")
            .alias("sq"),
        )
        .select(
            "n",
            "sq",
            "p",
            F.expr("s div n").alias("pbar_ppm"),
            F.expr("(1000000 * p) div n").alias("o_ppm"),
        )
    )
    tot = bins.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.expr("CAST((1000000 * sum(p)) div sum(n) AS BIGINT)").alias(
            "obar_ppm"
        ),
        F.expr("CAST(sum(sq) div sum(n) AS BIGINT)").alias("brier_ppm2"),
    )
    terms = (
        bins.crossJoin(F.broadcast(tot))  # 1-row corpus scalars
        .agg(
            F.expr(
                "CAST(sum(n * (pbar_ppm - o_ppm) * (pbar_ppm - o_ppm))"
                " div sum(n) AS BIGINT)"
            ).alias("rel_ppm2"),
            F.expr(
                "CAST(sum(n * (o_ppm - obar_ppm) * (o_ppm - obar_ppm))"
                " div sum(n) AS BIGINT)"
            ).alias("res_ppm2"),
            F.max("n_docs").alias("n_docs"),
            F.max("obar_ppm").alias("obar_ppm"),
            F.max("brier_ppm2").alias("brier_ppm2"),
        )
    )
    return terms.select(
        "n_docs",
        "brier_ppm2",
        "rel_ppm2",
        "res_ppm2",
        F.expr("CAST(obar_ppm * (1000000 - obar_ppm) AS BIGINT)").alias(
            "unc_ppm2"
        ),
        F.expr(
            "CAST(brier_ppm2 - (rel_ppm2 - res_ppm2"
            " + obar_ppm * (1000000 - obar_ppm)) AS BIGINT)"
        ).alias("wbv_ppm2"),
    )


@query(
    "quality_brier_decomposition",
    oracle=f"""
    WITH d AS (
      SELECT CAST((1000000 * {_SQL_STOPS.format(toks=_SQL_TOKS)})
                  // greatest(1, len({_SQL_TOKS})) AS BIGINT) AS score_ppm,
             CAST(CASE WHEN len({_SQL_TOKS}) >= 30 THEN 1 ELSE 0 END
                  AS BIGINT) AS pos
      FROM documents
    ),
    bins AS (
      SELECT least(9, score_ppm // 100000) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(score_ppm) AS BIGINT) AS s,
             CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum((score_ppm - 1000000 * pos)
                      * (score_ppm - 1000000 * pos)) AS BIGINT) AS sq
      FROM d GROUP BY 1
    ),
    b2 AS (
      SELECT n, sq, p, s // n AS pbar_ppm, (1000000 * p) // n AS o_ppm
      FROM bins
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             CAST((1000000 * sum(p)) // sum(n) AS BIGINT) AS obar_ppm,
             CAST(sum(sq) // sum(n) AS BIGINT) AS brier_ppm2
      FROM b2
    ),
    terms AS (
      SELECT CAST(sum(n * (pbar_ppm - o_ppm) * (pbar_ppm - o_ppm))
                  // sum(n) AS BIGINT) AS rel_ppm2,
             CAST(sum(n * (o_ppm - tot.obar_ppm) * (o_ppm - tot.obar_ppm))
                  // sum(n) AS BIGINT) AS res_ppm2,
             max(tot.n_docs) AS n_docs,
             max(tot.obar_ppm) AS obar_ppm,
             max(tot.brier_ppm2) AS brier_ppm2
      FROM b2 CROSS JOIN tot
    )
    SELECT n_docs, brier_ppm2, rel_ppm2, res_ppm2,
           CAST(obar_ppm * (1000000 - obar_ppm) AS BIGINT) AS unc_ppm2,
           CAST(brier_ppm2 - (rel_ppm2 - res_ppm2
                + obar_ppm * (1000000 - obar_ppm)) AS BIGINT) AS wbv_ppm2
    FROM terms
    """,
)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score of the stopword-ratio
    forecast vs the long-doc label: raw Brier, reliability, resolution,
    uncertainty, and the within-bin-variance residual (ppm^2)."""
    return brier_decomposition_frame(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# text_charset_profile
# ---------------------------------------------------------------------------

# fixed ASCII-only classes — identical semantics in Java regex (Spark)
# and RE2 (DuckDB)
_CLASSES = (
    ("ascii", "[ -~]"),
    ("digit", "[0-9]"),
    ("alpha", "[A-Za-z]"),
    ("upper", "[A-Z]"),
    ("space", "[ ]"),
)


def charset_profile_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_charset_profile (scaling-probe entry)."""
    per_doc = docs.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        *[
            (
                F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))
            )
            .cast("bigint")
            .alias(f"n_{name}")
            for name, pat in _CLASSES
        ],
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        *[F.sum(f"n_{name}").cast("bigint").alias(f"s_{name}") for name, _ in _CLASSES],
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        *[
            F.expr(
                f"CAST((1000000 * s_{name}) div greatest(1, total_chars)"
                " AS BIGINT)"
            ).alias(f"{name}_ppm")
            for name, _ in _CLASSES
        ],
    ).orderBy("source")


def _charset_sql() -> str:
    counts = ", ".join(
        f"CAST(sum(length(text) - length(regexp_replace(text, '{pat}',"
        f" '', 'g'))) AS BIGINT) AS s_{name}"
        for name, pat in _CLASSES
    )
    ratios = ", ".join(
        f"CAST((1000000 * s_{name}) // greatest(1, total_chars) AS BIGINT)"
        f" AS {name}_ppm"
        for name, _ in _CLASSES
    )
    return f"""
    WITH agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS total_chars,
             {counts}
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_chars, {ratios}
    FROM agg ORDER BY source
    """


@query("text_charset_profile", oracle=_charset_sql())
def text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source charset hygiene: printable-ASCII / digit / letter /
    uppercase / space ratios in ppm of characters."""
    return charset_profile_frame(table(spark, sf_dir, "documents"))
