"""Round-8 wave-54 workload: quality_isotonic_calibration — the
pool-adjacent-violators (PAV) isotonic fit of the reliability diagram
that quality_calibration_bins reads out. The calibration family
DIAGNOSES miscalibration (per-bin gap, ECE, Brier decomposition);
isotonic regression is what a pipeline does NEXT — the standard
monotone recalibration map (Zadrozny-Elkan) that turns a raw
classifier score into an honest probability — and no other registered
query fits a shape-constrained model.

Method — PAV without iteration: the isotonic fit at bin i obeys the
minimax identity f_i = max_{j<=i} min_{k>=i} mean(y_{j..k}) (weighted
by bin counts), so over the BOUNDED bin frame (<=10 decile rows at any
corpus size) the whole fit is: prefix sums -> the O(m^2) interval
frame (j <= k, <=55 rows) -> per-(i,j) min over k -> per-i max. Every
interval mean is P/W from exact BIGINT prefix-sum differences, one
double division per interval — the same fixed IEEE op on both engines
— and min/max over those doubles is order-free, so the fit is
bit-deterministic with no recursion anywhere.

Scale shape: identical to quality_calibration_bins up to the bin
aggregate (one tokenize pass, one 10-key combinable aggregate); the
PAV algebra then lives entirely on the <=10-row bin frame — the
interval theta-join is the 10-row-cutoff shape (emb_rerank_pr_curve
precedent), never corpus-scaled. At 100 TB the only thing that grows
is the first aggregate's input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from .wave12 import _SQL_STOPS
from ..ops import text as X


def isotonic_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_isotonic_calibration (scaling-probe
    entry): PAV-fit the per-decile positive rate of the stopword-ratio
    score against the long-doc label (the quality_calibration_bins
    score/label pair)."""
    toks = X.tokens(F.col("text"))
    d = docs.select(
        X.stopword_count(F.col("text")).cast("bigint").alias("stp"),
        F.greatest(F.lit(1), F.size(toks)).cast("bigint").alias("ntok"),
        F.when(F.size(toks) >= 30, 1).otherwise(0).alias("pos"),
    ).select(
        F.least(
            F.lit(9), F.expr("CAST((1000000 * stp) div ntok AS BIGINT) div 100000")
        ).cast("int").alias("bin"),
        "pos",
    )
    b = d.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    # the bin frame is <=10 rows but fans out to FOUR consumers (both
    # theta-join sides, the per-i probe, and the output join): without
    # a checkpoint each consumer re-runs the corpus tokenize pass (the
    # r8 CC lesson — checkpoint the expensive input once)
    wb = b.select(
        "bin",
        "w",
        "p",
        F.expr("sum(w) OVER (ORDER BY bin)").cast("bigint").alias("cw"),
        F.expr("sum(p) OVER (ORDER BY bin)").cast("bigint").alias("cp"),
    ).localCheckpoint()
    jj = wb.select(
        F.col("bin").alias("jb"),
        (F.col("cw") - F.col("w")).alias("cw0"),
        (F.col("cp") - F.col("p")).alias("cp0"),
    )
    kk = wb.select(
        F.col("bin").alias("kb"),
        F.col("cw").alias("cwk"),
        F.col("cp").alias("cpk"),
    )
    ivl = jj.join(kk, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        F.expr("(cpk - cp0) * 1.0e0 / (cwk - cw0)").alias("ivl_mean"),
    )
    inner = (
        wb.select("bin")
        .join(ivl, (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")))
        .groupBy("bin", "jb")
        .agg(F.min("ivl_mean").alias("mn"))
    )
    fit = inner.groupBy("bin").agg(F.max("mn").alias("iso"))
    return (
        wb.join(fit, "bin")
        .select(
            "bin",
            F.col("w").alias("n"),
            F.col("p").alias("n_pos"),
            F.expr("CAST((1000000 * p) div w AS BIGINT)").alias("raw_rate_ppm"),
            F.expr("round(iso, 6)").alias("iso_rate"),
        )
        .orderBy("bin")
    )


@query(
    "quality_isotonic_calibration",
    oracle=f"""
    WITH d AS (
      SELECT CAST(least(9,
               (CAST((1000000 * {_SQL_STOPS.format(toks=_SQL_TOKS)})
                     // greatest(1, len({_SQL_TOKS})) AS BIGINT)) // 100000)
             AS INTEGER) AS bin,
             CASE WHEN len({_SQL_TOKS}) >= 30 THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS w,
             CAST(sum(pos) AS BIGINT) AS p
      FROM d GROUP BY 1
    ),
    wb AS (
      SELECT bin, w, p,
             CAST(sum(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
             CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM b
    ),
    ivl AS (
      SELECT j.bin AS jb, k.bin AS kb,
             (k.cp - (j.cp - j.p)) * 1.0e0 / (k.cw - (j.cw - j.w))
               AS ivl_mean
      FROM wb j JOIN wb k ON j.bin <= k.bin
    ),
    inner_min AS (
      SELECT i.bin, ivl.jb, min(ivl.ivl_mean) AS mn
      FROM wb i JOIN ivl ON ivl.jb <= i.bin AND ivl.kb >= i.bin
      GROUP BY i.bin, ivl.jb
    ),
    fit AS (SELECT bin, max(mn) AS iso FROM inner_min GROUP BY bin)
    SELECT wb.bin, wb.w AS n, wb.p AS n_pos,
           CAST((1000000 * wb.p) // wb.w AS BIGINT) AS raw_rate_ppm,
           round(fit.iso, 6) AS iso_rate
    FROM wb JOIN fit ON wb.bin = fit.bin
    ORDER BY wb.bin
    """,
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the stopword-ratio reliability
    diagram via the minimax identity on the decile bin frame: per-bin
    counts, raw positive rate, and the monotone fitted rate."""
    return isotonic_frame(table(spark, sf_dir, "documents"))
