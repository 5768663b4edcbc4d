"""Round-8 wave-46 workload: quality_conformal_bounds — split-conformal
prediction intervals over the corpus's own 90/5/5 md5 split (the third
consumer of the split_train_eval assignment, after the split itself and
wave-43's leakage audit): fit a trivial predictor on TRAIN (per-source
mean document length), take the conformal quantile q_hat of the
absolute residuals on a CALIBRATION subsample of EVAL, and audit the
guarantee where it matters — the share of TEST documents whose
residual falls within q_hat, against the nominal 90% target. The
distribution-free coverage guarantee (>= ceil(0.9(n+1))/(n+1) under
exchangeability) is the whole point of conformal calibration; this
table is how a pipeline VERIFIES it held on data it didn't calibrate
on.

Determinism: residuals in exact milli-chars (the train mean is a
floor-div milli integer, so residuals are integers); q_hat is the
k-th smallest calibration residual with k = ceil(0.9 * (n_cal + 1))
capped at n_cal — a pure integer order statistic (the VALUE needs no
tiebreak; the rank walk orders by (r, doc_id) anyway so both engines
pick the identical row); coverage in floor-div ppm.

Scale shape: three scans of documents (train moment aggregate, the
calibration subsample, test residuals — each a combinable aggregate or
a broadcast-size join against the |sources|-row mean table). The
calibration order statistic is a global rank — bounded by the md5
mod-4 subsample of the 5% eval split (the sampled-twin house pattern:
conformal quantiles are statistically stable at thousands of scores,
so at 100 TB you tighten the modulus until the calibration set fits
one task; the registered query IS the sampled shape, not an asserted
recipe)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import query, table
from ..ops.hashing import hash_split, md5_long, sql_hash_split, sql_md5_long

_CB_CAL_MOD = 4  # calibration = md5 hash-sample of the eval split
_CB_ALPHA_NUM, _CB_ALPHA_DEN = 9, 10  # 90% nominal coverage


def conformal_bounds_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_conformal_bounds (scaling-probe entry)."""
    base = docs.select(
        "doc_id", "source", "n_chars", hash_split("doc_id").alias("split")
    )
    mu = (
        base.filter(F.col("split") == "train")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.expr(
                "CAST((1000 * sum(n_chars)) div count(*) AS BIGINT)"
            ).alias("mean_milli"),
        )
    )
    resid = "abs(CAST(n_chars AS BIGINT) * 1000 - mean_milli)"
    cal = (
        base.filter(F.col("split") == "eval")
        .filter(md5_long(F.col("doc_id")) % _CB_CAL_MOD == 0)
        # no broadcast hint: |sources| is corpus-scaled (domains), so
        # the mean-table join is AQE's call, not a pinned broadcast
        .join(mu.select("source", "mean_milli"), "source")
        .select("doc_id", F.expr(f"CAST({resid} AS BIGINT)").alias("r"))
    )
    ranked = cal.select(
        "r",
        F.row_number().over(W.orderBy("r", "doc_id")).alias("rk"),
        F.count("*").over(W.partitionBy()).cast("bigint").alias("n_cal"),
    )
    # 1-row by construction (rank equality) — materialized through an
    # ungrouped aggregate so the broadcast below is structurally bounded
    qhat = (
        ranked.filter(
            F.expr(
                f"rk = least(CAST(ceil(({_CB_ALPHA_NUM} * (n_cal + 1))"
                f" / {_CB_ALPHA_DEN}) AS BIGINT), n_cal)"
            )
        )
        .agg(
            F.min("r").cast("bigint").alias("q_hat_milli"),
            F.min("n_cal").cast("bigint").alias("n_cal"),
        )
    )
    test = (
        base.filter(F.col("split") == "test")
        .join(mu, "source")
        .crossJoin(F.broadcast(qhat))  # 1 row by construction
        .groupBy("source")
        .agg(
            F.max("n_train").cast("bigint").alias("n_train"),
            F.max("mean_milli").cast("bigint").alias("train_mean_milli"),
            F.max("q_hat_milli").cast("bigint").alias("q_hat_milli"),
            F.max("n_cal").cast("bigint").alias("n_cal"),
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.expr(f"CASE WHEN {resid} <= q_hat_milli THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return test.select(
        "source",
        "n_train",
        "train_mean_milli",
        "q_hat_milli",
        "n_cal",
        "n_test",
        "n_covered",
        F.expr(
            "CAST((1000000 * n_covered) div n_test AS BIGINT)"
        ).alias("coverage_ppm"),
        F.expr(
            "CAST((1000000 * sum(n_covered) OVER ())"
            " div (sum(n_test) OVER ()) AS BIGINT)"
        ).alias("pooled_coverage_ppm"),
    ).orderBy("source")


@query(
    "quality_conformal_bounds",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             {sql_hash_split("doc_id")} AS split
      FROM documents
    ),
    mu AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_train,
             CAST((1000 * sum(n_chars)) // count(*) AS BIGINT)
               AS mean_milli
      FROM base WHERE split = 'train' GROUP BY source
    ),
    cal AS (
      SELECT b.doc_id,
             CAST(abs(CAST(b.n_chars AS BIGINT) * 1000 - mu.mean_milli)
                  AS BIGINT) AS r
      FROM base b JOIN mu USING (source)
      WHERE b.split = 'eval'
        AND {sql_md5_long("b.doc_id")} % {_CB_CAL_MOD} = 0
    ),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_cal
      FROM cal
    ),
    qhat AS (
      SELECT CAST(min(r) AS BIGINT) AS q_hat_milli,
             CAST(min(n_cal) AS BIGINT) AS n_cal
      FROM ranked
      WHERE rk = least(CAST(ceil(({_CB_ALPHA_NUM} * (n_cal + 1))
                            / {_CB_ALPHA_DEN}) AS BIGINT), n_cal)
    ),
    test AS (
      SELECT b.source,
             CAST(max(mu.n_train) AS BIGINT) AS n_train,
             CAST(max(mu.mean_milli) AS BIGINT) AS train_mean_milli,
             CAST(max(q.q_hat_milli) AS BIGINT) AS q_hat_milli,
             CAST(max(q.n_cal) AS BIGINT) AS n_cal,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN abs(CAST(b.n_chars AS BIGINT) * 1000
                                    - mu.mean_milli) <= q.q_hat_milli
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM base b JOIN mu USING (source) CROSS JOIN qhat q
      WHERE b.split = 'test'
      GROUP BY b.source
    )
    SELECT source, n_train, train_mean_milli, q_hat_milli, n_cal,
           n_test, n_covered,
           CAST((1000000 * n_covered) // n_test AS BIGINT)
             AS coverage_ppm,
           CAST((1000000 * sum(n_covered) OVER ())
                // (sum(n_test) OVER ()) AS BIGINT)
             AS pooled_coverage_ppm
    FROM test ORDER BY source
    """,
)
def quality_conformal_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval audit over the md5 90/5/5 split:
    per-source train mean predictor, the 90% conformal residual
    quantile from a hash-subsampled eval calibration set, and the
    realized coverage on test (per source + pooled, ppm)."""
    return conformal_bounds_frame(table(spark, sf_dir, "documents"))
