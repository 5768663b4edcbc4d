"""Round-6 wave-28 workload: the MinHash-LSH S-curve — the tuning
curve behind every (num_hashes, bands) choice, MEASURED on this corpus
and compared per-bucket against the analytic collision probability
1 - (1 - s^r)^b. dedup_minhash_quality reports one recall number at
the 0.5 threshold; this shows the whole curve: per Jaccard decile, how
many co-shingle pairs exist, how many LSH actually flagged, and what
theory says it should flag. Where the measured ppm hugs the analytic
column, the sketch behaves; where it sags, the corpus is telling you
its shingle sets are too small for 32 hashes.

Determinism: exact shingle-Jaccard per pair (the quality meter's
ground-truth machinery verbatim), md5 minhash candidates (the
registered oracle-replayable hash), decile bucketing on the round-6
Jaccard, analytic ppm from pinned literals both engines evaluate
identically.

Scale: pairs come from the shingle inverted-index join (bounded by
co-shingle pairs, never |docs|^2); the curve is a 10-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import dedup as D
from .llm_ops import _minhash_oracle

# the candidates' MinHash shape: b bands of r rows each
_SC_BANDS = D.BANDS
_SC_ROWS = D.NUM_HASHES // D.BANDS


@query(
    "dedup_minhash_s_curve",
    oracle=f"""
    WITH sh0 AS (
      SELECT doc_id AS id,
             unnest(CASE WHEN len({_SQL_TOKS}) >= 3 THEN
                 list_distinct(list_transform(
                     range(1, greatest(len({_SQL_TOKS}) - 2, 0) + 1),
                     i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 2), ' ')))
                 ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM sh0 GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh0 a JOIN sh0 b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    jpairs AS (
      SELECT id_a, id_b,
             CAST(least(floor(round(n_inter * 1.0e0
                              / (sa.sz + sb.sz - n_inter), 6) * 10), 9)
                  AS INTEGER) AS bucket
      FROM inter
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
    ),
    cand AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    curve AS (
      SELECT j.bucket,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(c.id_a) AS BIGINT) AS n_flagged
      FROM jpairs j LEFT JOIN cand c USING (id_a, id_b)
      GROUP BY j.bucket
    )
    SELECT bucket, n_pairs, n_flagged,
           CAST((1000000 * n_flagged) // n_pairs AS BIGINT) AS measured_ppm,
           CAST(round((1.0e0 - pow(1.0e0 - pow((bucket + 0.5e0) / 10.0e0,
                                               {_SC_ROWS}),
                                   {_SC_BANDS})) * 1.0e6) AS BIGINT)
             AS analytic_ppm
    FROM curve ORDER BY bucket
    """,
)
def dedup_minhash_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH S-curve: per Jaccard decile, co-shingle pairs, LSH-
    flagged pairs, measured collision ppm, and the analytic
    1-(1-s^4)^8 at the bucket midpoint."""
    return minhash_s_curve_frame(table(spark, sf_dir, "documents"))


def minhash_s_curve_frame(docs: DataFrame) -> DataFrame:
    """Frame core of dedup_minhash_s_curve (scaling-probe entry)."""
    sh = docs.select(F.col("doc_id").alias("id"), F.explode(D.shingles("text", 3)).alias("el"))
    jpairs = D.overlap_pairs(sh).select(
        "id_a",
        "id_b",
        F.least(F.floor(D.jaccard6("n_inter", "sz_a", "sz_b") * 10), F.lit(9))
        .cast("int")
        .alias("bucket"),
    )
    cand = D.minhash_lsh_candidates(docs, hash_fn="md5").select(
        "id_a", "id_b", F.lit(1).alias("flagged")
    )
    curve = (
        jpairs.join(cand, ["id_a", "id_b"], "left")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.count("flagged").cast("bigint").alias("n_flagged"),
        )
    )
    return curve.select(
        "bucket",
        "n_pairs",
        "n_flagged",
        F.expr("CAST((1000000 * n_flagged) div n_pairs AS BIGINT)").alias(
            "measured_ppm"
        ),
        F.expr(
            f"CAST(round((1.0e0 - power(1.0e0 -"
            f" power((bucket + 0.5e0) / 10.0e0, {_SC_ROWS}),"
            f" {_SC_BANDS})) * 1.0e6) AS BIGINT)"
        ).alias("analytic_ppm"),
    ).orderBy("bucket")
