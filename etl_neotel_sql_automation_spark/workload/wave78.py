"""Round-10 wave-78 workload: dedup_embedding_capture_recapture — the
wave-71 Chapman capture-recapture audit transplanted to the remaining
heavy dedup ladder (r9 VERDICT #4): the 16-table hyperplane-LSH
embedding near-dup index (dedup_embedding_cosine). MinHash (wave71)
and pHash (wave73) ladders already self-audit their coverage; this
closes the set, so every banded-LSH family in the repo can report, at
100 TB and without brute-force truth, how many near-dup pairs its
index is estimated to have missed.

Occasions: the 16 LSH tables split into two DISJOINT banks — tables
0-7 (capture occasion A) vs 8-15 (occasion B). Each table's buckets
come from a disjoint 4-plane slice of the global hyperplane family
(ops/similarity.py multi_table_buckets), so the two banks' catches are
conditionally independent given a pair's cosine — the estimator's
assumption, same argument as wave71's split MinHash signature.

Determinism: bucket ids are exact-integer hyperplane projections over
quantized embeddings (bit-identical in DuckDB via the same inlined
sign literals), verification is the exact round-6 cosine at the
dedup_embedding_cosine threshold, and the estimator layer is shared
integer floor-div (wave71.chapman_frame / CHAPMAN_SQL_TAIL).

Scale shape: ONE banded self-join for candidates (bucket equi-joins
only — never all-pairs), verification joins bounded by the candidate
set, estimator is a 1-row aggregate — the standard LSH ladder with a
capture column riding along for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops import similarity as S
from ..ops.dedup import fan_out
from .llm_ops import _SQL_QV, _sql_bucket
from .wave71 import CHAPMAN_SQL_TAIL, chapman_frame

_THRESHOLD = 0.35  # the dedup_embedding_cosine near-dup threshold
_TABLES = 16
_PLANES = 4
_SPLIT_T = 8  # tables 0-7 = occasion A, 8-15 = occasion B


def emb_capture_recapture_frame(
    emb: DataFrame, planes_per_table: int = _PLANES
) -> DataFrame:
    """Frame core of dedup_embedding_capture_recapture (scaling-probe
    entry). ``planes_per_table`` is the same 100 TB knob as
    lsh_near_dup_pairs': bucket count (2^planes) must scale with the
    corpus or buckets go quadratic — the ann probe's 10x leg measured
    262 s at 50k random vectors under the fixed 4-plane default vs
    seconds with the scaled planes the near-dup ladder itself uses.
    The registered query keeps the default so the oracle's inlined
    sign literals match."""
    banded = S.multi_table_buckets(
        fan_out(emb), tables=_TABLES, planes_per_table=planes_per_table
    ).select("id", "t", "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.max(F.when(F.col("a.t") < _SPLIT_T, 1).otherwise(0))
            .cast("bigint")
            .alias("cap_a"),
            F.max(F.when(F.col("a.t") >= _SPLIT_T, 1).otherwise(0))
            .cast("bigint")
            .alias("cap_b"),
        )
        # candidates feed the two vector joins below; checkpoint once so
        # the banded self-join tree isn't recomputed per consumer (the
        # wave71 lesson)
        .localCheckpoint()
    )
    ea = S.unit(emb, "embedding", "a").select(F.col("vec_id").alias("id_a"), "av", "an")
    eb = S.unit(emb, "embedding", "b").select(F.col("vec_id").alias("id_b"), "bv", "bn")
    dup = (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .filter(S.cos6("a", "b") >= _THRESHOLD)
        .select("cap_a", "cap_b")
    )
    return chapman_frame(dup)


def _emb_cr_oracle() -> str:
    signs = S.hyperplane_signs(64, _TABLES * _PLANES)
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, "
        + _sql_bucket(signs[t * _PLANES : (t + 1) * _PLANES])
        + " AS bucket FROM e"
        for t in range(_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    bands AS ({band_rows}),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(max(CASE WHEN a.t < {_SPLIT_T} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cap_a,
             CAST(max(CASE WHEN a.t >= {_SPLIT_T} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cap_b
      FROM bands a JOIN bands b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    dup AS (
      SELECT cap_a, cap_b
      FROM pairs
      JOIN e ea ON pairs.id_a = ea.vec_id
      JOIN e eb ON pairs.id_b = eb.vec_id
      WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {_THRESHOLD}
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_caught,
             CAST(coalesce(sum(cap_a), 0) AS BIGINT) AS n1,
             CAST(coalesce(sum(cap_b), 0) AS BIGINT) AS n2,
             CAST(coalesce(sum(cap_a * cap_b), 0) AS BIGINT) AS m_both
      FROM dup
    )
    {CHAPMAN_SQL_TAIL}
    """


@query("dedup_embedding_capture_recapture", oracle=_emb_cr_oracle())
def dedup_embedding_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture audit of the hyperplane-LSH embedding dedup
    index: the 16 LSH tables as two disjoint 8-table capture occasions
    over exact-cosine-verified near-dup pairs; Lincoln-Petersen and
    Chapman population estimates, implied missed pairs, and catch
    coverage (ppm) — the self-audit a 100 TB embedding-dedup run can
    compute about itself without brute-force ground truth."""
    return emb_capture_recapture_frame(table(spark, sf_dir, "embeddings"))
