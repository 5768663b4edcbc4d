"""Round-8 wave-71 workload: dedup_capture_recapture — "how many
duplicate pairs did the LSH MISS?", answered with the wildlife
statistician's tool: Lincoln-Petersen / Chapman capture-recapture.
The dedup family measures recall against brute force at small scale
(dedup_minhash_quality) — unobtainable at 100 TB; capture-recapture
needs NO brute-force truth: split the 32-perm MinHash signature into
two DISJOINT 16-hash halves (bands 0-3 vs 4-7), treat each half's
banded-LSH catch of exact-verified duplicates as an independent
capture occasion, and estimate the total duplicate population from
the overlap: N_hat = n1*n2/m (Chapman: (n1+1)(n2+1)/(m+1) - 1).
Disjoint permutations make the occasions conditionally independent
given a pair's Jaccard — the assumption the estimator needs — and
the implied missed-pair count and coverage are the audit numbers a
100 TB dedup run can actually produce about itself.

Determinism: the md5 hash family (bit-identical signatures on both
engines), token-Jaccard verification at the incremental-dedup 0.5
threshold in floor-div ppm, and the estimators in exact integer
floor-div (all operands non-negative).

Scale shape: ONE signature pipeline (banded_buckets), one
bucket-equi-join for candidates, verification joins bounded by the
candidate set — the standard LSH ladder; the estimator layer is a
1-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops import dedup as D
from ..ops import text as X
from .llm_ops import _minhash_band_ctes

_JACC_PPM = 500_000  # the incremental-dedup 0.5 threshold
_SPLIT_BAND = D.BANDS // 2  # bands 0-3 = occasion A (h0-15), 4-7 = B (h16-31)


def capture_recapture_frame(docs: DataFrame) -> DataFrame:
    """Frame core of dedup_capture_recapture (scaling-probe entry)."""
    bb = D.banded_buckets(docs, hash_fn="md5")
    x, y = bb.alias("x"), bb.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(
            F.max(
                F.when(F.col("x.band") < _SPLIT_BAND, 1).otherwise(0)
            ).cast("bigint").alias("cap_a"),
            F.max(
                F.when(F.col("x.band") >= _SPLIT_BAND, 1).otherwise(0)
            ).cast("bigint").alias("cap_b"),
        )
        # candidates feed BOTH the verification chain and the final
        # capture join: checkpoint once or the signature+self-join tree
        # recomputes per consumer (the split_cluster_routing lesson —
        # 301 -> 41 s at its 100x probe)
        .localCheckpoint()
    )
    # Verification (r8 VERDICT #2 — the bounded chain): two output-
    # invariant prunes BEFORE any per-pair token work, then the exact
    # intersection from per-document token ARRAYS (one array_intersect
    # per surviving pair) instead of the token-explode equi-join the
    # r8 100x probe showed dominating this audit (96 s leg).
    #   1. length filter: J <= min/max, so J >= t forces
    #      1e6*min(sa, sb) >= _JACC_PPM*max(sa, sb) — exact-integer,
    #      DERIVED from the threshold constant (loses no qualifying
    #      pair at any t; the jaccard_prefix_pairs lemma);
    #   2. n_inter >= 1 mirrors the old inner join against the
    #      exploded-intersection frame (and guards the ANSI div when
    #      both token sets are empty).
    # The floor-div ppm test is equivalent to exact J >= 1/2
    # (floor(x/u) >= k <=> x >= k*u), so the Chapman outputs — and the
    # oracle, which keeps the explode-join verification — are unchanged.
    toks = F.array_distinct(X.tokens(F.lower(F.col("text"))))
    sets = docs.select(
        F.col("doc_id").alias("id"),
        toks.alias("toks"),
        F.size(toks).alias("sz"),
    )
    sizes = sets.select("id", "sz")
    pruned = (
        pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .filter(
            (1_000_000 * F.col("sa") >= _JACC_PPM * F.col("sb"))
            & (1_000_000 * F.col("sb") >= _JACC_PPM * F.col("sa"))
        )
    )
    dup = (
        pruned.join(
            sets.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b")),
            "id_b",
        )
        .select(
            "cap_a",
            "cap_b",
            "sa",
            "sb",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
        )
        .filter(F.col("n_inter") >= 1)
        .filter(
            F.expr(
                "(1000000 * n_inter) div (sa + sb - n_inter)"
                f" >= {_JACC_PPM}"
            )
        )
        .select("cap_a", "cap_b")
    )
    return chapman_frame(dup)


def chapman_frame(dup: DataFrame) -> DataFrame:
    """The shared capture-recapture estimator layer: fold a frame of
    exact-verified duplicate pairs carrying (cap_a, cap_b) occasion
    flags into the 1-row Lincoln-Petersen / Chapman readout. Exact
    integer floor-div throughout (all operands non-negative). Reused by
    the pHash (wave73) and embedding-LSH (wave78) ladders."""
    t = dup.agg(
        F.count("*").cast("bigint").alias("n_caught"),
        F.coalesce(F.sum("cap_a"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("cap_b"), F.lit(0)).cast("bigint").alias("n2"),
        F.coalesce(F.sum(F.col("cap_a") * F.col("cap_b")), F.lit(0))
        .cast("bigint")
        .alias("m_both"),
    )
    chap = "((n1 + 1) * (n2 + 1) div (m_both + 1) - 1)"
    return t.select(
        "n_caught",
        "n1",
        "n2",
        "m_both",
        F.expr(
            "CAST(CASE WHEN m_both > 0 THEN (n1 * n2) div m_both END"
            " AS BIGINT)"
        ).alias("petersen_est"),
        F.expr(f"CAST({chap} AS BIGINT)").alias("chapman_est"),
        F.expr(
            f"CAST(greatest({chap} - n_caught, 0) AS BIGINT)"
        ).alias("est_missed"),
        F.expr(
            f"CAST(CASE WHEN {chap} > 0"
            f" THEN (1000000 * n_caught) div {chap} ELSE 1000000 END"
            " AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# DuckDB twin of chapman_frame's SELECT, over an `agg` CTE carrying
# (n_caught, n1, n2, m_both) — shared by the wave71/wave78 oracles.
CHAPMAN_SQL_TAIL = """
    SELECT n_caught, n1, n2, m_both,
           CAST(CASE WHEN m_both > 0 THEN (n1 * n2) // m_both END
                AS BIGINT) AS petersen_est,
           CAST((n1 + 1) * (n2 + 1) // (m_both + 1) - 1 AS BIGINT)
             AS chapman_est,
           CAST(greatest((n1 + 1) * (n2 + 1) // (m_both + 1) - 1
                - n_caught, 0) AS BIGINT) AS est_missed,
           CAST(CASE WHEN (n1 + 1) * (n2 + 1) // (m_both + 1) - 1 > 0
                THEN (1000000 * n_caught)
                     // ((n1 + 1) * (n2 + 1) // (m_both + 1) - 1)
                ELSE 1000000 END AS BIGINT) AS coverage_ppm
    FROM agg
    """


def _cr_oracle() -> str:
    return f"""
    WITH {_minhash_band_ctes("doc_id AS id", "documents", "", 12)},
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(max(CASE WHEN a.band < {_SPLIT_BAND} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cap_a,
             CAST(max(CASE WHEN a.band >= {_SPLIT_BAND} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cap_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    tok AS (
      SELECT doc_id AS id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> ''))) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM pairs c
      JOIN tok a ON a.id = c.id_a
      JOIN tok b ON b.id = c.id_b AND a.tok = b.tok
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT cap_a, cap_b
      FROM pairs
      JOIN inter USING (id_a, id_b)
      JOIN sizes sa ON sa.id = pairs.id_a
      JOIN sizes sb ON sb.id = pairs.id_b
      WHERE (1000000 * n_inter) // (sa.sz + sb.sz - n_inter)
            >= {_JACC_PPM}
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


@query("dedup_capture_recapture", oracle=_cr_oracle())
def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture audit of MinHash-LSH dedup: the two disjoint
    signature halves as capture occasions over exact-verified
    duplicate pairs; Lincoln-Petersen and Chapman population
    estimates, implied missed pairs, and catch coverage (ppm)."""
    return capture_recapture_frame(table(spark, sf_dir, "documents"))
