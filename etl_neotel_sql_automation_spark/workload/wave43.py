"""Round-8 wave-43 workload: train/eval split leakage audit — the
composition of two registered operators the pipeline runs separately
(banded MinHash-LSH near-dup candidates x the deterministic md5
90/5/5 split): how many near-duplicate pairs STRADDLE a split
boundary? A near-dup of a training document sitting in eval/test is
silent contamination — the benchmark answer is in the training set —
and the standard fix (route whole dup CLUSTERS to one split) starts
from exactly this table. decontaminate_* audits the corpus against an
EXTERNAL eval set; this audits the corpus's own held-out split.

Output: one row per unordered split pair (split_lo <= split_hi
lexicographically) with the candidate-pair count, its observed share
(ppm), and the share expected under hash-independence (pinned
literals from the 90/5/5 fractions: a dup pair lands cross-split in
proportion to 2*pa*pb) — observed >> expected on the diagonal is just
"dups exist"; any mass on the train x holdout rows is the leak. The
pooled columns repeat the total and the cross-split leak share.

Determinism: the candidate generator is the bit-exact md5 MinHash
pipeline (dedup_minhash_candidates' oracle replays it); the split is
the md5-bucket assignment of split_train_eval; shares are floor-div
ppm. Scale shape: the LSH bucket self-join is the production dedup
pass already priced (ops/dedup.py); the audit adds two md5 buckets
per pair and one <=6-key combinable aggregate with pooled windows
over the 6-row frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops import dedup as D
from ..ops.hashing import hash_split, sql_hash_split
from .llm_ops import _minhash_oracle

# expected cross-split shares under hash-independence, ppm (90/5/5):
# pair (a, b) a != b -> 2 * pa * pb; diagonal -> pa^2
_SPLIT_FRAC = {"train": 90, "eval": 5, "test": 5}
_EXPECTED_PPM = {
    # (fa/100) * (fb/100) * 1e6 = fa * fb * 100 ppm
    tuple(sorted((a, b))): (
        fa * fb * 100 if a == b else 2 * fa * fb * 100
    )
    for a, fa in _SPLIT_FRAC.items()
    for b, fb in _SPLIT_FRAC.items()
}


def _expected_case(lo: str, hi: str) -> str:
    whens = " ".join(
        f"WHEN {lo} = '{a}' AND {hi} = '{b}'"
        f" THEN CAST({ppm} AS BIGINT)"
        for (a, b), ppm in sorted(_EXPECTED_PPM.items())
    )
    return f"(CASE {whens} ELSE CAST(0 AS BIGINT) END)"


def split_leakage_frame(docs: DataFrame) -> DataFrame:
    """Frame core of split_leakage_audit (scaling-probe entry)."""
    cand = D.minhash_lsh_candidates(docs, hash_fn="md5").select(
        "id_a", "id_b"
    )
    pairs = cand.select(
        F.least(hash_split("id_a"), hash_split("id_b")).alias("split_lo"),
        F.greatest(hash_split("id_a"), hash_split("id_b")).alias("split_hi"),
    )
    g = pairs.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    return g.select(
        "split_lo",
        "split_hi",
        "n_pairs",
        F.expr(
            "CAST((1000000 * n_pairs) div (sum(n_pairs) OVER ())"
            " AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(_expected_case("split_lo", "split_hi")).alias(
            "expected_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("is_cross"),
        F.expr("CAST(sum(n_pairs) OVER () AS BIGINT)").alias(
            "total_pairs"
        ),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN split_lo <> split_hi"
            " THEN n_pairs ELSE 0 END) OVER ())"
            " div (sum(n_pairs) OVER ()) AS BIGINT)"
        ).alias("cross_ppm"),
    ).orderBy("split_lo", "split_hi")


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH cand AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    lab AS (
      SELECT {sql_hash_split("id_a")} AS sa, {sql_hash_split("id_b")} AS sb
      FROM cand
    ),
    p AS (
      SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi
      FROM lab
    ),
    g AS (
      SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY 1, 2
    )
    SELECT split_lo, split_hi, n_pairs,
           CAST((1000000 * n_pairs) // (sum(n_pairs) OVER ()) AS BIGINT)
             AS share_ppm,
           {_expected_case("split_lo", "split_hi")} AS expected_ppm,
           CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END
                AS BIGINT) AS is_cross,
           CAST(sum(n_pairs) OVER () AS BIGINT) AS total_pairs,
           CAST((1000000 * sum(CASE WHEN split_lo <> split_hi
                                    THEN n_pairs ELSE 0 END) OVER ())
                // (sum(n_pairs) OVER ()) AS BIGINT) AS cross_ppm
    FROM g ORDER BY split_lo, split_hi
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup contamination across the 90/5/5 md5 split: MinHash-LSH
    candidate pairs bucketed by the split pair they straddle, observed
    vs hash-independent expected shares, pooled cross-split leak ppm."""
    return split_leakage_frame(table(spark, sf_dir, "documents"))
