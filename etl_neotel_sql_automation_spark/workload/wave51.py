"""Round-8 wave-51 workload: quality_roc_auc — the exact,
tie-corrected ROC AUC of the hashed linear quality classifier
(quality_hashed_classifier's integer logit) against an is-English
label. AUC is THE gate metric for pretraining-data classifiers
(CCNet / LLaMA-style "looks like reference text" filters are tuned on
it), and no other registered query computes a rank-based
discrimination measure: the calibration family (quality_calibration_
bins / brier) scores probability estimates, Kruskal-Wallis ranks
k groups — this is the binary ranking readout, computed exactly.

Method: the Mann-Whitney identity. AUC = P(score_pos > score_neg)
+ 1/2 P(tie) = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) where
R_pos is the positives' rank sum under AVERAGE ranks for ties. House
determinism: integer logits make ranking exact; average ranks carried
doubled (avgrank_x2, the agg_kruskal_wallis precedent) so every
component — rank sums, the U statistic — is an exact integer in
DECIMAL(38,0)/HUGEINT (rank sums grow as N^2: BIGINT would overflow
near 3e9 docs, decimal holds past any corpus). Only the final
auc/gini are doubles, one fixed closed form each, round(6).

Scale shape: one tokenize+hash projection (shared expression with
quality_hashed_classifier), a score-keyed combinable aggregate (group
count + positive count per distinct logit), one running-sum window
ordered by score (distinct-logit cardinality, bounded by the weight
range x max doc length, NOT corpus size), and a 1-row total — the
same ladder the Kruskal query rides at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, _SQL_TOKS, query, table
from .curation import hashed_logit, sql_hashed_logit
from ..ops import text as X


def roc_auc_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_roc_auc (scaling-probe entry): exact AUC
    of the hashed-classifier logit against label = (lang = 'en')."""
    scored = docs.select(
        hashed_logit(X.tokens("text")).alias("score"),
        (F.col("lang") == "en").cast("long").alias("label"),
    )
    cv = scored.groupBy("score").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("label").cast("bigint").alias("pos_cnt"),
    )
    r = cv.select(
        "pos_cnt",
        F.expr(
            "CAST(2 * (sum(cnt) OVER (ORDER BY score) - cnt) + cnt + 1"
            f" AS {_DEC})"
        ).alias("avgrank_x2"),
        "cnt",
    )
    tot = r.agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.sum("pos_cnt").cast("bigint").alias("n_pos"),
        F.sum(F.expr(f"CAST(pos_cnt AS {_DEC}) * avgrank_x2"))
        .cast(_DEC)
        .alias("rank_sum_pos_x2"),
    )
    u_x2 = (
        f"(rank_sum_pos_x2 - CAST(n_pos AS {_DEC}) * (n_pos + 1))"
    )
    return tot.select(
        "n_docs",
        "n_pos",
        F.expr("CAST(n_docs - n_pos AS BIGINT)").alias("n_neg"),
        # exact in DECIMAL internally; emitted BIGINT (holds to ~3e9
        # docs — the kruskal output precedent; hash tags must match
        # DuckDB's BIGINT int, not Decimal->float)
        F.col("rank_sum_pos_x2").cast("bigint").alias("rank_sum_pos_x2"),
        F.expr(f"CAST({u_x2} AS BIGINT)").alias("u_stat_x2"),
        F.expr(
            f"round(CAST({u_x2} AS DOUBLE)"
            f" / (2.0e0 * n_pos * (n_docs - n_pos)), 6)"
        ).alias("auc"),
        F.expr(
            f"round(CAST({u_x2} AS DOUBLE)"
            f" / (n_pos * 1.0e0 * (n_docs - n_pos)) - 1.0e0, 6)"
        ).alias("gini"),
    )


@query(
    "quality_roc_auc",
    oracle=f"""
    WITH scored AS (
      SELECT {sql_hashed_logit(_SQL_TOKS)} AS score,
             CAST(lang = 'en' AS BIGINT) AS label
      FROM documents
    ),
    cv AS (
      SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS pos_cnt
      FROM scored GROUP BY score
    ),
    r AS (
      SELECT pos_cnt, cnt,
             CAST(2 * (sum(cnt) OVER (ORDER BY score) - cnt) + cnt + 1
                  AS HUGEINT) AS avgrank_x2
      FROM cv
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
             CAST(sum(CAST(pos_cnt AS HUGEINT) * avgrank_x2) AS HUGEINT)
               AS rank_sum_pos_x2
      FROM r
    )
    SELECT n_docs, n_pos,
           CAST(n_docs - n_pos AS BIGINT) AS n_neg,
           CAST(rank_sum_pos_x2 AS BIGINT) AS rank_sum_pos_x2,
           CAST(rank_sum_pos_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                AS BIGINT) AS u_stat_x2,
           round(CAST(rank_sum_pos_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                      AS DOUBLE)
                 / (2.0e0 * n_pos * (n_docs - n_pos)), 6) AS auc,
           round(CAST(rank_sum_pos_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                      AS DOUBLE)
                 / (n_pos * 1.0e0 * (n_docs - n_pos)) - 1.0e0, 6) AS gini
    FROM tot
    """,
)
def quality_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC (Mann-Whitney rank form) of the
    hashed quality-classifier logit against the is-English label:
    class counts, the positives' average-rank sum and U statistic as
    exact integers, and the AUC / Gini coefficient."""
    return roc_auc_frame(table(spark, sf_dir, "documents"))
