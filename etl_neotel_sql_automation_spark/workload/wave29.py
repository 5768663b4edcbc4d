"""Round-6 wave-29 workloads: change accounting and masking prep —
price-volume-mix decomposition (the FP&A classic: revenue moved from
1997 to 1998 — how much of the change is volume, how much is average-
order-value, per priority segment, with the decomposition identity
exact in cents), and MLM masking statistics (BERT-style 15% token
masking with the 80/10/10 mask/random/keep split, driven by the
cross-engine md5 hash so the "random" choices replay bit-identically —
the audit a pretraining data pipeline runs before shipping masked
batches).

Determinism rules (house style): the volume effect uses integer
cents with per-segment floor divisions ONLY at the final ppm
readouts — the cent-level decomposition identity
(delta = volume + value effects) is exact by construction because the
value effect is defined as the remainder; masking decisions are md5
threshold comparisons on (doc_id, position).

Scale notes: the decomposition is one segment-keyed conditional
aggregate; masking stats are one tokenize pass with per-token hash
arithmetic into per-source aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from ..ops.hashing import md5_long, sql_md5_long

# ---------------------------------------------------------------------------
# orders_price_volume_mix — per priority segment: 1997 vs 1998
# revenue, order counts, average order values (floor cents), the
# volume effect (count change at base AOV, exact cents) and the value
# effect DEFINED as the remainder so
# volume_effect + value_effect = delta exactly.
# ---------------------------------------------------------------------------


@query(
    "orders_price_volume_mix",
    oracle="""
    WITH seg AS (
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN year(o_orderdate) = 1997
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS rev0,
             CAST(sum(CASE WHEN year(o_orderdate) = 1998
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS rev1,
             CAST(sum(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0,
             CAST(sum(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n0, n1, rev0, rev1,
           CAST(rev1 - rev0 AS BIGINT) AS delta_cents,
           CAST((n1 - n0) * (rev0 // n0) AS BIGINT) AS volume_effect_cents,
           CAST((rev1 - rev0) - (n1 - n0) * (rev0 // n0) AS BIGINT)
             AS value_effect_cents,
           CAST((1000000 * rev1) // rev0 - 1000000 AS BIGINT)
             AS growth_ppm
    FROM seg ORDER BY o_orderpriority
    """,
)
def orders_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of 1997 -> 1998 revenue change
    per priority: exact-cent volume effect at base AOV, value effect
    as the exact remainder, growth ppm."""
    return pvm_frame(table(spark, sf_dir, "orders"))


def pvm_frame(orders: DataFrame) -> DataFrame:
    """Frame core of orders_price_volume_mix (scaling-probe entry)."""
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    seg = (
        orders.filter(F.expr("year(o_orderdate) IN (1997, 1998)"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN year(o_orderdate) = 1997 THEN {cents}"
                    " ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("rev0"),
            F.sum(
                F.expr(
                    f"CASE WHEN year(o_orderdate) = 1998 THEN {cents}"
                    " ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("rev1"),
            F.sum(F.expr("CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.expr("CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n1"),
        )
    )
    return seg.select(
        "o_orderpriority",
        "n0",
        "n1",
        "rev0",
        "rev1",
        (F.col("rev1") - F.col("rev0")).cast("bigint").alias("delta_cents"),
        F.expr("CAST((n1 - n0) * (rev0 div n0) AS BIGINT)").alias(
            "volume_effect_cents"
        ),
        F.expr(
            "CAST((rev1 - rev0) - (n1 - n0) * (rev0 div n0) AS BIGINT)"
        ).alias("value_effect_cents"),
        F.expr("CAST((1000000 * rev1) div rev0 - 1000000 AS BIGINT)").alias(
            "growth_ppm"
        ),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# train_mlm_masking_stats — BERT-style masking audit per source:
# select 15% of token positions by md5 threshold; of the selected,
# 80% become [MASK], 10% a random token, 10% stay — the selector and
# the 80/10/10 split are two digit groups of ONE md5_long hash of
# (doc_id, position), so both engines replay every decision. Output
# per source: token count, selected, masked/random/kept, selected ppm
# (should hug 150000).
# ---------------------------------------------------------------------------

_MLM_SEL_PCT = 15


@query(
    "train_mlm_masking_stats",
    oracle=f"""
    WITH tok AS (
      SELECT source, doc_id,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ),
    h AS (
      SELECT source,
             {sql_md5_long("'mlm:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}
               AS h
      FROM tok
    ),
    dec AS (SELECT source, h % 100 AS sel_d, (h // 100) % 10 AS split_d FROM h)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN sel_d < {_MLM_SEL_PCT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN sel_d < {_MLM_SEL_PCT} AND split_d < 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(sum(CASE WHEN sel_d < {_MLM_SEL_PCT} AND split_d = 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_random,
           CAST(sum(CASE WHEN sel_d < {_MLM_SEL_PCT} AND split_d = 9
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST((1000000 * sum(CASE WHEN sel_d < {_MLM_SEL_PCT}
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS selected_ppm
    FROM dec GROUP BY source ORDER BY source
    """,
)
def train_mlm_masking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLM masking audit: md5-deterministic 15% selection with the
    80/10/10 mask/random/keep split, per source."""
    return mlm_masking_frame(table(spark, sf_dir, "documents"))


def mlm_masking_frame(docs: DataFrame) -> DataFrame:
    """Frame core of train_mlm_masking_stats (scaling-probe entry)."""
    tok = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(X.tokens(F.col("text"))))
        ).alias("pos"),
    )
    h = md5_long(
        F.concat(
            F.lit("mlm:"), F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
        )
    )
    dec = tok.select("source", h.alias("h")).select(
        "source",
        (F.col("h") % 100).alias("sel_d"),
        F.expr("(h div 100) % 10").alias("split_d"),
    )
    sel = f"sel_d < {_MLM_SEL_PCT}"
    return (
        dec.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.expr(f"CASE WHEN {sel} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_selected"),
            F.sum(
                F.expr(f"CASE WHEN {sel} AND split_d < 8 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_masked"),
            F.sum(
                F.expr(f"CASE WHEN {sel} AND split_d = 8 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_random"),
            F.sum(
                F.expr(f"CASE WHEN {sel} AND split_d = 9 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_kept"),
            F.expr(
                f"CAST((1000000 * sum(CASE WHEN {sel} THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("selected_ppm"),
        )
        .orderBy("source")
    )
