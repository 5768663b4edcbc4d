"""Round-6 wave-11 workloads: warehouse-temporal and training-cost
passes — a point-in-time join against an SCD2 dimension ("which
segment was this customer in WHEN the order was placed"), a GDPR
erasure blast-radius audit, trimmed means (the robust aggregate
between mean and median), and a sequence-packing efficiency meter
(padding waste per context length, doc-padded vs packed).

Determinism rules (house style, see workload/__init__ docstring):
money in BIGINT cents rounded per row; means in milli-cents by one
integer division; waste ratios in integer ppm; validity intervals are
half-open [from, to) timestamp literals shared verbatim by both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

# ---------------------------------------------------------------------------
# scd2_point_in_time_join — the warehouse question merge_upsert_orders
# (SCD2 maintenance) exists to answer: reconstruct the dimension AS OF
# each fact's own date. The dimension here is a deterministic
# two-version SCD2 history built from customer (every third customer
# migrates segment on 1995-07-01, everyone else's v1 runs open-ended);
# the PIT join is the natural-key EQUI-join with the half-open
# interval [valid_from, valid_to) as a residual filter.
#
# Scale shape: this must NEVER plan as a range-only join — custkey
# equality drives the shuffle/broadcast and each probe scans that
# key's handful of versions for the interval hit. Revenue then
# aggregates by the AS-OF segment, which differs from today's segment
# exactly for migrated customers' pre-1995-07 orders — the error a
# non-temporal join silently makes.
# ---------------------------------------------------------------------------

_SCD2_CUT = "1995-07-01"


@query(
    "scd2_point_in_time_join",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             CASE WHEN c_custkey % 3 = 0
                  THEN TIMESTAMP '{_SCD2_CUT} 00:00:00'
                  ELSE TIMESTAMP '9999-01-01 00:00:00' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'MIGRATED' AS segment,
             TIMESTAMP '{_SCD2_CUT} 00:00:00',
             TIMESTAMP '9999-01-01 00:00:00'
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN dim
      ON o_custkey = dim.c_custkey
     AND o_orderdate >= dim.valid_from AND o_orderdate < dim.valid_to
    GROUP BY segment ORDER BY segment
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue by the customer's AS-OF segment via a
    point-in-time join against a two-version SCD2 dimension: the
    natural-key equi-join carries the [valid_from, valid_to) interval
    as a residual predicate."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    cut = F.lit(f"{_SCD2_CUT} 00:00:00").cast("timestamp")
    far = F.lit("9999-01-01 00:00:00").cast("timestamp")
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 3 == 0, cut).otherwise(far).alias("valid_to"),
    )
    v2 = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.lit("MIGRATED").alias("segment"),
            cut.alias("valid_from"),
            far.alias("valid_to"),
        )
    )
    dim = v1.unionAll(v2)
    return (
        orders.join(
            dim,
            (orders.o_custkey == dim.c_custkey)
            & (orders.o_orderdate >= dim.valid_from)
            & (orders.o_orderdate < dim.valid_to),
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# privacy_erasure_audit — the blast radius of a right-to-erasure
# request BEFORE executing it: the deletion cohort's row counts across
# every table that references the subject, with each table's exposure
# in ppm. Deletes across a warehouse are fan-out joins; running the
# audit first is how a steward sizes (and staggers) the actual erasure
# job. Cohort here: every 1000th customer.
#
# Scale shape: each leg is a semi-join on the subject key (cohort side
# tiny — AQE broadcasts it) plus two counts; the lineitem leg rides
# through orders on the orderkey equi-join. Nothing scans twice.
# ---------------------------------------------------------------------------

_ERASE_MOD = 1000


@query(
    "privacy_erasure_audit",
    oracle=f"""
    WITH cohort AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 1
    ),
    o AS (SELECT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM cohort)),
    legs AS (
      SELECT 'customer' AS table_name,
             (SELECT CAST(count(*) AS BIGINT) FROM cohort) AS n_rows_to_erase,
             (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_table_rows
      UNION ALL
      SELECT 'orders',
             (SELECT CAST(count(*) AS BIGINT) FROM o),
             (SELECT CAST(count(*) AS BIGINT) FROM orders)
      UNION ALL
      SELECT 'lineitem',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM o)),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
    )
    SELECT table_name, n_rows_to_erase, n_table_rows,
           CAST((1000000 * n_rows_to_erase) // n_table_rows AS BIGINT)
             AS exposure_ppm
    FROM legs ORDER BY table_name
    """,
)
def privacy_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast radius of erasing every 1000th customer: rows to delete
    and exposure ppm in customer, orders, and lineitem (the
    referential fan-out a GDPR job must cover)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cohort = cust.filter(F.col("c_custkey") % _ERASE_MOD == 1).select("c_custkey")
    o = orders.join(
        cohort, orders.o_custkey == cohort.c_custkey, "left_semi"
    ).select("o_orderkey")
    l_hit = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")

    def leg(name: str, hit: DataFrame, full: DataFrame) -> DataFrame:
        h = hit.agg(F.count("*").cast("bigint").alias("n_rows_to_erase"))
        t = full.agg(F.count("*").cast("bigint").alias("n_table_rows"))
        return (
            h.crossJoin(F.broadcast(t))  # two 1-row aggregates
            .select(
                F.lit(name).alias("table_name"),
                "n_rows_to_erase",
                "n_table_rows",
                F.expr(
                    "CAST((1000000 * n_rows_to_erase) div n_table_rows AS BIGINT)"
                ).alias("exposure_ppm"),
            )
        )

    out = (
        leg("customer", cohort, cust)
        .unionAll(leg("orders", o, orders))
        .unionAll(leg("lineitem", l_hit, li))
    )
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# agg_trimmed_mean — the robust location estimate between mean and
# median: drop the bottom and top 10% by rank (full unique tiebreak)
# and average the middle 80% exactly (milli-cents by one integer
# division). One rank window per group + one aggregation; reported
# beside the raw mean so the outlier pull is visible.
# ---------------------------------------------------------------------------


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT flag,
           CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST((1000 * sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                                 THEN cents END))
                // sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                            THEN 1 END) AS BIGINT) AS trimmed_mean_millicents,
           CAST((1000 * sum(cents)) // count(*) AS BIGINT)
             AS raw_mean_millicents
    FROM r GROUP BY flag ORDER BY flag
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of extended price per return flag in exact
    milli-cents, beside the raw mean."""
    li = table(spark, sf_dir, "lineitem")
    wf = W.partitionBy("l_returnflag")
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.row_number()
        .over(wf.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("rn"),
        F.count("*").over(wf).alias("n"),
    )
    kept = F.expr("rn > n div 10 AND rn <= n - n div 10")
    return (
        r.groupBy("flag")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "CAST((1000 * sum(CASE WHEN rn > n div 10 AND rn <= n - n div 10"
                " THEN cents END)) div sum(CASE WHEN rn > n div 10"
                " AND rn <= n - n div 10 THEN 1 END) AS BIGINT)"
            ).alias("trimmed_mean_millicents"),
            F.expr("CAST((1000 * sum(cents)) div count(*) AS BIGINT)").alias(
                "raw_mean_millicents"
            ),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# train_packing_efficiency — what padding actually costs, per context
# length: the doc-padded layout burns ceil(nt/L)*L - nt per document;
# the packed layout (concat per source, then chunk — what
# pack_sequences ships) burns only the per-source tail. The meter that
# justifies packing: at the corpus's ~56-token median, L=128 doc-
# padding wastes over half the batch. Waste in integer ppm of the
# padded token budget.
#
# Scale shape: one tokenize pass -> per-doc and per-source BIGINT
# aggregates; the three context lengths are a 3-literal explode over
# the aggregate, not three corpus passes.
# ---------------------------------------------------------------------------

_PACK_LENS = (32, 64, 128)


@query(
    "train_packing_efficiency",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt FROM documents
    ),
    l AS (SELECT unnest([{", ".join(map(str, _PACK_LENS))}]) AS ctx_len),
    doc AS (
      SELECT l.ctx_len,
             CAST(sum(((d.nt + l.ctx_len - 1) // l.ctx_len) * l.ctx_len)
                  AS BIGINT) AS doc_padded,
             CAST(sum(d.nt) AS BIGINT) AS n_tokens
      FROM d CROSS JOIN l GROUP BY l.ctx_len
    ),
    src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS st FROM d GROUP BY source),
    pk AS (
      SELECT l.ctx_len,
             CAST(sum(((src.st + l.ctx_len - 1) // l.ctx_len) * l.ctx_len)
                  AS BIGINT) AS packed_padded
      FROM src CROSS JOIN l GROUP BY l.ctx_len
    )
    SELECT doc.ctx_len AS ctx_len, n_tokens, doc_padded, packed_padded,
           CAST((1000000 * (doc_padded - n_tokens)) // doc_padded AS BIGINT)
             AS doc_pad_waste_ppm,
           CAST((1000000 * (packed_padded - n_tokens)) // packed_padded
                AS BIGINT) AS packed_waste_ppm
    FROM doc JOIN pk ON doc.ctx_len = pk.ctx_len
    ORDER BY ctx_len
    """,
)
def train_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste (ppm of the padded budget) at context lengths
    32/64/128 for the doc-padded vs packed (concat-per-source)
    layouts — the training-cost case for sequence packing."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select("source", F.size(X.tokens(F.col("text"))).cast("bigint").alias("nt"))
    lens = F.explode(F.array(*[F.lit(x) for x in _PACK_LENS])).alias("ctx_len")
    dl = d.crossJoin(spark.range(1).select(lens))
    doc = dl.groupBy("ctx_len").agg(
        F.expr(
            "CAST(sum(((nt + ctx_len - 1) div ctx_len) * ctx_len) AS BIGINT)"
        ).alias("doc_padded"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    src = d.groupBy("source").agg(F.sum("nt").alias("st"))
    pk = (
        src.crossJoin(spark.range(1).select(lens))
        .groupBy("ctx_len")
        .agg(
            F.expr(
                "CAST(sum(((st + ctx_len - 1) div ctx_len) * ctx_len) AS BIGINT)"
            ).alias("packed_padded")
        )
    )
    return (
        doc.join(pk, "ctx_len")
        .select(
            F.col("ctx_len").cast("bigint").alias("ctx_len"),
            "n_tokens",
            "doc_padded",
            "packed_padded",
            F.expr(
                "CAST((1000000 * (doc_padded - n_tokens)) div doc_padded AS BIGINT)"
            ).alias("doc_pad_waste_ppm"),
            F.expr(
                "CAST((1000000 * (packed_padded - n_tokens)) div packed_padded"
                " AS BIGINT)"
            ).alias("packed_waste_ppm"),
        )
        .orderBy("ctx_len")
    )
