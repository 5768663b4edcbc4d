"""Second wave of advanced workloads: banded range join, quarantine
query, winnowing near-dup, TPC-H q7/q10 shapes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conform import conform_with_quarantine
from ..ops import text as X
from ..ops.hashing import sql_md5_long
from ..schema import CONDUCTA_SPEC
from . import _SQL_TOKS, query, table

_RANGE_US = 600 * 1_000_000  # 10 minutes


@query(
    "range_join_events",
    oracle=f"""
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND b.ts >= a.ts
     AND epoch_us(b.ts) - epoch_us(a.ts) <= {_RANGE_US}
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join done the scalable way: band each side into
    range-width time buckets and equi-join on (type, bucket) with the
    successor bucket, then apply the exact range filter. The equi-join
    prunes the O(n^2) pair space to adjacent bands — the oracle is the
    naive theta join, so the banding must lose nothing.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", F.unix_micros("ts").alias("us")
    )
    bucket = F.floor(F.col("us") / _RANGE_US)
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("ta"),
        F.col("us").alias("us_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("b"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("tb"),
        F.col("us").alias("us_b"),
        bucket.alias("b"),
    )
    return (
        a.join(b, (F.col("ta") == F.col("tb")) & (a.b == b.b))
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("us_b") >= F.col("us_a"))
            & (F.col("us_b") - F.col("us_a") <= _RANGE_US)
        )
        .select("id_a", "id_b", (F.col("us_b") - F.col("us_a")).alias("dt_us"))
    )


@query(
    "etl_quarantine_rejects",
    oracle="""
    SELECT c_name AS agente, 'null_key:fecha' AS reject_reason
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 11 = 0
    """,
)
def etl_quarantine_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine flow as a query: rows whose key date fails to
    parse come out tagged, not dropped. Source construction mirrors
    etl_conform_conducta (every o_orderkey % 11 == 0 row gets the
    unparseable date)."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    cust = table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    raw = j.select(
        F.col("c_name").alias("Agente"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("bad"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
        .alias("Fecha"),
        F.col("o_custkey").cast("string").alias("ID"),
    )
    _good, bad = conform_with_quarantine(raw, CONDUCTA_SPEC)
    return bad.select("agente", "reject_reason")


_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM documents),
win AS (
  SELECT id, unnest(list_distinct(list_transform(
      range(0, greatest(len(toks) - 8, 0) + 1),
      i -> {sql_md5_long("array_to_string(list_slice(toks, i + 1, i + 8), chr(1))")}
  ))) AS h
  FROM t
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_windows
FROM win a JOIN win b ON a.h = b.h AND a.id < b.id
GROUP BY a.id, b.id
"""


@query("dedup_winnow_candidates", oracle=_WINNOW_ORACLE)
def dedup_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style near-dup candidates: documents sharing any
    rolling 8-token window hash. Same explode -> bucket-join shape as
    MinHash-LSH (no cross join); sharper for contiguous plagiarism-style
    overlap, blinder to scattered edits. Runs on the md5-derived
    cross-engine hash so the DuckDB oracle replays the rolling windows
    bit-identically (ops.hashing)."""
    docs = table(spark, sf_dir, "documents")
    wh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(X.rolling_hashes("text", window=8, hash_fn="md5"))
        ).alias("h"),
    )
    a, b = wh.alias("a"), wh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_windows"))
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INTEGER)
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
