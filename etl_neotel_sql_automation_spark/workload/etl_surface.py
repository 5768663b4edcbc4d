"""ETL-surface workloads: the reference's coercion semantics
(SURVEY.md §2.8, main.py:386-528) differentially tested against DuckDB.

Each query synthesizes dirty inputs *deterministically from the star
tables* (the driver's parquet is the only allowed input), applies the
engine's coercion expressions on the Spark side, and mirrors the exact
semantics as a SQL CASE expression on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as ef
from ..ops.dedup import fan_out
from ..conform import conform
from ..schema import CONDUCTA_SPEC
from . import query, table

# SQL fragment mirroring time_str_to_minutes / convertir_tiempo_a_minutos
# (main.py:425-462) for DuckDB. {c} is the raw column.
_SQL_TIME_TO_MIN = """
    CASE
      WHEN {c} IS NULL OR trim({c}) IN ('-', '', 'nan', 'None') THEN 0.0
      WHEN contains(trim({c}), ':') THEN (
        CASE
          WHEN len(string_split(trim({c}), ':')) = 3
               AND regexp_full_match(trim(string_split(trim({c}), ':')[1]), '[+-]?[0-9]+')
               AND regexp_full_match(trim(string_split(trim({c}), ':')[2]), '[+-]?[0-9]+')
               AND regexp_full_match(trim(string_split(trim({c}), ':')[3]), '[+-]?[0-9]+')
          THEN CAST(string_split(trim({c}), ':')[1] AS BIGINT) * 60
               + CAST(string_split(trim({c}), ':')[2] AS BIGINT)
               + CAST(string_split(trim({c}), ':')[3] AS BIGINT) / 60.0
          WHEN len(string_split(trim({c}), ':')) = 2
               AND regexp_full_match(trim(string_split(trim({c}), ':')[1]), '[+-]?[0-9]+')
               AND regexp_full_match(trim(string_split(trim({c}), ':')[2]), '[+-]?[0-9]+')
          THEN CAST((CAST(string_split(trim({c}), ':')[1] AS BIGINT) * 60
               + CAST(string_split(trim({c}), ':')[2] AS BIGINT)) AS DOUBLE)
          ELSE 0.0
        END)
      ELSE COALESCE(TRY_CAST(trim({c}) AS DOUBLE), 0.0)
    END
"""

# int0: numeric-then-truncate (pandas astype(int) truncates toward zero;
# DuckDB CAST(double AS INT) *rounds*, so TRUNC first).
_SQL_INT0 = "CAST(TRUNC(COALESCE(TRY_CAST(trim({c}) AS DOUBLE), 0.0)) AS INTEGER)"
_SQL_FLOAT0 = "COALESCE(TRY_CAST(trim({c}) AS DOUBLE), 0.0)"

# Deterministic dirty time-string generator over lineitem (SQL + Spark
# must produce byte-identical raw values).
_SQL_RAW_TIME = """
    CASE CAST(l_orderkey % 8 AS INTEGER)
      WHEN 0 THEN '-'
      WHEN 1 THEN ''
      WHEN 2 THEN 'nan'
      WHEN 3 THEN 'ab:cd'
      WHEN 4 THEN lpad(CAST(l_partkey % 24 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(l_linenumber * 7 % 60 AS VARCHAR), 2, '0')
      WHEN 5 THEN lpad(CAST(l_partkey % 24 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0')
      WHEN 6 THEN CAST(l_partkey % 100 AS VARCHAR) || '.' || CAST(l_suppkey % 10 AS VARCHAR)
      ELSE 'garbage'
    END
"""
# NB: dirty strings are built only from integer arithmetic — casting
# doubles to VARCHAR is not portable (Java 17's Double.toString is not
# shortest-round-trip; DuckDB's is), so raw values would diverge.


def _raw_time_col() -> F.Column:
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    return (
        F.when(F.col("l_orderkey") % 8 == 0, F.lit("-"))
        .when(F.col("l_orderkey") % 8 == 1, F.lit(""))
        .when(F.col("l_orderkey") % 8 == 2, F.lit("nan"))
        .when(F.col("l_orderkey") % 8 == 3, F.lit("ab:cd"))
        .when(
            F.col("l_orderkey") % 8 == 4,
            F.concat_ws(
                ":",
                two(F.col("l_partkey") % 24),
                two(F.col("l_suppkey") % 60),
                two(F.col("l_linenumber") * 7 % 60),
            ),
        )
        .when(
            F.col("l_orderkey") % 8 == 5,
            F.concat_ws(":", two(F.col("l_partkey") % 24), two(F.col("l_suppkey") % 60)),
        )
        .when(
            F.col("l_orderkey") % 8 == 6,
            F.concat_ws(
                ".", (F.col("l_partkey") % 100).cast("string"), (F.col("l_suppkey") % 10).cast("string")
            ),
        )
        .otherwise(F.lit("garbage"))
    )


@query(
    "etl_time_to_minutes",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, raw,
           {_SQL_TIME_TO_MIN.format(c="raw")} AS minutes
    FROM (SELECT l_orderkey, l_linenumber, {_SQL_RAW_TIME} AS raw
          FROM lineitem WHERE l_orderkey % 17 = 0)
    """,
)
def etl_time_to_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 17 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _raw_time_col().alias("raw"),
    ).withColumn("minutes", ef.time_str_to_minutes("raw"))


_SQL_RAW_NUM = """
    CASE CAST(l_orderkey % 5 AS INTEGER)
      WHEN 0 THEN CAST(l_partkey % 1000 AS VARCHAR)
      WHEN 1 THEN '0.' || CAST(l_suppkey % 100 AS VARCHAR)
      WHEN 2 THEN 'garbage'
      WHEN 3 THEN ''
      ELSE '-' || CAST(l_partkey % 50 AS VARCHAR) || '.7'
    END
"""


@query(
    "etl_numeric_coercion",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, raw,
           {_SQL_INT0.format(c="raw")} AS as_int,
           {_SQL_FLOAT0.format(c="raw")} AS as_double
    FROM (SELECT l_orderkey, l_linenumber, {_SQL_RAW_NUM} AS raw
          FROM lineitem WHERE l_orderkey % 13 = 0)
    """,
)
def etl_numeric_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    raw = (
        F.when(F.col("l_orderkey") % 5 == 0, (F.col("l_partkey") % 1000).cast("string"))
        .when(
            F.col("l_orderkey") % 5 == 1,
            F.concat(F.lit("0."), (F.col("l_suppkey") % 100).cast("string")),
        )
        .when(F.col("l_orderkey") % 5 == 2, F.lit("garbage"))
        .when(F.col("l_orderkey") % 5 == 3, F.lit(""))
        .otherwise(
            F.concat(F.lit("-"), (F.col("l_partkey") % 50).cast("string"), F.lit(".7"))
        )
    )
    return li.select("l_orderkey", "l_linenumber", raw.alias("raw")).withColumns(
        {"as_int": ef.int0("raw"), "as_double": ef.float0("raw")}
    )


@query(
    "etl_date_dayfirst",
    oracle="""
    SELECT o_orderkey, raw,
           CAST(try_strptime(raw, '%d/%m/%Y') AS DATE) AS parsed
    FROM (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 11 = 0 THEN '99/99/2026'
                      ELSE strftime(o_orderdate, '%d/%m/%Y') END AS raw
          FROM orders WHERE o_orderkey % 7 = 0)
    """,
)
def etl_date_dayfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    raw = F.when(F.col("o_orderkey") % 11 == 0, F.lit("99/99/2026")).otherwise(
        F.date_format("o_orderdate", "dd/MM/yyyy")
    )
    return orders.select("o_orderkey", raw.alias("raw")).withColumn(
        "parsed", ef.date_dayfirst("raw")
    )


@query(
    "etl_name_clean",
    oracle="""
    SELECT DISTINCT p_type,
           lower(trim(regexp_replace(regexp_replace(
               regexp_replace(p_type, '%\\s*', 'pct_', 'g'),
               '[^a-zA-Z0-9]', '_', 'g'), '_+', '_', 'g'), '_')) AS cleaned
    FROM part
    """,
)
def etl_name_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .select("p_type", ef.clean_name_col("p_type").alias("cleaned"))
        .distinct()
    )


@query(
    "etl_drop_null_keys",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM (SELECT o_orderstatus,
                 CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS k
          FROM orders)
    WHERE k IS NOT NULL
    GROUP BY o_orderstatus
    """,
)
def etl_drop_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").withColumn(
        "k", F.when(F.col("o_orderkey") % 13 == 0, F.lit(None)).otherwise(F.col("o_custkey"))
    )
    return (
        orders.na.drop(subset=["k"])
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


# Full conformance pipeline, differentially: a conducta-shaped dirty
# source is synthesized from orders, conform() runs on the Spark side,
# and the oracle replays normalize->rename->pad->project->coerce->filter
# in SQL. Missing target columns become constant 0/0.0/NULL per the
# coercion rules (pad -> None -> coerce, main.py:1228-1258).
@query(
    "etl_conform_conducta",
    oracle=f"""
    SELECT c_name AS agente,
           CAST(try_strptime(raw_fecha, '%d/%m/%Y') AS DATE) AS fecha,
           {_SQL_INT0.format(c="raw_id")} AS id,
           o_orderpriority AS campana,
           {_SQL_INT0.format(c="raw_in")} AS in_total,
           {_SQL_FLOAT0.format(c="raw_pct_in")} AS pct_in,
           0 AS in_rechazadas_ignoradas, CAST(0.0 AS DOUBLE) AS pct_in_rechazadas_ignoradas,
           0 AS in_atendidas, CAST(0.0 AS DOUBLE) AS pct_in_atendidas,
           0 AS out_total, CAST(0.0 AS DOUBLE) AS pct_out,
           0 AS out_rechazadas_ignoradas, CAST(0.0 AS DOUBLE) AS pct_out_rechazadas_ignoradas,
           0 AS out_atendidas, CAST(0.0 AS DOUBLE) AS pct_out_atendidas,
           0 AS out_dialing, CAST(0.0 AS DOUBLE) AS pct_out_dialing,
           0 AS llamados_con_hold, CAST(0.0 AS DOUBLE) AS pct_llamados_con_hold,
           {_SQL_TIME_TO_MIN.format(c="raw_tmr_in")} AS tiempo_medio_respuesta_in,
           CAST(0.0 AS DOUBLE) AS tiempo_medio_respuesta_out
    FROM (
      SELECT c_name,
             CASE WHEN o_orderkey % 11 = 0 THEN 'bad'
                  ELSE strftime(o_orderdate, '%d/%m/%Y') END AS raw_fecha,
             CASE WHEN o_orderkey % 9 = 0 THEN 'x'
                  ELSE CAST(o_custkey AS VARCHAR) END AS raw_id,
             o_orderpriority,
             CAST(o_orderkey % 40 AS VARCHAR) AS raw_in,
             CASE WHEN o_orderkey % 6 = 0 THEN '-'
                  ELSE CAST(o_orderkey % 90 AS VARCHAR) || '.5' END AS raw_pct_in,
             CASE WHEN o_orderkey % 4 = 0
                  THEN lpad(CAST(o_custkey % 24 AS VARCHAR), 2, '0') || ':'
                       || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ':30'
                  ELSE '-' END AS raw_tmr_in
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 3 = 0
    )
    WHERE CAST(try_strptime(raw_fecha, '%d/%m/%Y') AS DATE) IS NOT NULL
    """,
)
def etl_conform_conducta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan out at the scan: the broadcast join keeps its partitioning
    orders = fan_out(table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0))
    cust = table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    raw = j.select(
        # Raw headers as the CRM would emit them -> exercises P-1 + P-2
        F.col("c_name").alias("Agente"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("bad"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
        .alias("Fecha"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("x"))
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("ID"),
        F.col("o_orderpriority").alias("Campaña"),
        (F.col("o_orderkey") % 40).cast("string").alias("In"),
        F.when(F.col("o_orderkey") % 6 == 0, F.lit("-"))
        .otherwise(F.concat((F.col("o_orderkey") % 90).cast("string"), F.lit(".5")))
        .alias("% In"),
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.concat_ws(
                ":", two(F.col("o_custkey") % 24), two(F.col("o_orderkey") % 60), F.lit("30")
            ),
        )
        .otherwise(F.lit("-"))
        .alias("Tiempo medio de respuesta IN"),
    )
    return conform(raw, CONDUCTA_SPEC)
