"""Third wave: estados conformance differential, remaining join types
(full outer, cross), rank-family windows, range frames, ordered string
aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..conform import conform
from ..ops.dedup import fan_out
from ..schema import ESTADOS_FINAL_COLS, ESTADOS_SPEC
from . import query, table
from .etl_surface import _SQL_INT0, _SQL_TIME_TO_MIN

# --- estados conformance, differentially --------------------------------
# Source synthesized from lineitem: 4 of the 26 t_* columns provided
# (one per raw format class), id/id_campana dirty, the other 22 t_*
# columns missing -> null-pad -> coerce to 0.0.

_PROVIDED_T = {
    "t_login": "lpad(CAST(l_partkey % 24 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(l_linenumber * 11 % 60 AS VARCHAR), 2, '0')",
    "t_available": "lpad(CAST(l_suppkey % 24 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(l_partkey % 60 AS VARCHAR), 2, '0')",
    "t_diario_login": "CAST(l_partkey % 300 AS VARCHAR) || '.' || CAST(l_suppkey % 10 AS VARCHAR)",
    "t_diario_pause": "CASE WHEN l_linenumber % 2 = 0 THEN '-' ELSE 'ab:cd' END",
}


def _estados_oracle() -> str:
    cols = ["CAST(try_strptime(raw_fecha, '%d/%m/%Y') AS DATE) AS fecha",
            "intervalo",
            _SQL_INT0.format(c="raw_id") + " AS id",
            "agente",
            _SQL_INT0.format(c="raw_idc") + " AS id_campana",
            "campana"]
    for c in ESTADOS_FINAL_COLS:
        if not c.startswith("t_"):
            continue
        if c in _PROVIDED_T:
            cols.append(_SQL_TIME_TO_MIN.format(c=f"raw_{c}") + f" AS {c}")
        else:
            cols.append(f"CAST(0.0 AS DOUBLE) AS {c}")
    provided = ",\n             ".join(
        f"{sql} AS raw_{name}" for name, sql in _PROVIDED_T.items()
    )
    return f"""
    SELECT {', '.join(cols)}
    FROM (
      SELECT strftime(l_shipdate, '%d/%m/%Y') AS raw_fecha,
             lpad(CAST(l_linenumber * 30 % 1440 // 60 AS VARCHAR), 2, '0')
               || ':00 - slot' AS intervalo,
             CASE WHEN l_orderkey % 9 = 0 THEN ''
                  ELSE CAST(l_suppkey AS VARCHAR) END AS raw_id,
             'agent_' || CAST(l_suppkey AS VARCHAR) AS agente,
             CAST(l_partkey % 50 AS VARCHAR) AS raw_idc,
             'camp_' || CAST(l_partkey % 5 AS VARCHAR) AS campana,
             {provided}
      FROM lineitem WHERE l_orderkey % 19 = 0
    )
    """


@query("etl_conform_estados", oracle=_estados_oracle())
def etl_conform_estados(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full estados conformance differentially: 26 t_* time coercions,
    null-padding of 22 missing columns, dirty int keys — the reference's
    second pipeline (main.py:1264-1308) end-to-end."""
    li = fan_out(table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 19 == 0))
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    raw = li.select(
        F.date_format("l_shipdate", "dd/MM/yyyy").alias("Fecha"),
        F.concat(
            two((F.col("l_linenumber") * 30 % 1440 / 60).cast("long")), F.lit(":00 - slot")
        ).alias("Intervalo"),
        F.when(F.col("l_orderkey") % 9 == 0, F.lit(""))
        .otherwise(F.col("l_suppkey").cast("string"))
        .alias("ID"),
        F.concat(F.lit("agent_"), F.col("l_suppkey").cast("string")).alias("Agente"),
        (F.col("l_partkey") % 50).cast("string").alias("ID Campaña"),
        F.concat(F.lit("camp_"), (F.col("l_partkey") % 5).cast("string")).alias("Campaña"),
        F.concat_ws(
            ":",
            two(F.col("l_partkey") % 24),
            two(F.col("l_suppkey") % 60),
            two(F.col("l_linenumber") * 11 % 60),
        ).alias("T Login"),
        F.concat_ws(":", two(F.col("l_suppkey") % 24), two(F.col("l_partkey") % 60)).alias(
            "T Available"
        ),
        F.concat(
            (F.col("l_partkey") % 300).cast("string"),
            F.lit("."),
            (F.col("l_suppkey") % 10).cast("string"),
        ).alias("T Diario Login"),
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("-"))
        .otherwise(F.lit("ab:cd"))
        .alias("T Diario Pause"),
    )
    return conform(raw, ESTADOS_SPEC)


# --- remaining join types ------------------------------------------------


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(a.k, b.k) AS custkey,
           a.n_orders_95, b.n_orders_98
    FROM (SELECT o_custkey AS k, count(*) AS n_orders_95 FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT o_custkey AS k, count(*) AS n_orders_98 FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00' GROUP BY 1) b
    ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    def year_counts(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01 00:00:00").cast("timestamp"))
            )
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.count("*").alias(alias))
        )

    a = year_counts(1995, "n_orders_95")
    b = year_counts(1998, "n_orders_98")
    return a.join(b, a.k == b.k, "full_outer").select(
        F.coalesce(a.k, b.k).alias("custkey"), "n_orders_95", "n_orders_98"
    )


@query(
    "join_cross_dims",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = table(spark, sf_dir, "region")
    nat = table(spark, sf_dir, "nation")
    return reg.crossJoin(nat).select("r_name", "n_name")


# --- window rank family + range frame ------------------------------------


@query(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(rank()         OVER w AS INTEGER) AS rnk,
           CAST(dense_rank()   OVER w AS INTEGER) AS drnk,
           CAST(ntile(4)       OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6)        AS prank,
           round(cume_dist()    OVER w, 6)        AS cdist
    FROM orders
    WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(count(*) OVER (ORDER BY o_totalprice
                RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within_10k
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a value-ordered window (peers by value distance,
    not row position)."""
    w = W.orderBy("o_totalprice").rangeBetween(-10000, 0)
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.count("*").over(w).alias("n_within_10k"),
        )
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER)                          AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6)                   AS first_el,
           round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> x * x)), 6)           AS sq_norm,
           round(CAST(list_max(embedding) AS DOUBLE), 6)            AS max_el,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]),
                                x -> x > 0)) AS INTEGER)            AS n_positive
    FROM embeddings WHERE vec_id % 5 = 0
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order functions over the embedding column: size,
    indexing, transform+aggregate (dot with itself), max, filter."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.get(F.col("embedding"), 0).cast("double"), 6).alias("first_el"),
        F.round(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("sq_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_el"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "json_struct_parse",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events WHERE event_id % 25 = 0
    """,
)
def json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON: from_json into a typed struct, then field
    access (vs the stringly get_json_object in json_events_extract)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 25 == 0)
    parsed = F.from_json("props", "k INT")
    return ev.select("event_id", parsed.getField("k").alias("k"))


@query(
    "pandas_grouped_outliers",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, value,
             avg(value)       OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sigma
      FROM events
    )
    SELECT user_id, event_id, value,
           round(CASE WHEN sigma = 0 THEN 0.0 ELSE (value - mu) / sigma END, 6) AS zscore,
           round(abs(CASE WHEN sigma = 0 THEN 0.0 ELSE (value - mu) / sigma END), 6) > 2.0
               AS is_outlier
    FROM s
    """,
)
def pandas_grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map operator, differentially checked
    against the equivalent window SQL."""
    from ..ops.outliers import zscore_outliers

    return zscore_outliers(table(spark, sf_dir, "events"))


@query(
    "agg_string_concat",
    oracle="""
    SELECT n_name, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
    FROM (SELECT DISTINCT n_name, c_mktsegment
          FROM customer JOIN nation ON c_nationkey = n_nationkey)
    GROUP BY n_name
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (deterministic: distinct + sorted)."""
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "c_mktsegment")
        .distinct()
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_mktsegment")), ",").alias(
                "segments"
            )
        )
    )


@query(
    "scalar_bitwise_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT)        AS k_xor,
           CAST(o_orderkey & 255 AS BIGINT)                  AS k_and,
           CAST(o_orderkey | 4096 AS BIGINT)                 AS k_or,
           CAST(o_orderkey << 3 AS BIGINT)                   AS k_shl,
           CAST(o_orderkey >> 2 AS BIGINT)                   AS k_shr,
           CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS INTEGER) AS k_pop
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface — xor/and/or/shifts/popcount, the
    primitives the hash/SimHash/z-order operators build on, exposed
    as a directly-checked query (both engines on two's-complement
    BIGINTs, so every bit op is exactly portable)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseXOR(F.col("o_custkey")).alias("k_xor"),
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        F.shiftleft(k, 3).alias("k_shl"),
        F.shiftright(k, 2).alias("k_shr"),
        F.bit_count(k).alias("k_pop"),
    )


@query(
    "agg_corr_price_qty",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                 sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) /
                 sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
             AS corr_price_qty
    FROM s ORDER BY l_returnflag
    """,
)
def agg_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of price vs quantity per return flag —
    computed the cross-engine-exact way: the five moment sums are
    EXACT BIGINTs over whole-dollar prices/quantities — correlation
    is scale-invariant, and dollar scaling keeps the squared sums in
    int64 (builtin corr()
    accumulates doubles in engine-specific orders and formulas — a
    latent tie bomb); the closed form runs in DECIMAL(38,0)/HUGEINT
    and only its final division touches floats, identically on both
    sides. The at-scale story is
    unchanged: one combinable aggregate pass, five integer states per
    group."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice")).cast("long")
    y = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    # closed form in DECIMAL(38,0): n*sxx exceeds int64 at sf>=0.1
    # (DuckDB promotes to HUGEINT; both cast the same exact integer to
    # double, so the final floats are identical)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n, sx, sy = dec(F.col("n")), dec(F.col("sx")), dec(F.col("sy"))
    corr = (
        (n * dec(F.col("sxy")) - sx * sy).cast("double")
        / F.sqrt((n * dec(F.col("sxx")) - sx * sx).cast("double"))
        / F.sqrt((n * dec(F.col("syy")) - sy * sy).cast("double"))
    )
    return s.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_price_qty")
    ).orderBy("l_returnflag")


@query(
    "orders_pareto_customers",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT custkey, cents,
             CAST(row_number() OVER (ORDER BY cents DESC, custkey) AS BIGINT) AS rnk,
             CAST(sum(cents) OVER (ORDER BY cents DESC, custkey
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
             (SELECT CAST(sum(cents) AS BIGINT) FROM cust) AS total_cents,
             (SELECT count(*) FROM cust) AS n_cust
      FROM cust
    )
    SELECT rnk, custkey, cents,
           CAST(floor(cum_cents * 1000000.0 / total_cents) AS BIGINT) AS cum_share_ppm,
           CAST(floor(rnk * 1000000.0 / n_cust) AS BIGINT) AS cust_share_ppm
    FROM ranked WHERE rnk <= 100
    """,
)
def orders_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration analysis: customers ranked by
    lifetime revenue with cumulative revenue share vs cumulative
    customer share (the 80/20 read-off), top-100 emitted. All money in
    exact integer cents; shares are floor-ppm of exact-integer
    divisions (identical doubles -> identical floor on both engines —
    no round()-tie exposure). The running sum is one window over the
    aggregated customer frame; the 1-row total is a broadcast scalar."""
    orders = table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(cents).alias("cents")
    )
    tot = cust.agg(
        F.sum("cents").alias("total_cents"), F.count("*").alias("n_cust")
    )
    w = W.orderBy(F.desc("cents"), "custkey")
    ranked = (
        cust.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_cents",
            F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .filter(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(tot))
    )
    return ranked.select(
        "rnk",
        "custkey",
        "cents",
        F.floor(F.col("cum_cents") * 1_000_000.0 / F.col("total_cents"))
        .cast("long")
        .alias("cum_share_ppm"),
        F.floor(F.col("rnk") * 1_000_000.0 / F.col("n_cust"))
        .cast("long")
        .alias("cust_share_ppm"),
    )
