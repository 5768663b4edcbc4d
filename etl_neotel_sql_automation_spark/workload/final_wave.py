"""Final round-1 wave: TF-IDF, event funnels, TPC-H q6/q19."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, fully distributed: one explode,
    two hash aggregations (tf, df), a broadcast of the df table (vocab
    is small relative to the corpus), and a per-doc top-k window. At
    100 TB the df aggregate is the only global structure, and it is
    vocabulary-sized."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; driver-side count is fine (metadata-sized)
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "events_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS first_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.first_signup
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.first_signup, p.first_purchase,
           epoch_us(p.first_purchase) - epoch_us(s.first_signup) AS us_to_convert
    FROM s JOIN p ON s.user_id = p.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: first signup -> first subsequent purchase, with
    conversion latency. Aggregation-first (min per user) keeps both
    sides user-sized before the join — no event-level amplification."""
    return funnel_frame(table(spark, sf_dir, "events"))


def funnel_frame(ev: DataFrame) -> DataFrame:
    """The events_funnel plan over any events-shaped frame (user_id,
    ts, event_type) — shared with tools/scale_probe.py events so the
    scaling probe measures exactly the registered query's plan."""
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("ts") > F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        signup.join(purch, "user_id")
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            (
                F.unix_micros("first_purchase") - F.unix_micros("first_signup")
            ).alias("us_to_convert"),
        )
    )


@query(
    "agg_argmax_order",
    oracle="""
    WITH m AS (SELECT o_orderpriority, max(o_totalprice) AS max_price
               FROM orders GROUP BY o_orderpriority)
    SELECT m.o_orderpriority, round(m.max_price, 2) AS max_price,
           max(o.o_orderkey) AS max_orderkey
    FROM m JOIN orders o
      ON o.o_orderpriority = m.o_orderpriority AND o.o_totalprice = m.max_price
    GROUP BY m.o_orderpriority, m.max_price
    """,
)
def agg_argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax per group via the struct-max trick: one
    aggregation, no join — ``max(struct(price, key))`` orders
    lexicographically so ties resolve to the max key. (Plain
    ``max_by`` breaks ties arbitrarily; the oracle uses the join
    formulation with the same tiebreak.)"""
    orders = table(spark, sf_dir, "orders")
    best = F.max(F.struct(F.col("o_totalprice"), F.col("o_orderkey"))).alias("b")
    return (
        orders.groupBy("o_orderpriority")
        .agg(best)
        .select(
            "o_orderpriority",
            F.round(F.col("b.o_totalprice"), 2).alias("max_price"),
            F.col("b.o_orderkey").alias("max_orderkey"),
        )
    )


@query(
    "explode_with_ordinality",
    oracle="""
    SELECT vec_id,
           CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
           round(CAST(unnest(embedding) AS DOUBLE), 6)    AS val
    FROM embeddings WHERE vec_id % 25 = 0
    """,
)
def explode_with_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode == UNNEST WITH ORDINALITY (0-based here)."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 25 == 0)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.round(F.col("v").cast("double"), 6).alias("val"))


@query(
    "window_value_funcs",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(first_value(o_totalprice) OVER w, 2) AS cheapest,
           round(last_value(o_totalprice) OVER
               (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS priciest,
           round(nth_value(o_totalprice, 2) OVER
               (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_cheapest,
           round(lead(o_totalprice, 1, 0.0) OVER w, 2) AS next_price
    FROM orders
    WHERE o_orderkey % 60 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with explicit frames (the default running
    frame makes last_value a footgun — the full frame is spelled out),
    plus lead with a default."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 60 == 0)
    run = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    full = run.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.first("o_totalprice").over(run), 2).alias("cheapest"),
        F.round(F.last("o_totalprice").over(full), 2).alias("priciest"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 2).alias("second_cheapest"),
        F.round(F.lead("o_totalprice", 1, 0.0).over(run), 2).alias("next_price"),
    )


@query(
    "scalar_regexp_extract",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_id,
           regexp_extract(c_name, '^([A-Za-z]+)#', 1)             AS name_prefix,
           CAST(regexp_matches(c_name, '#0{3,}') AS BOOLEAN)      AS has_zero_pad
    FROM customer WHERE c_custkey % 6 = 0
    """,
)
def scalar_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching parity (group capture + boolean match).
    Engine-vs-oracle consistency also validates that the ID encoded in
    c_name equals c_custkey on this data."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 6 == 0)
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("bigint").alias("name_id"),
        F.regexp_extract("c_name", r"^([A-Za-z]+)#", 1).alias("name_prefix"),
        F.col("c_name").rlike("#0{3,}").alias("has_zero_pad"),
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS INTEGER) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set aggregation into a sorted, comma-joined string (sorted =>
    deterministic, collect_set order is not; string not array because
    the driver's canonicalizer sorts result rows with pandas, which
    cannot hash array-typed cells)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
                "statuses"
            ),
            F.countDistinct("o_orderstatus").cast("int").alias("n_statuses"),
        )
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(floor((epoch_us(e.ts) - epoch_us(CAST(f.cohort AS TIMESTAMP)))
                  / 604800000000.0) AS INTEGER) AS week_n
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort, week_n, count(*) AS n_active
    FROM activity GROUP BY cohort, week_n
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted per week-offset of later activity. Two aggregations + one
    user-keyed join (first_seen is user-sized -> broadcastable)."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    week_us = 7 * 24 * 3600 * 1_000_000
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort",
            F.floor(
                (F.unix_micros("ts") - F.unix_micros(F.col("cohort").cast("timestamp")))
                / F.lit(float(week_us))
            )
            .cast("int")
            .alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy("cohort", "week_n").agg(F.count("*").alias("n_active"))


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))


@query(
    "q19_disjunctive_join",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity < 20)
       OR (p_type LIKE '%PROMO%' AND l_quantity BETWEEN 5 AND 35)
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive mixed join/filter predicate (q19 shape): the join is
    still a clean equi-join on partkey; the OR-of-ANDs residual applies
    post-join, letting the broadcast hash join survive."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") < 20))
        | (F.col("p_type").like("%PROMO%") & F.col("l_quantity").between(5, 35))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n"),
    )
