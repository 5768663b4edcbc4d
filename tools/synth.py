"""Synthetic tables for ``tools/scale_probe.py``.

Every table is a pure function of its arguments, so a re-run builds the
same rows at any scale, with no disk and no driver-side data:

- most are codegen expressions off ``spark.range``: columns are
  xxhash64-derived, keyed by the row id and a per-column salt;
- the events table comes from the seeded ``synthetic_events`` Python
  DataSource, generated executor-side.

Sizes are chosen by the caller; the driver's 1x is the sf0.1 volume of
the table each one imitates. The document, embedding and graph tables
plant the structure their operators must find (exact and near copies,
near-duplicate vectors, hub nodes), so a probe measures real work and
not scans over noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_neotel_sql_automation_spark.ops import text as X

BASE_DOCS = 5_000   # sf0.1 documents volume
N_TOKENS = 54       # sf0.1 mean tokens/doc
VOCAB = 5_000
BASE_VECS = 2_000   # sf0.1 embeddings volume
DIM = 64
BASE_ROWS = 100_000   # sf0.1 events volume
BASE_USERS = 1_000    # sf0.1 user cardinality

_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
_EPOCH_1995 = 788_918_400  # 1995-01-01 UTC, seconds
_DAY_SPAN = 2_404          # ..2001-08-01, matching the real span


def _h(salt, *cols, mod: int):
    """pmod(xxhash64(salt, *cols), mod): the one hash draw every
    column here is made of."""
    return F.pmod(F.xxhash64(F.lit(salt), *cols), F.lit(mod))


def _ts(epoch_s: int, offset_s):
    return F.timestamp_micros((F.lit(epoch_s) + offset_s) * 1_000_000)


def events_at(spark: SparkSession, scale: int) -> DataFrame:
    """Events-shaped frame at ``scale``x sf0.1 volume from the Python
    DataSource: rows and users both scale (fixed users at growing rows
    would fatten per-user window partitions — not how event data
    grows); 30-day window and partition count ~ defaultParallelism."""
    from etl_neotel_sql_automation_spark.py_datasource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    return (
        spark.read.format("synthetic_events")
        .option("rows", BASE_ROWS * scale)
        .option("users", BASE_USERS * scale)
        .option("partitions", max(spark.sparkContext.defaultParallelism, 4))
        .option("seed", 7)
        .load()
    )


def synth_docs(spark: SparkSession, n_docs: int, seed: int = 11) -> DataFrame:
    """Documents-shaped frame (doc_id, text) with planted duplicate
    structure, entirely in codegen expressions:

    - doc_id % 25 == 1 (~4%): exact copy of the family base (doc_id-1)
    - doc_id % 25 == 2 (~4%): near copy (one token replaced)
    - otherwise: unique token stream

    Token k of document d is ``t<xxhash64(seed, family, k) % VOCAB>``
    where family collapses copies onto their base — the whole text
    column is one transform + concat_ws over a sequence, no Python."""
    mod = F.col("doc_id") % 25
    family = F.when(mod.isin(1, 2), F.col("doc_id") - mod).otherwise(F.col("doc_id"))
    tok = lambda k: F.concat(  # noqa: E731
        F.lit("t"), F.pmod(F.xxhash64(F.lit(seed), family, k), F.lit(VOCAB))
    )
    # near copies swap one deterministic position for a doc-unique token
    swap_pos = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_TOKENS)) + 1
    near = F.transform(
        F.sequence(F.lit(1), F.lit(N_TOKENS)),
        lambda k: F.when(
            (mod == 2) & (k == swap_pos),
            F.concat(F.lit("u"), F.col("doc_id")),
        ).otherwise(tok(k)),
    )
    return (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", F.concat_ws(" ", near).alias("text"))
    )


def synth_documents(spark: SparkSession, n_docs: int) -> DataFrame:
    """synth_docs plus the columns the documents table carries: lang
    and source by hash, n_chars, and a hash-variable stopword suffix so
    the stopword-ratio score (calibration) and the language label
    entropy (info gain) vary."""
    docs = synth_docs(spark, n_docs)
    stop_n = _h("s", "doc_id", mod=6)
    suffix = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), stop_n), lambda i: F.lit("the"))
    )
    return docs.select(
        "doc_id",
        F.concat_ws(" ", "text", suffix).alias("text"),
        F.when(_h("l", "doc_id", mod=10) < 7, "en").otherwise("es").alias("lang"),
        F.concat(F.lit("src"), _h("g", "doc_id", mod=20)).alias("source"),
        F.length(F.concat_ws(" ", "text", suffix)).cast("long").alias("n_chars"),
    )


def synth_bigrams(spark: SparkSession, n_docs: int) -> DataFrame:
    """(w1, w2) adjacent-token pairs of synth_docs through the
    registered tokenizer."""
    docs = synth_docs(spark, n_docs)
    toks = X.tokens(F.col("text"))
    cnt = F.size(toks)
    idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return docs.select(toks.alias("toks"), F.explode(idx).alias("pos")).select(
        F.element_at("toks", F.col("pos")).alias("w1"),
        F.element_at("toks", F.col("pos") + 1).alias("w2"),
    )


def synth_embeddings(spark: SparkSession, n: int, seed: int = 13) -> DataFrame:
    """(vec_id, embedding array<double>) with planted structure, all
    codegen: components are xxhash64-derived uniforms in [-1, 1];
    vec_id % 50 == 1 (~2%) duplicates the previous vector with one
    deterministic component nudged by 0.05 (cosine vs base ~0.999)."""
    mod = F.col("vec_id") % 50
    base_id = F.when(mod == 1, F.col("vec_id") - 1).otherwise(F.col("vec_id"))
    comp = lambda i: (  # noqa: E731
        F.pmod(F.xxhash64(F.lit(seed), base_id, i), F.lit(2001)) - 1000
    ) / 1000.0
    nudge_pos = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(DIM))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: comp(i) + F.when((mod == 1) & (i == nudge_pos), 0.05).otherwise(0.0),
    )
    return (
        spark.range(n)
        .withColumnRenamed("id", "vec_id")
        .select("vec_id", vec.alias("embedding"))
    )


def synth_vectors(spark: SparkSession, n: int) -> DataFrame:
    """(vec_id, embedding array<float>): 64 hash-uniform components in
    [-1, 1) at 0.01 steps, no planted structure."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.xxhash64(F.lit("v"), F.col("id"), i), F.lit(200)) - 100
            ).cast("double")
            / 100.0,
        )
        .cast("array<float>")
        .alias("embedding"),
    )


def synth_edges(spark: SparkSession, n_nodes: int, seed: int = 11) -> DataFrame:
    """Directed (src, dst) edges, ~12 per node, distinct, no self-loops,
    ~20% aimed at a hub set of n/100 nodes — all codegen expressions."""
    n_hubs = max(4, n_nodes // 100)
    e = spark.range(n_nodes * 12).withColumnRenamed("id", "eid")
    src = _h(seed, "eid", mod=n_nodes)
    hub_dst = _h(seed + 1, "eid", mod=n_hubs)
    uni_dst = _h(seed + 2, "eid", mod=n_nodes)
    dst = F.when(_h(seed + 3, "eid", mod=5) == 0, hub_dst).otherwise(uni_dst)
    return (
        e.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def synth_pairs(
    spark: SparkSession, n_pairs: int, n_cust: int, n_supp: int, first_id: int = 0
) -> DataFrame:
    """Distinct (c, s) purchase pairs drawn from ``n_pairs`` row ids;
    scaling both populations with the pair count keeps degrees in the
    sf0.1 band (~4 suppliers per customer, ~50 buyers per supplier)."""
    return (
        spark.range(first_id, first_id + n_pairs)
        .select(_h("c", "id", mod=n_cust).alias("c"), _h("s", "id", mod=n_supp).alias("s"))
        .distinct()
    )


def synth_points(spark: SparkSession, n: int, salt: str, id_col: str) -> DataFrame:
    """(id, lat_u, lon_u) with xxhash64-derived non-negative
    micro-degree coordinates, uniform over the plane."""
    return spark.range(n).select(
        F.col("id").alias(id_col),
        _h(salt + "lat", "id", mod=180_000_000).alias("lat_u"),
        _h(salt + "lon", "id", mod=360_000_000).alias("lon_u"),
    )


def synth_lots_dem(
    spark: SparkSession, n_lines: int, n_parts: int
) -> tuple[DataFrame, DataFrame]:
    """Lineitem-shaped supply lots and per-part demand: ~2/3 of rows
    are pre-cutoff lots, the rest aggregate into demand, qty 1..50."""
    base = spark.range(n_lines).select(
        _h("p", "id", mod=n_parts).alias("pk"),
        (_h("q", "id", mod=50) + 1).alias("qty"),
        F.timestamp_micros(_h("t", "id", mod=86_400_000) * 1_000_000).alias("sd"),
        F.col("id").alias("ok"),
        (F.col("id") % 7).cast("int").alias("ln"),
        _h("s", "id", mod=3).alias("side"),
    )
    lots = base.filter(F.col("side") < 2).select("pk", "qty", "sd", "ok", "ln")
    dem = base.filter(F.col("side") == 2).groupBy("pk").agg(F.sum("qty").alias("demand"))
    return lots, dem


def synth_customers(spark: SparkSession, n: int) -> DataFrame:
    """(nk, band, seg): 25 nations, 11 bands, 5 segments by hash."""
    return spark.range(n).select(
        _h("n", "id", mod=25).alias("nk"),
        _h("b", "id", mod=11).alias("band"),
        F.concat(F.lit("seg"), _h("g", "id", mod=5)).alias("seg"),
    )


def synth_keyed_nation(spark: SparkSession, n: int, key: str, nat: str) -> DataFrame:
    """(key, nation) rows: ids 0..n-1 over 25 nations by hash."""
    return spark.range(n).select(
        F.col("id").alias(key), _h("n", "id", mod=25).cast("int").alias(nat)
    )


def synth_keys(spark: SparkSession, n: int, n_keys: int, salt: str) -> DataFrame:
    return spark.range(n).select(_h(salt, "id", mod=n_keys).alias("k"))


def synth_orders(spark: SparkSession, n: int, n_cust: int) -> DataFrame:
    """Orders-shaped rows: hash-spread customers and prices, dates
    uniform over the real 1995..2001 span."""
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        _h("c", "id", mod=n_cust).alias("o_custkey"),
        (_h("p", "id", mod=30_000_000) / 100.0 + 900.0).alias("o_totalprice"),
        _ts(_EPOCH_1995, _h("d", "id", mod=_DAY_SPAN) * 86_400).alias("o_orderdate"),
    )


def synth_orders_like(spark: SparkSession, n: int) -> DataFrame:
    """(orderkey, custkey, orderdate): 15k hash-scattered customers and
    days over 6 years from 1995, the 2-D distribution the space-filling
    sorts exist for."""
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        _h("c", "id", mod=15_000).alias("o_custkey"),
        _ts(789_004_800, _h("d", "id", mod=2190) * 86_400).alias("o_orderdate"),
    )


def with_priced(orders: DataFrame) -> DataFrame:
    """Add o_totalprice 0.01..9000.00 by hash of the order key."""
    return orders.withColumn(
        "o_totalprice", (_h("p", "o_orderkey", mod=900_000) + 1) / 100.0
    )


def with_priority(orders: DataFrame) -> DataFrame:
    """Add o_orderpriority: the 5 TPC-H levels by hash of the order key."""
    prios = F.array(*[F.lit(p) for p in _PRIOS])
    return orders.withColumn(
        "o_orderpriority",
        F.element_at(prios, (_h("q", "o_orderkey", mod=5) + 1).cast("int")),
    )


def synth_priced_orders(spark: SparkSession, n: int) -> DataFrame:
    """(o_orderkey 1..n, o_totalprice 10.00..999.99) by hash."""
    return spark.range(1, n + 1).select(
        F.col("id").alias("o_orderkey"),
        ((_h("p", "id", mod=99_000) + 1_000) / 100.0).alias("o_totalprice"),
    )


def synth_lineitem(spark: SparkSession, n: int) -> DataFrame:
    """(l_orderkey, l_returnflag): ~4 lines per order, flags R/A/N."""
    flags = F.array(F.lit("R"), F.lit("A"), F.lit("N"))
    return spark.range(n).select(
        (F.col("id") % (n // 4 + 1)).alias("l_orderkey"),
        F.element_at(flags, (_h("f", "id", mod=3) + 1).cast("int")).alias("l_returnflag"),
    )


def synth_lineitem_qty(spark: SparkSession, n: int, n_supp: int) -> DataFrame:
    """(l_orderkey, l_suppkey, l_quantity 1..50, l_extendedprice)."""
    return spark.range(n).select(
        (F.col("id") % (n // 4 + 1)).alias("l_orderkey"),
        _h("s", "id", mod=n_supp).alias("l_suppkey"),
        (_h("n", "id", mod=50) + 1).cast("double").alias("l_quantity"),
        (_h("e", "id", mod=10_000_000) / 100.0 + 900.0).alias("l_extendedprice"),
    )


def synth_li_sparse(spark: SparkSession, n: int) -> DataFrame:
    """Sparse per-part demand: 2000 parts, hash-scattered ship days
    over 6 years from 1992 — every part recurs."""
    return spark.range(n).select(
        _h("p", "id", mod=2_000).alias("l_partkey"),
        _ts(694_224_000, _h("d", "id", mod=2190) * 86_400).alias("l_shipdate"),
        (_h("q", "id", mod=50) + 1).cast("double").alias("l_quantity"),
    )


def synth_lineitem_brand(spark: SparkSession, n: int) -> DataFrame:
    """Lineitem rows with a p_brand column (25 brands), integral
    quantities 1..50, discounts 0..9% and a noisy power-law-ish price —
    the inputs the OLS and elasticity frames read."""
    qty = _h("q", "id", mod=50) + 1
    unit = _h("u", "id", mod=9_000) + 1_000
    return spark.range(n).select(
        qty.cast("double").alias("l_quantity"),
        (_h("d", "id", mod=10) / 100.0).alias("l_discount"),
        (qty * unit / 100.0).alias("l_extendedprice"),
        F.concat(F.lit("Brand#"), _h("b", "id", mod=25)).alias("p_brand"),
    )


def synth_events(spark: SparkSession, n: int) -> DataFrame:
    """5-type event stream: n/10 users, view/click/signup/error/purchase,
    30-day window from 2024-01-01 — every journey shape the attribution
    walks (multi-touch, zero-touch converter, never-converter)."""
    types = F.array(*[F.lit(t) for t in ("view", "click", "signup", "error", "purchase")])
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        _ts(1_704_067_200, _h("t", "id", mod=30 * 86_400)).alias("ts"),
        _h("u", "id", mod=n // 10).alias("user_id"),
        F.element_at(types, (_h("e", "id", mod=5) + 1).cast("int")).alias("event_type"),
        (_h("v", "id", mod=30_000) / 100.0).alias("value"),
    )


def synth_purchase_events(spark: SparkSession, n: int, n_users: int) -> DataFrame:
    """2-type event stream (1 in 5 a purchase, else a view) over
    ``n_users`` users and 30 days from 2024-01-01."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        _ts(1_704_067_200, _h("t", "id", mod=30 * 86_400)).alias("ts"),
        _h("u", "id", mod=n_users).alias("user_id"),
        F.when(_h("e", "id", mod=5) == 0, "purchase").otherwise("view").alias("event_type"),
        (_h("v", "id", mod=30_000) / 100.0).alias("value"),
    )
