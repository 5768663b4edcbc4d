"""Query workload registry — the driver-facing surface.

Each workload entry pairs a PySpark implementation (DataFrame/SQL,
Catalyst-optimized) with the ANSI-SQL oracle string the driver runs on
DuckDB over the same parquet tables. Registering both together keeps
names, aliases and semantics in lock-step (the driver hash-compares
column names and values).

Determinism rules every entry follows:

- Every computed column is aliased identically in Spark and SQL.
- Floating-point aggregates are ``round()``-ed identically on both
  sides, so engine-specific summation order cannot flip the value hash.
- Every ORDER BY used for top-k carries a full unique-key tiebreak.
- Timestamp semantics are pinned to UTC (the loader sets the session
  timezone) so Spark's session-TZ timestamps collect identically to
  DuckDB's naive UTC timestamps.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..ops.dedup import fan_out

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Shared node-id offset for the bipartite customer-supplier purchase
# graph (see purchase_graph): supplier s becomes node
# GRAPH_SUPP_OFFSET + s. Far above any TPC-H custkey (150k rows/SF —
# 1e9 covers SF ~6666) so customer and supplier keyspaces can never
# collide; the r9 ADVICE flagged the old 100000 offset colliding at
# SF >= ~0.67. Every graph oracle interpolates the same constant.
GRAPH_SUPP_OFFSET = 1_000_000_000


def purchase_pairs(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Distinct (c, s) customer-supplier purchase pairs, orders ⋈
    lineitem on the order key: the one source of every purchase-graph
    query. Pass a filtered ``lineitem`` for a sub-graph."""
    from pyspark.sql import functions as F

    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def purchase_graph(pairs: DataFrame) -> DataFrame:
    """The undirected purchase graph as (src, dst) edges: supplier ids
    shifted by GRAPH_SUPP_OFFSET into their own key space, every
    :func:`purchase_pairs` pair listed in both directions."""
    from pyspark.sql import functions as F

    supp = F.lit(GRAPH_SUPP_OFFSET) + F.col("s")
    return pairs.select(F.col("c").alias("src"), supp.alias("dst")).union(
        pairs.select(supp.alias("src"), F.col("c").alias("dst"))
    )

# DuckDB token list mirroring ops.text.tokens; every text oracle splices it.
_SQL_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

# Quantized embedding (integer-valued doubles make hyperplane projections
# order-independent-exact, hence engine-reproducible); every LSH oracle
# splices it.
_SQL_QV = "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000))"

# Exact wide integer for moment sums and closed forms, cast identically on
# both engines (DuckDB maps it to HUGEINT-range decimals).
_DEC = "DECIMAL(38,0)"

# Money value in exact integer cents: the same text on both engines, so
# Spark columns (:func:`cents`) and DuckDB oracles splice one rule.
_SQL_CENTS = "CAST(round(value * 100) AS BIGINT)"


def cents() -> Column:
    """:data:`_SQL_CENTS` as a Spark column."""
    from pyspark.sql import functions as F

    return F.expr(_SQL_CENTS)


@dataclass(frozen=True)
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => not SQL-expressible; driver does rows-only check


REGISTRY: dict[str, Workload] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a (spark_fn, oracle_sql) workload pair."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate workload name: {name}")
        REGISTRY[name] = Workload(name, fn, oracle)
        return fn

    return deco


def read_events(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """The events ``ts`` rule, shared by the batch :func:`table` and the
    streaming ``events_stream``. events.parquet has shipped with ts as
    either INT64 TIMESTAMP(NANOS) — which Spark's parquet
    reader only accepts as a raw long under nanosAsLong, so the conf is
    set before ``read`` resolves the file — or plain TIMESTAMP(MICROS).
    Both are normalized to a session-TZ timestamp; the caller pins the
    session TZ. Nanos path floor-divides ("div", not "/":
    ns-since-epoch exceeds 2^53, double division would lose precision);
    DuckDB's ns->us conversion floors identically."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


# Session confs that change the schema Spark infers from one parquet file.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# path -> (file identity, {conf values: schema}): read_events sets
# nanosAsLong mid-session, so one session reads a file under both values
_SCHEMAS: dict[str, tuple[tuple, dict[tuple, StructType]]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from the cache
    :func:`table` describes; a path with no local files (a remote URI)
    is read as is, uncached."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(d, f) for d, _, names in os.walk(path) for f in names)
    if not files:
        return spark.read.parquet(path)
    stats = [(os.path.relpath(f, path), os.stat(f)) for f in files]
    identity = tuple((rel, st.st_size, st.st_mtime_ns) for rel, st in stats)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    entry = _SCHEMAS.get(path)
    if entry is None or entry[0] != identity:
        entry = _SCHEMAS[path] = (identity, {})
    if confs not in entry[1]:
        df = spark.read.parquet(path)
        entry[1][confs] = df.schema
        return df
    return spark.read.schema(entry[1][confs]).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one testdata table; pins session TZ to UTC
    so timestamp collection matches the UTC-naive oracle. Schema
    inference runs a Spark job, so :func:`read_parquet` caches the schema
    by the relative path, size and ``mtime_ns`` of every file under the
    path and the :data:`_SCHEMA_CONFS` values; every call still lists the
    files and returns a fresh relation (two calls self-join), and the scan
    reads the footers when it runs. The CPU-heavy corpus tables
    (documents, embeddings) pass through :func:`~..ops.dedup.fan_out`."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name in ("documents", "embeddings"):
        return fan_out(read_parquet(spark, path))
    if name == "events":
        return read_events(spark, lambda: read_parquet(spark, path))
    return read_parquet(spark, path)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {n: w.fn for n, w in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: w.oracle for n, w in REGISTRY.items() if w.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every workload module, in name order, so their decorators
    populate REGISTRY."""
    global _LOADED
    if not _LOADED:
        for name in sorted(m.name for m in pkgutil.iter_modules(__path__)):
            importlib.import_module(f"{__name__}.{name}")
        _LOADED = True
