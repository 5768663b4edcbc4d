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

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Shared node-id offset for the bipartite customer-supplier purchase
# graph (graph_ops / wave6 / wave6d / wave77): supplier s becomes node
# GRAPH_SUPP_OFFSET + s. Far above any TPC-H custkey (150k rows/SF —
# 1e9 covers SF ~6666) so customer and supplier keyspaces can never
# collide; the r9 ADVICE flagged the old 100000 offset colliding at
# SF >= ~0.67. Every graph oracle interpolates the same constant.
GRAPH_SUPP_OFFSET = 1_000_000_000


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


def _spread_if_starved(df: DataFrame) -> DataFrame:
    """Raise scan parallelism for COMPUTE-BOUND corpus inputs when the
    file layout starves it. Tokenize/hash/dot-product projections cost
    CPU per row that size-based split planning cannot see (the
    pandas_grouped_outliers precedent): a small single-row-group
    parquet file yields ONE input partition, serializing the whole
    token/embedding pipeline through one core while the rest idle —
    measured 8x on the sf0.1 bigram-LM training pass (3.7 -> 0.5 s).

    Scale honesty: the repartition fires ONLY when the scan has fewer
    splits than the session's cores. At 100 TB the corpus scan has
    thousands of splits, the condition is false, and NO extra exchange
    appears in the plan — this is the local-file twin of the knob
    table in SCALING.md, not a pinned shuffle. Both halves of the
    claim are plan-asserted (tests/test_plans.py
    test_spread_if_starved_*: a >=cores-split fixture gets no
    Repartition node; a single-file fixture does).

    The rule is deliberately UNIFORM across consumers rather than
    gated per query: the exchange costs a starved scan one extra pass
    over data that fits one row group (<=128 MB — bounded, ~0.25 s
    measured on the cheapest consumer, dedup_fingerprint_docs at
    sf0.1), while skipping it costs a compute-bound consumer up to
    8x wall (quality_gopher_rules 1.61 -> 0.36 s, text_dup_span_stats
    3.47 -> 1.02 s in BENCH_r05). A per-query opt-out would re-derive
    "is my projection CPU-heavy?" at every call site and silently rot
    as queries evolve; the worst case of the uniform rule is bounded
    by the single-row-group size, the worst case of gating wrong is
    a serialized pipeline."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: never block a read
        return df
    return df if parts >= target else df.repartition(target)


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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one testdata table; pins session TZ to UTC
    so timestamp collection matches the UTC-naive oracle. The
    compute-heavy corpus tables (documents: tokenization/hashing;
    embeddings: quantized projections) pass through
    :func:`_spread_if_starved` so per-row CPU work parallelizes even
    off a single-row-group local file."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in ("documents", "embeddings"):
        return _spread_if_starved(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if name == "events":
        return read_events(spark, lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {n: w.fn for n, w in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: w.oracle for n, w in REGISTRY.items() if w.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all workload modules so their decorators populate REGISTRY."""
    global _LOADED
    if not _LOADED:
        from . import (  # noqa: F401
            advanced,
            analytics_extra,
            advanced2,
            breadth,
            corpus_mining,
            corpus_stats,
            curation,
            etl_surface,
            final_wave,
            graph_ops,
            insights,
            scale_diag,
            sql_surface,
            llm_ops,
            multimodal_extra,
            native_aggs,
            relational,
            tpch_extra,
            train_prep,
            timeseries,
            quality,
            temporal,
            tpch_wave3,
            tpch_wave4,
            tpch_wave5,
            wave6,
            wave6b,
            wave6c,
            wave6d,
            wave7,
            wave8,
            wave9,
            wave10,
            wave11,
            wave12,
            wave13,
            wave14,
            wave15,
            wave16,
            wave17,
            wave18,
            wave19,
            wave20,
            wave21,
            wave22,
            wave23,
            wave24,
            wave25,
            wave26,
            wave27,
            wave28,
            wave29,
            wave30,
            wave31,
            wave32,
            wave33,
            wave34,
            wave35,
            wave36,
            wave37,
            wave38,
            wave39,
            wave40,
            wave41,
            wave42,
            wave43,
            wave44,
            wave45,
            wave46,
            wave47,
            wave48,
            wave49,
            wave50,
            wave51,
            wave52,
            wave53,
            wave54,
            wave55,
            wave56,
            wave57,
            wave58,
            wave59,
            wave60,
            wave61,
            wave62,
            wave63,
            wave64,
            wave65,
            wave66,
            wave67,
            wave68,
            wave69,
            wave70,
            wave71,
            wave72,
            wave73,
            wave74,
            wave75,
            wave76,
            wave77,
            wave78,
        )

        _LOADED = True
