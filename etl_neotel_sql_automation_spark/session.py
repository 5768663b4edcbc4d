"""SparkSession factory.

The engine's own sessions pin the configuration its semantics assume:

- ANSI off: the reference's coercions are ``errors='coerce'`` /
  ``fillna(0)`` (main.py:501-528) — failures become null/0, never raise.
  All engine expressions additionally use ``try_*`` forms so they stay
  correct even under a foreign ANSI-on session (Spark 4 default).
- UTC session timezone: parquet timestamps compare bit-stable against
  external oracles (DuckDB is UTC-naive).
- AQE on: runtime shuffle-partition coalescing, skew-join handling and
  join-strategy switching — the 100 TB posture knobs.
- A 400-entry generated-code cache (``spark.sql.codegen.cache.maxEntries``,
  one per JVM; Spark's default is 100), sized from class counts taken
  in one JVM with an unbounded cache: the nine ``analytics_sf01``
  benchmark queries plus one ``run_etl`` generate 129-142 distinct
  classes, the stable27 set plus one ``run_etl`` 291, and the whole
  415-query registry at sf0.001 5,762. 400 holds the stable27 + ETL
  working set with 37% headroom. It is a Guava cache of four LRU
  segments of a quarter each, so a segment evicts before the whole is
  full: a warm stable27 + ETL pass recompiled 282 classes at 100
  entries, 73 at 300 and none at 350 or 400. Cost, after a full GC: the
  whole registry retains about 32 KB of heap and 8 KB of metaspace per
  cached class (390 MB heap and 251 MB metaspace unbounded, 208 and
  206 MB at 100 entries), so 300 more entries cost about 10 MB of heap
  and 2.4 MB of metaspace; a cache that held the registry would cost
  180 MB of heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_neotel_sql_automation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes none and spark-submit supplies it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "400")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
