"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (multi-way star join +
aggregation; fixed dims broadcast, scaling tables AQE-planned) on
sf0.001. ``queries()`` / ``oracle_sql()`` expose the
engine's workload registry
(``etl_neotel_sql_automation_spark/workload/``): one entry per
implemented operator from SURVEY.md §2 plus the LLM-data-pipeline ops,
each paired with the DuckDB oracle SQL the driver hash-compares at
sf=0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_neotel_sql_automation_spark import workload

SF0001 = "/root/testdata/sf0.001"

# Queries legitimately empty at the tiny sf0.001 fixture (selective
# predicates over ~1.5k orders); every one is nonzero at sf0.01, where
# tools/check_oracle.py enforces the hard nonzero-row floor. At sf0.001
# the oracle check passes one of these on 0 rows only when its DuckDB
# oracle is empty too, and tests/test_entry_contract.py keeps the set
# EXACT: an entry that starts returning rows here is stale and must be
# removed, and a new empty query must be consciously added (or fixed).
EMPTY_OK_SF0001 = frozenset({
    "q11_important_parts",
    "q21_waiting_supplier",
    "set_except_lapsed_buyers",
    # k=48 peels the whole sf0.001 purchase graph (degrees scale with
    # SF; the k is pinned where sf0.01 shows a genuine 3-round cascade
    # — see workload/wave6.py _K)
    "graph_kcore",
    # sf0.001 events are too sparse for any cross-type session pair to
    # overlap in time (sessions are near-singleton points); 1 row at
    # sf0.01, 9 at sf0.1
    "events_session_overlap",
})


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return workload.queries()["flagship_region_revenue"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return workload.queries()


def oracle_sql() -> dict[str, str]:
    return workload.oracle_sql()
