"""Driver-contract smoke: entry() returns rows on sf0.001; every
registered query runs there and every oracle key exists in queries().
(Full differential parity vs DuckDB runs via tools/check_oracle.py.)"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from __spark_entry__ import EMPTY_OK_SF0001


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # every oracle is non-trivial SQL
    assert all("SELECT" in s.upper() for s in oracles.values())


def test_all_queries_run_sf0001(registry_sf0001):
    """Every registered query builds and runs at sf0.001, and — except
    for the documented allowlist — returns at least one row (the
    nonzero-row floor: an empty result can match an empty oracle and go
    green vacuously)."""
    assert set(registry_sf0001) == set(entrymod.queries())
    failures = {}
    empty = set()
    for name, df in registry_sf0001.items():
        try:
            if isinstance(df, Exception):
                raise df
            if not df.limit(1).collect():
                empty.add(name)
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, failures
    assert empty == EMPTY_OK_SF0001, (
        f"unexpected empty: {sorted(empty - EMPTY_OK_SF0001)}; "
        f"stale allowlist: {sorted(EMPTY_OK_SF0001 - empty)}"
    )


def test_allowlisted_empties_are_nonzero_at_sf001(spark):
    """Each sf0.001-empty allowlisted query must produce rows one scale
    up — otherwise it is empty everywhere and the allowlist is hiding a
    degenerate query rather than a small fixture (q11's fixed threshold
    was exactly this before it became data-derived)."""
    qs = entrymod.queries()
    for name in EMPTY_OK_SF0001:
        assert qs[name](spark, "/root/testdata/sf0.01").limit(1).collect(), name


def test_session_warehouse_is_outside_the_checkout(spark):
    """Registered queries drop and rewrite fixed-name managed tables
    (dedup_embedding_indexed's ``lsh_idx_registered``), so a warehouse
    under the working directory is shared with every other process
    started there — an oracle sweep run beside the tests deleted the
    table files under them. The test session keeps its own."""
    from urllib.parse import urlparse

    warehouse = os.path.realpath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for d in {os.path.realpath(os.getcwd()), os.path.realpath(repo)}:
        assert os.path.commonpath([warehouse, d]) != d, (warehouse, d)
