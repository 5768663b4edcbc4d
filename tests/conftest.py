from __future__ import annotations

import pytest

from etl_neotel_sql_automation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a fresh warehouse per session: the default ./spark-warehouse is
    # shared by every process started in the checkout, and registered
    # queries drop and rewrite fixed-name managed tables there
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    # keep session alive across test modules; stopped at interpreter exit


@pytest.fixture(scope="session")
def registry_sf0001(spark):
    """Every registered query built once on sf0.001 for the registry-wide
    tests: name -> its DataFrame, or the exception its build raised."""
    from etl_neotel_sql_automation_spark.workload import queries
    from test_plans import SF  # the sf0.001 test tables

    built = {}
    for name, fn in queries().items():
        try:
            built[name] = fn(spark, SF)
        except Exception as e:  # noqa: BLE001
            built[name] = e
    return built
