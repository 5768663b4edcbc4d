"""The experiment family's shared rules read the same on both engines:
the arm split, the cents rule, the conversion predicate, the per-user
cents total and the pre/post split give equal values in Spark (the
Column twins the frames use) and in DuckDB (the SQL texts the oracles
splice), on edge values: half cents, the 150 conversion bound, the
split instant and large user ids."""

from __future__ import annotations

import datetime

import duckdb

from etl_neotel_sql_automation_spark.workload import _SQL_CENTS, cents
from etl_neotel_sql_automation_spark.workload.experiments import (
    _SQL_POST,
    _SQL_PRE,
    SQL_CONVERTED,
    arm,
    converted,
    pre_post,
    sql_arm,
    user_cents,
)

_SCHEMA = "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
_SPLIT = datetime.datetime(2024, 1, 16)
_ROWS = [
    (uid, ts, etype, value)
    for uid in (0, 1, 2, 3, 7, 10**12 + 3)
    for ts in (_SPLIT - datetime.timedelta(microseconds=1), _SPLIT, datetime.datetime(2024, 1, 20))
    for etype, value in (
        ("purchase", 150.0),
        ("purchase", 150.01),
        ("view", 1.005),
        ("purchase", 2.675),
        ("purchase", 0.125),
        ("signup", -0.5),
    )
]


def _duck(sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE events ({_SCHEMA.replace('STRING', 'VARCHAR')})")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", _ROWS)
    return sorted(con.execute(sql).fetchall())


def test_shared_rules_match_across_engines(spark):
    ev = spark.createDataFrame(_ROWS, _SCHEMA)
    per_event = ev.select(
        "user_id", "ts", "value", arm(2), arm(4), cents(), converted()
    )
    got = sorted(tuple(r) for r in per_event.collect())
    assert got == _duck(
        f"SELECT user_id, ts, value, {sql_arm(2)}, {sql_arm(4)}, {_SQL_CENTS},"
        f" {SQL_CONVERTED} FROM events"
    )
    assert {r[3] for r in got} == {0, 1} and {r[4] for r in got} == {0, 1, 2, 3}
    assert {r[6] for r in got} == {True, False}

    per_user = user_cents(ev, *pre_post())
    got = sorted(tuple(r) for r in per_user.collect())
    assert got == _duck(
        f"SELECT user_id, CAST(sum({_SQL_CENTS}) AS BIGINT),"
        f" {_SQL_PRE}, {_SQL_POST} FROM events GROUP BY user_id"
    )
    # the split instant is post-period; a microsecond earlier is pre
    assert all(r.v == r.pre + r.post and r.pre * 2 == r.post for r in per_user.collect())
