"""``workload.table()`` reads through a schema cache keyed by file
identity and the type-mapping confs: a repeated read of an unchanged
file runs no Spark job, yet every call is a fresh relation and a
rewritten file is seen."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_neotel_sql_automation_spark.streaming.landing import table_stream
from etl_neotel_sql_automation_spark import workload as W
from etl_neotel_sql_automation_spark.workload import queries, table
from test_plans import SF  # the sf0.001 test tables


def _jobs(spark, build):
    """``build()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    """Also across a nanosAsLong flip (``table("events")`` sets it
    mid-session): each conf value infers once."""
    pq.write_table(pq.read_table(f"{SF}/orders.parquet"), tmp_path / "orders.parquet")
    sf = str(tmp_path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            first = table(spark, sf, "orders")
        for value in ("false", "true"):
            spark.conf.set(key, value)
            second, jobs = _jobs(spark, lambda: table(spark, sf, "orders"))
            assert jobs == 0, value
    finally:
        spark.conf.set(key, prev)
    assert second.schema == first.schema == spark.read.parquet(f"{sf}/orders.parquet").schema
    assert second.count() == first.count() > 0


@pytest.mark.parametrize("form", ["file", "dir"])
def test_rewritten_table_shows_new_columns(spark, tmp_path, form):
    sf, path = str(tmp_path), str(tmp_path / "t.parquet")

    def write(data: dict):
        if form == "file":
            pq.write_table(pa.table(data), path)
        else:
            spark.createDataFrame(list(zip(*data.values())), list(data)).write.mode(
                "overwrite"
            ).parquet(path)

    write({"a": [1, 2]})
    assert table(spark, sf, "t").columns == ["a"]
    write({"a": [3], "b": ["x"]})
    again = table(spark, sf, "t")
    assert again.columns == ["a", "b"]
    assert [tuple(r) for r in again.collect()] == [(3, "x")]


def test_events_nanos_ts_stays_timestamp_after_conf_unset(spark, tmp_path):
    """events.parquet may carry ``ts`` as INT64 TIMESTAMP(NANOS); the
    cached schema must not outlive the nanosAsLong conf it was read
    under, and a second ``table("events")`` must still give a timestamp."""
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    sf = str(tmp_path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        first = table(spark, sf, "events")
        spark.conf.unset(key)
        second = table(spark, sf, "events")
        assert first.schema["ts"].dataType == second.schema["ts"].dataType == T.TimestampType()
        assert sorted(second.select("ts").collect()) == sorted(first.select("ts").collect())
    finally:
        spark.conf.set(key, prev)


def test_path_without_local_files_reads_uncached(spark):
    """A URI path (as on HDFS or S3) has no local files to key on: it is
    not cached, and ``table()`` reads it as a plain parquet read."""
    sf = "file://" + os.path.abspath(SF)
    df = table(spark, sf, "nation")
    assert f"{sf}/nation.parquet" not in W._SCHEMAS
    assert df.schema == spark.read.parquet(f"{SF}/nation.parquet").schema
    assert df.count() == 25
    stream = table_stream(spark, sf, "nation")
    assert stream.isStreaming and stream.schema == df.schema


def test_two_reads_of_one_table_self_join(spark):
    a, b = table(spark, SF, "nation"), table(spark, SF, "nation")
    assert a.join(b, a.n_regionkey == b.n_regionkey).count() == 125
    assert a.join(b, a.n_nationkey < b.n_nationkey).count() == 300
    same = a.join(b, a.n_nationkey == b.n_nationkey).filter(a.n_name != b.n_name)
    assert same.count() == 0


def test_conform_queries_build_without_jobs_on_a_warm_cache(spark):
    qs = queries()
    for name in ("etl_conform_conducta", "etl_conform_estados"):
        qs[name](spark, SF)  # warms the schema cache
        df, jobs = _jobs(spark, lambda name=name: qs[name](spark, SF))
        assert jobs == 0, name
        assert df.select(F.count("*")).first()[0] > 0
