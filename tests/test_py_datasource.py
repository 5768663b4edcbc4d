"""Custom Python DataSource: partitioned parallel read, schema,
determinism (two reads and any partitioning yield identical rows)."""

from __future__ import annotations


def test_synthetic_datasource_partitioned_and_deterministic(spark):
    from etl_neotel_sql_automation_spark.py_datasource import (
        SyntheticEventsDataSource,
        synth_row,
    )

    spark.dataSource.register(SyntheticEventsDataSource)

    def load(parts):
        return (
            spark.read.format("synthetic_events")
            .option("rows", 500).option("partitions", parts).option("seed", 7)
            .load()
        )

    df = load(4)
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value"]
    # the read really is split: one spark partition per InputPartition
    assert df.rdd.getNumPartitions() == 4
    rows = {tuple(r) for r in df.collect()}
    assert len(rows) == 500
    # determinism: same seed under DIFFERENT partitioning -> same rows
    assert {tuple(r) for r in load(3).collect()} == rows
    # and each row is the declared pure function of (seed, event_id)
    assert rows == {synth_row(7, i) for i in range(500)}


def test_scale_probe_ops_run_over_synthetic_events(spark):
    """The scaling probe's operator bindings (the registered queries'
    shared frames) must run over the synthetic source — keeps the
    events family of tools/scale_probe.py from rotting as operators
    evolve, and pins the source's events-shaped schema contract (ts
    included)."""
    from etl_neotel_sql_automation_spark.py_datasource import (
        SyntheticEventsDataSource,
    )
    from tools.scale_probe import FAMILIES, Tables
    from tools.synth import events_at

    spark.dataSource.register(SyntheticEventsDataSource)
    ev = events_at(spark, 1).limit(2000).cache()
    try:
        t = Tables(spark, 1, events=ev)
        for name, leg in FAMILIES["events"].items():
            assert leg(t).count() > 0, name
    finally:
        ev.unpersist()


def test_jsonl_shards_writer_roundtrip(spark, tmp_path):
    """Write-side Python DataSource: documents stream to per-partition
    JSONL shards executor-side via attempt-unique temp files, the
    commit renames winners and seals a _MANIFEST whose row counts must
    equal the input, and the MANIFEST READER (the sink's read
    contract, not a glob) round-trips the data (doc_id sums compared —
    content, not just counts). No temp file survives the commit."""
    import glob
    import json

    from etl_neotel_sql_automation_spark.py_datasource import (
        JsonlShardsDataSource,
        read_jsonl_manifest,
    )

    spark.dataSource.register(JsonlShardsDataSource)
    out = str(tmp_path / "shards")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "source"
    ).repartition(4)
    docs.write.format("jsonl_shards").option("path", out).mode("append").save()

    manifest = json.load(open(f"{out}/_MANIFEST.json"))
    assert manifest["total_rows"] == docs.count()
    assert len(manifest["shards"]) >= 1
    assert glob.glob(f"{out}/part-*.jsonl.tmp") == []  # commit swept temps

    back = read_jsonl_manifest(spark, out)
    assert back.count() == docs.count()
    from pyspark.sql import functions as F

    assert (
        back.agg(F.sum("doc_id")).first()[0] == docs.agg(F.sum("doc_id")).first()[0]
    )


def test_jsonl_shards_overwrite_and_append_guard(spark, tmp_path):
    """mode('overwrite') must actually clear prior shards (manifest and
    directory stay consistent — the silent-append bug class), a stale
    shard not in the new write must be gone, and a NON-overwrite write
    into a populated directory must raise instead of mixing data."""
    import glob

    from pyspark.errors import AnalysisException

    from etl_neotel_sql_automation_spark.py_datasource import (
        JsonlShardsDataSource,
        read_jsonl_manifest,
    )

    spark.dataSource.register(JsonlShardsDataSource)
    out = str(tmp_path / "shards")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(4).write.format("jsonl_shards").option("path", out).mode(
        "append"
    ).save()
    assert len(glob.glob(f"{out}/part-*.jsonl")) == 4

    # overwrite with FEWER partitions: stale part-00002/3 must vanish
    docs.repartition(2).write.format("jsonl_shards").option("path", out).mode(
        "overwrite"
    ).save()
    assert len(glob.glob(f"{out}/part-*.jsonl")) == 2
    back = read_jsonl_manifest(spark, out)
    assert back.count() == docs.count()

    # append into a populated directory must refuse
    import pytest

    with pytest.raises(AnalysisException, match="already holds"):
        docs.write.format("jsonl_shards").option("path", out).mode("append").save()


def test_jsonl_manifest_reader_contract_edges(spark, tmp_path):
    """The r5-advice contract fixes: (a) a committed EMPTY write reads
    back as an empty DataFrame (with the caller's schema when given),
    never None; (b) an unsealed directory raises an error naming the
    commit contract, not a bare FileNotFoundError; (c) the commit
    sweep is scoped to THIS job's token — a concurrent job's in-flight
    temp attempt survives someone else's commit."""
    import pytest

    from etl_neotel_sql_automation_spark.py_datasource import (
        JsonlShardsDataSource,
        read_jsonl_manifest,
    )

    spark.dataSource.register(JsonlShardsDataSource)
    out = str(tmp_path / "empty_shards")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # (c): plant a foreign job's in-flight temp before our write
    import os

    os.makedirs(out, exist_ok=True)
    foreign = os.path.join(out, "part-00000-999-deadbeef0000.jsonl.tmp")
    open(foreign, "w").write('{"doc_id": 1}\n')

    # (a): zero-row write commits an empty manifest
    docs.filter("doc_id < 0").write.format("jsonl_shards").option(
        "path", out
    ).mode("append").save()
    back = read_jsonl_manifest(spark, out, schema="doc_id bigint, text string")
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["doc_id", "text"]
    assert read_jsonl_manifest(spark, out).count() == 0  # schema-less: still a DF

    assert os.path.exists(foreign)  # (c): foreign temp survived our commit

    # (b): unsealed directory names the contract
    raw = str(tmp_path / "never_committed")
    os.makedirs(raw)
    with pytest.raises(FileNotFoundError, match="never sealed"):
        read_jsonl_manifest(spark, raw)
