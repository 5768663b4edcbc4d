"""Streaming parity tests: landing-dir file-source ingestion with
checkpointed exactly-once file tracking and idempotent date overwrite;
windowed aggregation equal to its batch twin."""

from __future__ import annotations

import time

from etl_neotel_sql_automation_spark.io_sources import read_csv_robust
from etl_neotel_sql_automation_spark.streaming.landing import (
    infer_landing_schema,
    stream_events_hourly,
    stream_landing_csv,
)
from etl_neotel_sql_automation_spark.schema import CONDUCTA_SPEC
from etl_neotel_sql_automation_spark.workload import queries
from tests.test_io_pipeline import _FakeConn

CSV_DAY1 = (
    "Agente;Fecha;ID;Campaña;In;% In;Tiempo medio de respuesta IN\n"
    "ana;12/08/2026;7;ventas;12;55.5;01:30:00\n"
)
CSV_DAY2 = (
    "Agente;Fecha;ID;Campaña;In;% In;Tiempo medio de respuesta IN\n"
    "bob;13/08/2026;8;soporte;3;44.5;02:15\n"
)
CSV_DAY2_FIX = (
    "Agente;Fecha;ID;Campaña;In;% In;Tiempo medio de respuesta IN\n"
    "eve;13/08/2026;9;ventas;5;66.0;00:30\n"
)


def _run_stream(spark, landing, out, ckpt):
    q = stream_landing_csv(spark, landing, CONDUCTA_SPEC, out, ckpt)
    q.awaitTermination(120)
    assert not q.isActive or q.stop() is None


def test_stream_landing_incremental_and_idempotent(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    (landing / "conducta_day1.csv").write_text(CSV_DAY1)
    # in-flight download must be invisible to the stream
    (landing / "conducta_tmp.csv.crdownload").write_text("partial")

    _run_stream(spark, landing, out, ckpt)
    rows = {(r.agente, str(r.fecha)) for r in spark.read.parquet(str(out)).collect()}
    assert rows == {("ana", "2026-08-12")}

    # second trigger: only the NEW file is processed (checkpoint seen-file
    # log); its date partition is added
    (landing / "conducta_day2.csv").write_text(CSV_DAY2)
    _run_stream(spark, landing, out, ckpt)
    rows = {(r.agente, str(r.fecha)) for r in spark.read.parquet(str(out)).collect()}
    assert rows == {("ana", "2026-08-12"), ("bob", "2026-08-13")}

    # corrected re-delivery for day 2 -> date partition replaced, day 1 kept
    (landing / "conducta_day2_fix.csv").write_text(CSV_DAY2_FIX)
    _run_stream(spark, landing, out, ckpt)
    rows = {(r.agente, str(r.fecha)) for r in spark.read.parquet(str(out)).collect()}
    assert rows == {("ana", "2026-08-12"), ("eve", "2026-08-13")}


def test_stream_landing_quoted_header_name_with_delimiter(spark, tmp_path):
    """A quoted header name that holds the delimiter is ONE column, in
    the stream's schema as in the batch read. Splitting the header on
    the delimiter gave the stream an extra column, so every later value
    landed one column to the right (here ``Fecha`` got the ID, its date
    key parsed as null and the key filter dropped the row)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "conducta_day1.csv").write_text(
        'Agente;"Nota; libre";Fecha;ID;In\n'
        "ana;x;12/08/2026;7;12\n"
    )
    schema, _, _ = infer_landing_schema(spark, landing)
    batch = read_csv_robust(spark, landing / "conducta_day1.csv")
    assert schema.fieldNames() == batch.columns == ["Agente", "Nota; libre", "Fecha", "ID", "In"]
    _run_stream(spark, landing, tmp_path / "out", tmp_path / "ckpt")
    rows = [
        (r.agente, str(r.fecha), r.id, r.in_total)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    assert rows == [("ana", "2026-08-12", 7, 12)]


def test_stream_landing_archives_processed_files(spark, tmp_path):
    """ST-4 landing hygiene: with cleanSource=archive, files from a
    committed batch are moved into the archive dir when the following
    run commits them — the landing dir reaches the reference's
    post-load steady state (processed files gone, never re-read)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt, arch = tmp_path / "out", tmp_path / "ckpt", tmp_path / "archive"
    (landing / "conducta_day1.csv").write_text(CSV_DAY1)

    def run():
        q = stream_landing_csv(
            spark, landing, CONDUCTA_SPEC, out, ckpt,
            clean_source="archive", archive_dir=arch,
        )
        q.awaitTermination(120)
        assert not q.isActive or q.stop() is None

    run()
    # second run (with a new file so a batch commits) archives day1
    (landing / "conducta_day2.csv").write_text(CSV_DAY2)
    run()
    deadline = time.time() + 30  # archival is async best-effort
    while time.time() < deadline and (landing / "conducta_day1.csv").exists():
        time.sleep(0.5)
    archived = [p.name for p in arch.rglob("*.csv")]
    assert archived == ["conducta_day1.csv"]
    assert not (landing / "conducta_day1.csv").exists()
    # archived file was processed exactly once; output is intact
    rows = {(r.agente, str(r.fecha)) for r in spark.read.parquet(str(out)).collect()}
    assert rows == {("ana", "2026-08-12"), ("bob", "2026-08-13")}


def test_streaming_matches_batch_twin(spark):
    sf = "/root/testdata/sf0.001"
    streamed = stream_events_hourly(spark, sf)
    batch = queries()["events_hourly_tumbling"](spark, sf)
    s = {tuple(map(str, r)) for r in streamed.collect()}
    b = {tuple(map(str, r)) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stream_landing_to_jdbc_transactional_per_date(spark, tmp_path):
    """Streaming landing -> conform -> JdbcStagingWriter: each date in
    each micro-batch loads through ONE staging transaction (DELETE +
    INSERT ... SELECT + DROP, then commit); a re-delivered fixed file
    re-runs its date's transaction so the warehouse CONVERGES — the
    streaming twin of the batch loader's idempotence."""
    from etl_neotel_sql_automation_spark.io_sinks import JdbcStagingWriter
    from etl_neotel_sql_automation_spark.streaming.landing import (
        stream_landing_to_jdbc,
    )

    log: list = []
    captured: list = []
    writer = JdbcStagingWriter(
        url="jdbc:fake",
        connect=lambda: _FakeConn(log),
        spark_jdbc_write=lambda df, staging: captured.append(
            (staging, {tuple(r) for r in df.select("agente", "fecha").collect()})
        ),
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "conducta_day1.csv").write_text(CSV_DAY1)
    (landing / "conducta_day2.csv").write_text(CSV_DAY2)
    table = "tbl_neotel_conducta"
    q = stream_landing_to_jdbc(
        spark, landing, CONDUCTA_SPEC, writer, table, tmp_path / "ckpt"
    )
    q.awaitTermination()
    # both dates loaded, each via its own staging transaction
    assert {s for (s, _) in captured} and len(captured) == 2
    dates_loaded = {str(f) for (_, rows) in captured for (_, f) in rows}
    assert dates_loaded == {"2026-08-12", "2026-08-13"}
    commits = [e for e in log if e[0] == "commit"]
    deletes = [e for e in log if e[0] == "exec" and e[1].startswith("DELETE")]
    assert len(commits) == 2 and len(deletes) == 2

    # corrected re-delivery of day 2 -> exactly one more transaction
    (landing / "conducta_day2_fix.csv").write_text(CSV_DAY2_FIX)
    q2 = stream_landing_to_jdbc(
        spark, landing, CONDUCTA_SPEC, writer, table, tmp_path / "ckpt"
    )
    q2.awaitTermination()
    assert len(captured) == 3
    assert {(a, str(f)) for (a, f) in captured[-1][1]} == {("eve", "2026-08-13")}


def test_contam_guard_stream_equals_batch(spark):
    """The streaming contamination guard (stream-static semi-join +
    stateful doc dedup) must emit exactly the batch contaminated-doc
    set — the availableNow finite-run parity contract every streaming
    twin in this repo holds (its DuckDB oracle runs in check_oracle;
    this pins the ENGINE-side batch/stream equivalence)."""
    from etl_neotel_sql_automation_spark.streaming.landing import (
        stream_contamination_guard,
    )
    from etl_neotel_sql_automation_spark.workload.corpus_mining import (
        contam_span_frame,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"] for r in stream_contamination_guard(spark, sf).collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    want = {r["doc_id"] for r in contam_span_frame(docs).select("doc_id").collect()}
    assert got == want and got


def test_contam_guard_bloom_stream_is_output_invariant(spark):
    """The bloom-prefiltered streaming guard must emit EXACTLY the
    plain streaming guard's doc set (no false negatives => the screen
    is output-invariant) — the streaming half of the batch invariance
    test in test_corpus_mining; its shared DuckDB oracle runs in
    check_oracle."""
    from etl_neotel_sql_automation_spark.streaming.landing import (
        stream_contamination_guard,
        stream_contamination_guard_bloom,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"] for r in stream_contamination_guard_bloom(spark, sf).collect()
    }
    want = {r["doc_id"] for r in stream_contamination_guard(spark, sf).collect()}
    assert got == want and got


def test_streaming_observe_metrics(spark):
    """df.observe works on STREAMING frames: per-micro-batch metric
    rows surface in StreamingQueryProgress.observedMetrics — the
    zero-extra-pass pipeline observability hook (batch pipeline.py
    already uses Observation; this pins the streaming face). DISTINCT
    aggregates are rejected by observed metrics, so the distinct-user
    gauge is the HLL approximation."""
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.streaming.landing import events_stream

    sf = "/root/testdata/sf0.001"
    src = events_stream(spark, sf).observe(
        "ingest_stats",
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("user_id").alias("users_approx"),
        F.max("user_id").alias("max_user"),
    )
    q = (
        src.writeStream.outputMode("append")
        .format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p["observedMetrics"]]
    assert progresses, "no observed metrics surfaced"
    m = progresses[-1]["observedMetrics"]["ingest_stats"]
    batch = spark.read.parquet(f"{sf}/events.parquet")
    assert m["rows"] == batch.count()
    assert m["max_user"] == batch.agg(F.max("user_id")).first()[0]
    exact_users = batch.select("user_id").distinct().count()
    assert abs(m["users_approx"] - exact_users) <= 0.1 * exact_users


def test_monitors_read_nanos_ts_without_prior_conf(spark, tmp_path):
    """events.parquet has shipped with ``ts`` as INT64 TIMESTAMP(NANOS),
    which Spark's parquet reader rejects unless nanosAsLong is set. The
    SRM and Welch streaming monitors must read such a file in a session
    where no earlier events read has set that conf, and still equal
    their batch twins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_neotel_sql_automation_spark.streaming.landing import (
        stream_srm_monitor,
        stream_welch_monitor,
    )

    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("ns"))
    )
    pq.write_table(t, tmp_path / "events.parquet")
    sf = str(tmp_path)

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    pairs = [
        (stream_srm_monitor, "events_srm_check"),
        (stream_welch_monitor, "events_welch_ttest"),
    ]
    try:
        for monitor, twin in pairs:
            # Unset before each monitor: one monitor's read sets the conf.
            spark.conf.unset(key)
            got = {tuple(r) for r in monitor(spark, sf).collect()}
            assert got == {tuple(r) for r in queries()[twin](spark, sf).collect()}
            assert got
    finally:
        spark.conf.set(key, prev)
