"""Sources/sinks/pipeline tests: dialect sniffing across encodings and
separators, landing-dir dispatch, idempotent partition overwrite, JDBC
staging writer transaction plan, end-to-end ETL goldens."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from etl_neotel_sql_automation_spark.io_sinks import (
    JdbcStagingWriter,
    validate_table_name,
    write_partitioned_idempotent,
)
from etl_neotel_sql_automation_spark.io_sources import (
    identify_report_type,
    read_csv_robust,
    read_landing_dir,
    sniff_csv_dialect,
)
from etl_neotel_sql_automation_spark.pipeline import run_etl

CONDUCTA_CSV = (
    "Agente{d}Fecha{d}ID{d}Campaña{d}In{d}% In{d}Tiempo medio de respuesta IN\n"
    "ana{d}13/08/2026{d}7{d}ventas{d}12{d}55.5{d}01:30:00\n"
    "bob{d}13/08/2026{d}8{d}soporte{d}bad{d}-{d}02:15\n"
)
ESTADOS_CSV = (
    "Fecha{d}Intervalo{d}ID{d}Agente{d}ID Campaña{d}Campaña{d}T Login\n"
    "13/08/2026{d}09:00 - 09:30{d}1{d}ana{d}5{d}v{d}00:30:00\n"
)


def _assert_matches_spark_header_read(spark, p):
    """``read_csv_robust`` (header parsed driver-side) gives the columns
    and rows of Spark's own ``header=True`` read with the same dialect."""
    enc, sep = sniff_csv_dialect(p)
    want = (
        spark.read.option("header", True).option("encoding", enc).option("sep", sep)
        .option("mode", "PERMISSIVE").csv(str(p))
    )
    got = read_csv_robust(spark, p)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    return got


@pytest.mark.parametrize("encoding", ["utf-8", "latin-1", "cp1252"])
@pytest.mark.parametrize("sep", [",", ";", "\t"])
def test_sniff_and_read(spark, tmp_path, encoding, sep):
    p = tmp_path / "conducta.csv"
    p.write_bytes(CONDUCTA_CSV.format(d=sep).encode(encoding))
    enc, got_sep = sniff_csv_dialect(p)
    assert got_sep == sep
    df = _assert_matches_spark_header_read(spark, p)
    assert df.count() == 2
    # accented header survived the encoding round-trip
    assert any("Campa" in c for c in df.columns)


@pytest.mark.parametrize("sep", [",", ";"])
@pytest.mark.parametrize(
    "header,columns",
    [
        ('Agente{d}"Campaña{d} tipo"{d}ID', ["Agente", "Campaña{d} tipo", "ID"]),
        ("{d}Agente{d}{d}ID", ["_c0", "Agente", "_c2", "ID"]),
        ("id{d}Agente{d}ID{d}agente", ["id0", "Agente1", "ID2", "agente3"]),
        ("\ufeffAgente{d}ID", ["Agente", "ID"]),
    ],
    ids=["quoted_delimiter", "empty_names", "ci_duplicates", "utf8_bom"],
)
def test_read_csv_header_like_spark(spark, tmp_path, sep, header, columns):
    """Header names the driver-side parse must get as Spark does: a
    quoted name may hold the delimiter, an empty name becomes ``_c{i}``,
    case-insensitive duplicates get their position appended, a UTF-8
    byte-order mark is not part of the first name."""
    p = tmp_path / "conducta.csv"
    width = len(columns)
    p.write_text(
        header.format(d=sep) + "\n" + sep.join(f"v{i}" for i in range(width)) + "\n"
        + sep.join(["x"] * (width - 1)) + "\n",
        encoding="utf-8",
    )
    df = _assert_matches_spark_header_read(spark, p)
    assert df.columns == [c.format(d=sep) for c in columns]


def test_cp1252_specific_bytes_map_via_latin1(spark, tmp_path):
    """Golden file for the encoding-chain design choice (ENCODINGS drops
    cp1252 because latin-1 decodes every byte sequence, so cp1252 is
    unreachable — in our chain AND the reference's, main.py:1337).

    Consequence, accepted by design: cp1252-specific code points in the
    0x80–0x9F block (euro sign, smart quotes, em dash) do not FAIL —
    they decode as the corresponding latin-1 C1 control characters.
    Data is preserved byte-for-byte; only the glyph interpretation for
    those 27 codepoints differs. This test pins that behavior so a
    future chain change is a conscious one."""
    # cp1252: € = 0x80, ’ = 0x92, — = 0x97
    p = tmp_path / "cp1252.csv"
    note = "€100 ’quoted’ — dash"
    p.write_bytes(f"id,note\n1,{note}\n".encode("cp1252"))
    enc, sep = sniff_csv_dialect(p)
    assert enc == "ISO-8859-1"  # latin-1 catch-all, not cp1252
    assert sep == ","
    df = read_csv_robust(spark, p)
    [row] = df.collect()
    # byte-identical round trip: latin-1 maps 0x80→U+0080 etc.
    assert row["note"].encode("latin-1") == note.encode("cp1252")
    assert row["note"] == "\x80100 \x92quoted\x92 \x97 dash"


def test_sniff_utf8_char_straddling_sample_end(spark, tmp_path):
    """A UTF-8 character cut by the 8 KB sniff sample must not demote
    the file to ISO-8859-1, which would load every accent as mojibake."""
    head = "id,name\n1,"
    p = tmp_path / "conducta.csv"
    p.write_bytes((head + "a" * (8191 - len(head)) + "é\n").encode("utf-8"))
    assert sniff_csv_dialect(p) == ("UTF-8", ",")
    [row] = read_csv_robust(spark, p).collect()
    assert row["name"].endswith("aé")


def test_excel_bridge_gated_without_libs(spark, tmp_path):
    """Without openpyxl/xlrd the bridge must fail with the explicit
    NotImplementedError, not a raw ImportError mid-pipeline."""
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl present; gate not exercised")
    except ImportError:
        pass
    from etl_neotel_sql_automation_spark.io_sources import read_excel_bridge

    # structurally-valid zip: pandas' engine detection passes and the
    # openpyxl import gate is what fires (a corrupt zip would fail
    # earlier, in detection, and never reach the gate)
    import zipfile

    fake = tmp_path / "conducta.xlsx"
    with zipfile.ZipFile(fake, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", "<workbook/>")  # format inference -> xlsx
    with pytest.raises(NotImplementedError):
        read_excel_bridge(spark, fake)


def test_identify_report_type():
    assert identify_report_type("Conducta - Agentes 2026.csv") == "conducta"
    assert identify_report_type("estados_operativos.csv") == "estados_operativos"
    assert identify_report_type("REPORTE_OPERATIVO.csv") == "estados_operativos"
    assert identify_report_type("otra_cosa.csv") is None


def test_read_landing_dir_dispatch_and_union(spark, tmp_path):
    (tmp_path / "conducta_a.csv").write_text(CONDUCTA_CSV.format(d=";"))
    (tmp_path / "conducta_b.csv").write_text(CONDUCTA_CSV.format(d=","))
    (tmp_path / "estados.csv").write_text(ESTADOS_CSV.format(d=";"))
    (tmp_path / "ignored.txt").write_text("nope")
    (tmp_path / "estados.csv.crdownload").write_text("partial")
    out = read_landing_dir(spark, tmp_path)
    assert set(out) == {"conducta", "estados_operativos"}
    assert out["conducta"].count() == 4  # two files unioned
    assert out["estados_operativos"].count() == 1


def test_read_landing_dir_schema_drift(spark, tmp_path):
    """A report that gains a column mid-history (and one missing a
    column) must still union (allowMissingColumns) and conform: the
    extra column is dropped by the fixed projection, the missing one
    null-pads then coerces to its default — the schema-evolution path a
    years-long landing archive hits in practice."""
    from etl_neotel_sql_automation_spark.conform import conform
    from etl_neotel_sql_automation_spark.schema import CONDUCTA_SPEC

    (tmp_path / "conducta_old.csv").write_text(CONDUCTA_CSV.format(d=";"))
    (tmp_path / "conducta_new.csv").write_text(
        "Agente;Fecha;ID;Campaña;In;% In;Tiempo medio de respuesta IN;Columna Nueva\n"
        "eve;14/08/2026;9;ventas;3;10.0;00:45:00;extra\n"
    )
    out = read_landing_dir(spark, tmp_path)
    union = out["conducta"]
    assert union.count() == 3
    conformed = conform(union, CONDUCTA_SPEC)
    assert "columna_nueva" not in conformed.columns
    rows = {r.agente: r for r in conformed.collect()}
    assert rows["eve"].tiempo_medio_respuesta_in == pytest.approx(45.0)
    # the column missing from BOTH files null-padded then coerced to 0
    assert rows["eve"].out_total == 0


def test_partitioned_idempotent_overwrite(spark, tmp_path):
    """S-6 golden: re-writing the same date replaces it; other dates
    survive (FIXTURES.md §A3 'same date loaded twice')."""
    out = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [("a", "2026-08-12"), ("b", "2026-08-13")], ["v", "fecha"]
    )
    write_partitioned_idempotent(df1, out)
    # second run: new data for the 13th only — must replace, not append
    df2 = spark.createDataFrame(
        [("c", "2026-08-13"), ("d", "2026-08-13")], ["v", "fecha"]
    )
    write_partitioned_idempotent(df2, out)
    back = spark.read.parquet(out)
    # partition values are type-inferred on read -> dates
    rows = {(r.v, str(r.fecha)) for r in back.collect()}
    assert rows == {("a", "2026-08-12"), ("c", "2026-08-13"), ("d", "2026-08-13")}


def test_validate_table_name():
    assert validate_table_name("tbl_neotel_conducta") == "tbl_neotel_conducta"
    with pytest.raises(ValueError):
        validate_table_name("users; DROP TABLE x--")
    with pytest.raises(ValueError):
        validate_table_name("tbl_other")


class _FakeConn:
    def __init__(self, log):
        self.log = log
        self.rowcount = -1

    def cursor(self):
        return self

    def execute(self, sql, params=()):
        self.log.append(("exec", " ".join(sql.split()), params))
        self.rowcount = 1 if sql.lstrip().startswith("INSERT") else -1

    def commit(self):
        self.log.append(("commit",))

    def rollback(self):
        self.log.append(("rollback",))

    def close(self):
        self.log.append(("close",))


def test_jdbc_staging_writer_transaction_plan(spark):
    """The writer must: append to a per-run unique staging table via
    Spark, then in ONE driver transaction delete the date, move staging
    into the target with explicit column lists, and DROP the staging
    table (R-3 parity with main.py:1534-1572)."""
    log: list = []
    staged: list = []
    w = JdbcStagingWriter(
        url="jdbc:fake",
        connect=lambda: _FakeConn(log),
        spark_jdbc_write=lambda df, tbl: staged.append((tbl, df.count())),
    )
    df = spark.createDataFrame([(1, "2026-08-13")], ["id", "fecha"])
    n = w.write(df, "tbl_neotel_conducta", "2026-08-13")
    assert n == 1  # DB-reported INSERT rowcount, not a second Spark count
    assert len(staged) == 1 and staged[0][1] == 1
    staging = staged[0][0]
    assert staging.startswith("tbl_neotel_conducta__stg_")
    assert staging != "tbl_neotel_conducta__stg"  # unique per run
    sqls = [e[1] for e in log if e[0] == "exec"]
    assert sqls == [
        "DELETE FROM tbl_neotel_conducta WHERE CAST(fecha AS DATE) = ?",
        f"INSERT INTO tbl_neotel_conducta (id, fecha) SELECT id, fecha FROM {staging}",
        f"DROP TABLE {staging}",
    ]
    assert ("commit",) in log and ("rollback",) not in log
    # two writes use two distinct staging tables (concurrency safety)
    w.write(df, "tbl_neotel_conducta", "2026-08-13")
    assert staged[1][0] != staging
    # whitelist enforced before any SQL
    with pytest.raises(ValueError):
        w.write(df, "evil_table", "2026-08-13")
    # column identifiers are validated before interpolation
    bad = spark.createDataFrame([(1, "x")], ["id", "fecha; DROP--"])
    with pytest.raises(ValueError):
        w.write(bad, "tbl_neotel_conducta", "2026-08-13")


def test_jdbc_staging_writer_empty_skip(spark):
    w = JdbcStagingWriter(
        url="jdbc:fake",
        connect=lambda: pytest.fail("must not connect for empty df"),
        spark_jdbc_write=lambda df, tbl: pytest.fail("must not write empty df"),
    )
    empty = spark.createDataFrame([], "id int, fecha string")
    assert w.write(empty, "tbl_neotel_conducta", "2026-08-13") == 0


def test_run_etl_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "conducta.csv").write_text(CONDUCTA_CSV.format(d=";"))
    (landing / "estados operativos.csv").write_text(ESTADOS_CSV.format(d=","))
    out = tmp_path / "warehouse"
    counts = run_etl(spark, landing, out)
    assert counts == {"tbl_neotel_conducta": 2, "tbl_neotel_estados_operativos": 1}
    conducta = spark.read.parquet(str(out / "tbl_neotel_conducta"))
    assert conducta.count() == 2
    assert "load_date" in conducta.columns
    # partitioned layout on disk
    assert any(p.name.startswith("fecha=") for p in (out / "tbl_neotel_conducta").iterdir())
    # re-run: same counts, no duplicates (idempotency end-to-end)
    counts2 = run_etl(spark, landing, out)
    assert counts2 == counts
    assert spark.read.parquet(str(out / "tbl_neotel_conducta")).count() == 2


def test_run_etl_empty_landing(spark, tmp_path):
    empty = tmp_path / "vacant"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        run_etl(spark, empty, tmp_path / "o")


def test_run_etl_all_rows_keyless_aborts_and_keeps_loaded_dates(spark, tmp_path):
    """A day whose rows all lose their key (every date unparseable)
    loads nothing: ``run_etl`` raises ``ValueError``, and the date
    partition an earlier run wrote is untouched (same rows, same
    ``load_date``, same files): the empty load replaced no partition.
    At a warehouse never written it leaves no parquet file to read."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "conducta.csv").write_text(CONDUCTA_CSV.format(d=";"))
    out = tmp_path / "warehouse"
    assert run_etl(spark, landing, out) == {"tbl_neotel_conducta": 2}
    table = out / "tbl_neotel_conducta"

    def state():
        rows = sorted(map(tuple, spark.read.parquet(str(table)).collect()))
        return rows, sorted(str(f.relative_to(table)) for f in table.rglob("*.parquet"))

    before = state()
    (landing / "conducta.csv").write_text(
        "Agente;Fecha;ID\nana;99/99/2026;7\nbob;;8\n"
    )
    with pytest.raises(ValueError, match="empty"):
        run_etl(spark, landing, out)
    assert state() == before

    # at a warehouse never written, the empty load leaves the table
    # directory without a parquet file, so a reader finds no table
    fresh = tmp_path / "fresh" / "tbl_neotel_conducta"
    with pytest.raises(ValueError, match="empty"):
        run_etl(spark, landing, fresh.parent)
    assert not list(fresh.rglob("*.parquet"))
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(fresh)).collect()


_CODEGEN_PER_RUN = """
import json, sys
from etl_neotel_sql_automation_spark.pipeline import run_etl
from etl_neotel_sql_automation_spark.session import get_spark

spark = get_spark(app_name="codegen_reuse", master="local[2]", shuffle_partitions=2)
size = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()
chars = []
for _ in range(2):
    before = sum(size.getSnapshot().getValues())
    run_etl(spark, sys.argv[1], sys.argv[2])
    chars.append(sum(size.getSnapshot().getValues()) - before)
print(json.dumps({"chars": chars, "compiles": size.getCount()}))
"""


def test_run_etl_reuses_compiled_code(tmp_path):
    """A second ``run_etl`` in the same session compiles less than a
    tenth of the generated source the first one compiled: the run's
    ``load_date`` literal stays out of the conform stage, so that
    stage's code is the same on every run and comes from the codegen
    cache. Runs in a fresh JVM, whose source-size histogram (a
    1028-sample reservoir) then holds every compile exactly."""
    import json
    import os
    import subprocess
    import sys

    from etl_neotel_sql_automation_spark.schema import SPECS

    landing = tmp_path / "landing"
    landing.mkdir()
    # every spec column present, so no coercion folds to a constant
    for kind, spec in SPECS.items():
        row = ["13/08/2026" if c == "fecha" else "01:30:00" for c in spec.final_cols]
        (landing / f"{kind}.csv").write_text(
            ",".join(spec.final_cols) + "\n" + ",".join(row) + "\n"
        )
    root = Path(__file__).resolve().parents[1]
    env = {**os.environ, "PYTHONPATH": str(root), "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _CODEGEN_PER_RUN, str(landing), str(tmp_path / "wh")],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["compiles"] <= 1028, got  # every compile still in the reservoir
    first, second = got["chars"]
    assert second * 10 < first, got
    assert second == 0, got  # load_date reaches the code as a reference, not a literal


def test_compact_small_files(spark, tmp_path):
    from etl_neotel_sql_automation_spark.io_sinks import compact_small_files

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_small_files(spark, src, dst, target_file_mb=128)
    out_files = glob.glob(f"{dst}/*.parquet")
    assert len(out_files) == n == 1  # ~80KB of data -> one 128MB-target file
    got = spark.read.parquet(dst)
    assert got.count() == 10_000
    assert got.selectExpr("sum(v)").first()[0] == df.selectExpr("sum(v)").first()[0]


def test_write_training_shards_layout_and_stability(spark, tmp_path):
    """Shard export: shard=N partition layout with exactly the salted-
    md5 assignment (verified against a pure-Python replay), round-trip
    row equality, zstd files, and maxRecordsPerFile splitting."""
    from etl_neotel_sql_automation_spark.io_sinks import write_training_shards
    from etl_neotel_sql_automation_spark.ops.hashing import py_md5_long

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4, max_records_per_file=50)

    shard_dirs = sorted(p.name for p in (tmp_path / "shards").iterdir()
                        if p.name.startswith("shard="))
    assert shard_dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # assignment is the deterministic salted hash, row by row
    for r in back.select("doc_id", "shard").collect():
        assert r.shard == py_md5_long(f"shard:{r.doc_id}") % 4
    # maxRecordsPerFile: no single file holds more than 50 rows
    import pyarrow.parquet as pq
    for f in (tmp_path / "shards").rglob("*.parquet"):
        assert pq.ParquetFile(f).metadata.num_rows <= 50


def test_read_jsonl_docs_salvage_and_quarantine(spark, tmp_path):
    """JSONL corpus ingest: schema-pruned good rows, malformed lines
    quarantined verbatim, extra/missing fields handled (pruned /
    null-padded) — one bad line never fails the read."""
    from etl_neotel_sql_automation_spark.io_sources import read_jsonl_docs

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "source": "s0"}\n'
        '{"doc_id": 2, "text": "extra ok", "source": "s1", "unknown_key": 42}\n'
        'this is not json at all\n'
        '{"doc_id": 3, "text": "missing source"}\n'
        '{"doc_id": "not-a-number", "text": "bad type", "source": "s2"}\n'
    )
    good, quarantine, raw = read_jsonl_docs(spark, p)
    rows = {r.doc_id: r for r in good.collect()}
    assert set(rows) == {1, 2, 3}
    assert "unknown_key" not in good.columns        # schema pruned
    assert rows[3].source is None                   # missing field null-padded
    bad = [r._corrupt for r in quarantine.collect()]
    assert len(bad) == 2                            # garbage line + bad type
    assert "this is not json at all" in bad
    # deterministic cache release: the parent frame is exposed so a
    # long-lived session can drop the cached partitions when done
    assert raw.is_cached
    raw.unpersist()
    assert not raw.is_cached


def test_read_landing_dir_provenance(spark, tmp_path):
    """with_provenance=True stamps each row with its landing file name
    (row-level lineage for surgical reloads); conformance's fixed
    projection then drops it — provenance is an ingest concern."""
    from etl_neotel_sql_automation_spark.conform import conform
    from etl_neotel_sql_automation_spark.schema import CONDUCTA_SPEC

    (tmp_path / "conducta_a.csv").write_text(CONDUCTA_CSV.format(d=";"))
    (tmp_path / "conducta_b.csv").write_text(CONDUCTA_CSV.format(d=","))
    out = read_landing_dir(spark, tmp_path, with_provenance=True)
    rows = out["conducta"].collect()
    assert {r["_src_file"] for r in rows} == {"conducta_a.csv", "conducta_b.csv"}
    assert all(r["_src_file"] is not None for r in rows)
    assert "_src_file" not in conform(out["conducta"], CONDUCTA_SPEC).columns


def test_jdbc_staging_writer_rolls_back_on_midtxn_failure(spark):
    """R-3 failure path: if any statement inside the transaction throws
    (the INSERT..SELECT, or the in-transaction DROP), the writer must
    roll back — the target never shows a half-loaded date — close the
    connection, and propagate the error to the caller (exit-code path).
    On every failure path, a failed Spark append to staging included,
    the staging table is then dropped on its own connection: the
    rollback undid the in-transaction DROP, and a failed append opened
    no transaction at all."""

    class _ExplodingConn(_FakeConn):
        def __init__(self, log, fail_on):
            super().__init__(log)
            self.fail_on = fail_on

        def execute(self, sql, params=()):
            super().execute(sql, params)
            if self.fail_on and sql.lstrip().startswith(self.fail_on):
                raise RuntimeError("deadlock victim")

    df = spark.createDataFrame([("ana", "2026-08-13")], ["agente", "fecha"])
    cases = [
        # (statement that throws inside the transaction, expected error);
        # None: the Spark append to staging throws instead
        ("INSERT", "deadlock victim"),
        ("DROP TABLE tbl_neotel_conducta__stg_", "deadlock victim"),
        (None, "staging append failed"),
    ]
    for fail_on, err in cases:
        log: list = []
        staged: list = []

        def spark_jdbc_write(df, staging):
            staged.append(staging)
            if fail_on is None:
                raise RuntimeError("staging append failed")

        writer = JdbcStagingWriter(
            url="jdbc:fake",
            connect=lambda: _ExplodingConn(log, fail_on),
            spark_jdbc_write=spark_jdbc_write,
        )
        with pytest.raises(RuntimeError, match=err):
            writer.write(df, "tbl_neotel_conducta", "2026-08-13")
        # the staging table is dropped last, on its own committed connection
        assert log[-3:] == [
            ("exec", f"DROP TABLE IF EXISTS {staged[0]}", ()),
            ("commit",),
            ("close",),
        ], fail_on
        txn = log[:-3]
        if fail_on is None:
            assert txn == []  # the append failed before any transaction
            continue
        assert txn[-2:] == [("rollback",), ("close",)] and ("commit",) not in txn
        # the DELETE ran before the blow-up; rollback undoes it atomically
        assert any(e[0] == "exec" and e[1].startswith("DELETE") for e in txn)


def test_orc_roundtrip_preserves_conformed_frame(spark, tmp_path):
    """ORC sink/source parity (the second columnar format Spark ships
    natively): a conformed frame written as ORC reads back identical —
    schema and values — and column pruning reaches the ORC scan."""
    import pyspark.sql.functions as F

    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("val"),
    )
    path = str(tmp_path / "orc_out")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    # files always read back nullable; compare names and types
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    plan = (
        back.select("k", "grp")._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<k:bigint,grp:int>" in plan


def test_orc_round_trip_preserves_and_pushes_down(tmp_path, spark):
    """ORC coverage: a round-trip preserves rows/schema exactly, and a
    filtered read over the ORC files shows the predicate pushed into
    the scan (footer-stats formats must not degrade to post-scan
    filters)."""
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.io_sources import (
        read_columnar,
        write_columnar,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    dest = f"{tmp_path}/orders_orc"
    write_columnar(src, dest, fmt="orc")
    back = read_columnar(spark, dest, fmt="orc")
    assert back.schema == src.schema
    assert back.count() == src.count()
    filtered = back.filter(F.col("o_orderkey") == 42)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split(
        "PushedFilters"
    )[1][:120]
    import pytest

    with pytest.raises(ValueError, match="unsupported columnar format"):
        read_columnar(spark, dest, fmt="avro")
