"""Conformance-operator tests: raw report CSV shapes (FIXTURES.md §A)
through ``conform`` must reproduce the reference pipeline's output
semantics (main.py:1207-1308)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from etl_neotel_sql_automation_spark.conform import (
    conform,
    drop_all_null_rows,
    normalize_column_names,
)
from etl_neotel_sql_automation_spark.io_sinks import add_audit_column
from etl_neotel_sql_automation_spark.schema import (
    CONDUCTA_FINAL_COLS,
    CONDUCTA_SPEC,
    ESTADOS_FINAL_COLS,
    ESTADOS_SPEC,
    ConformSpec,
)


def _raw_conducta(spark):
    # Raw headers as the CRM emits them (FIXTURES.md §A1) — accents,
    # '%', reserved words, an extra column, and a missing one
    # (out_dialing family absent -> must be null-padded then 0-coerced).
    cols = ["Agente", "Fecha", "ID", "Campaña", "In", "% In", "Out",
            "% Out", "Tiempo medio de respuesta IN", "Extra Col"]
    rows = [
        ("ana", "13/08/2026", "7", "ventas", "12", "55.5", "3", "44.5", "01:30:00", "x"),
        ("bob", "13/08/2026", "8", "soporte", "bad", "-", "9", "", "02:15", "y"),
        ("eve", "99/99/2026", "9", "ventas", "1", "2", "3", "4", "-", "z"),  # bad date -> dropped
        ("mal", "12/08/2026", "oops", "ventas", "5", "6", "7", "8", "ab:cd", "w"),  # id->0, kept
    ]
    return spark.createDataFrame(rows, cols)


def test_conform_conducta_schema(spark):
    out = conform(_raw_conducta(spark), CONDUCTA_SPEC)
    assert out.columns == CONDUCTA_FINAL_COLS
    # compare names + types; nullability is advisory (coerced columns
    # come out non-nullable thanks to the 0-defaults)
    got = [(f.name, f.dataType) for f in out.schema.fields]
    want = [(f.name, f.dataType) for f in CONDUCTA_SPEC.target_schema().fields]
    assert got == want


def test_conform_conducta_values(spark):
    out = conform(_raw_conducta(spark), CONDUCTA_SPEC)
    rows = {r.agente: r for r in out.collect()}
    # bad-date row dropped (fecha null after coerce; key filter)
    assert set(rows) == {"ana", "bob", "mal"}
    ana = rows["ana"]
    assert ana.fecha.isoformat() == "2026-08-13"
    assert ana.in_total == 12 and ana.out_total == 3
    assert ana.pct_in == pytest.approx(55.5)
    assert ana.tiempo_medio_respuesta_in == pytest.approx(90.0)
    # missing source columns -> 0 after coercion, not null
    assert ana.out_dialing == 0 and ana.pct_out_dialing == 0.0
    assert ana.tiempo_medio_respuesta_out == 0.0
    # string column missing entirely -> stays null
    assert ana.llamados_con_hold == 0
    bob = rows["bob"]
    assert bob.in_total == 0          # "bad" -> 0
    assert bob.pct_in == 0.0          # "-" -> 0.0
    assert bob.pct_out == 0.0         # "" -> 0.0
    assert bob.tiempo_medio_respuesta_in == pytest.approx(135.0)
    mal = rows["mal"]
    assert mal.id == 0                # int-coerced key never drops a row
    assert mal.tiempo_medio_respuesta_in == 0.0  # "ab:cd" -> 0.0


def test_conform_estados(spark):
    cols = ["Fecha", "Intervalo", "ID", "Agente", "ID Campaña", "Campaña",
            "T Login", "T Diario Login"]
    rows = [
        ("13/08/2026", "09:00 - 09:30", "1", "ana", "5", "v", "00:30:00", "01:00:00"),
        ("13/08/2026", "09:30 - 10:00", "2", "bob", "5", "v", "7.5", "x"),
    ]
    out = conform(spark.createDataFrame(rows, cols), ESTADOS_SPEC)
    assert out.columns == ESTADOS_FINAL_COLS
    rows = {r.agente: r for r in out.collect()}
    assert rows["ana"].t_login == pytest.approx(30.0)
    assert rows["ana"].t_diario_login == pytest.approx(60.0)
    assert rows["bob"].t_login == pytest.approx(7.5)
    assert rows["bob"].t_diario_login == 0.0
    # all 24 unsupplied t_* columns coerced to 0.0, never null
    for c in ESTADOS_FINAL_COLS:
        if c.startswith("t_") and c not in ("t_login", "t_diario_login"):
            assert getattr(rows["ana"], c) == 0.0, c


def test_conform_estados_compiles(spark):
    """With all 26 time columns present, the conformed projection must
    compile: no silent fallback to interpreted execution when the
    generated method outgrows the JVM's 64 KB limit."""
    row = ["13/08/2026", "09:00 - 09:30", "1", "ana", "5", "v"]
    row += ["01:02:03"] * (len(ESTADOS_FINAL_COLS) - len(row))
    df = spark.createDataFrame([row], ESTADOS_FINAL_COLS)
    key = "spark.sql.codegen.fallback"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        [out] = conform(df, ESTADOS_SPEC).collect()
    finally:
        spark.conf.set(key, before)
    assert out.t_login == pytest.approx(62.05)


def _count_nodes(plan, name: str) -> int:
    """Expression nodes of class ``name`` in a logical plan, lambda
    bodies included: counted on the trees, as the plan's string form
    truncates long projections."""
    plans, exprs = [plan], []
    while plans:
        node = plans.pop()
        for seq, into in ((node.children(), plans), (node.expressions(), exprs)):
            into.extend(seq.apply(i) for i in range(seq.size()))
    n = 0
    while exprs:
        node = exprs.pop()
        n += node.getClass().getSimpleName() == name
        seq = node.children()
        exprs.extend(seq.apply(i) for i in range(seq.size()))
    return n


def test_conform_parses_time_columns_under_one_rule(spark):
    """The 26 present estados time columns parse under ONE copy of the
    time rule (a lambda over an array of the columns), not one copy per
    column, and the stage generates at most a quarter of the Java the
    per-column projection generates. The parsed columns stay
    non-nullable."""
    from etl_neotel_sql_automation_spark.functions import time_str_to_minutes

    row = ["13/08/2026", "09:00 - 09:30", "1", "ana", "5", "v"]
    row += ["01:02:03"] * (len(ESTADOS_FINAL_COLS) - len(row))
    df = spark.createDataFrame([row], ESTADOS_FINAL_COLS)
    times = [c for c in ESTADOS_FINAL_COLS if c in ESTADOS_SPEC.time_cols]
    assert len(times) == 26
    shared = conform(df, ESTADOS_SPEC)
    per_column = df.select(*[time_str_to_minutes(c).alias(c) if c in times else c for c in ESTADOS_FINAL_COLS])
    one_rule = _count_nodes(df.select(time_str_to_minutes(times[0]))._jdf.queryExecution().optimizedPlan(), "RegExpExtract")
    assert one_rule > 0
    assert _count_nodes(shared._jdf.queryExecution().optimizedPlan(), "RegExpExtract") == one_rule
    assert _count_nodes(per_column._jdf.queryExecution().optimizedPlan(), "RegExpExtract") == 26 * one_rule

    debug = spark._jvm.org.apache.spark.sql.execution.debug.package

    def java_chars(frame) -> int:
        code = debug.codegenStringSeq(frame._jdf.queryExecution().executedPlan())
        return sum(len(code.apply(i)._2()) for i in range(code.size()))

    assert java_chars(shared) * 4 <= java_chars(per_column)
    # non-null, as per column: later stages' code has no null checks
    assert not any(f.nullable for f in shared.schema.fields if f.name in times)


def test_normalize_collision_suffix(spark):
    assert normalize_column_names(["A b", "a_b"]) == ["a_b", "a_b_1"]


def test_conform_rename_onto_existing_name(spark):
    """A rename onto a name the source already has (``In`` -> in_total
    next to an ``In Total`` header) leaves two columns of that name:
    conform fails as ambiguous when the spec projects it, and keeps
    going when it does not. Renames are chosen against the cleaned
    source names and apply in map order, each to every column then
    carrying its key."""
    df = spark.createDataFrame([("ana", "13/08/2026", "1", "2")], ["Agente", "Fecha", "In", "In Total"])
    with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
        conform(df, CONDUCTA_SPEC)

    src = spark.createDataFrame([("1", "2", "3")], ["A", "B", "C"])
    spec = ConformSpec(name="t", rename_map={"a": "b", "b": "c"}, final_cols=["d"])
    assert [tuple(r) for r in conform(src, spec).collect()] == [(None,)]
    with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
        conform(src, ConformSpec(name="t", rename_map={"a": "b", "b": "c"}, final_cols=["c"]))
    # "b" is no source name, so only a -> b applies: no chain on to c
    spec = ConformSpec(name="t", rename_map={"a": "b", "b": "c"}, final_cols=["b", "c"])
    out = conform(src.select("A", "C"), spec)
    assert [tuple(r) for r in out.collect()] == [("1", "3")]


def test_drop_all_null_rows(spark):
    df = spark.createDataFrame(
        [Row(a=None, b=None), Row(a="x", b=None)],
        T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]),
    )
    assert drop_all_null_rows(df).count() == 1


def test_conform_is_narrow(spark):
    """Conformance must not shuffle: the physical plan should contain
    no Exchange — it's a single projection over the scan."""
    out = add_audit_column(conform(_raw_conducta(spark), CONDUCTA_SPEC))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_conform_load_date(spark):
    out = add_audit_column(conform(_raw_conducta(spark), CONDUCTA_SPEC))
    assert out.columns[-1] == "load_date"
    assert all(r.load_date is not None for r in out.collect())
