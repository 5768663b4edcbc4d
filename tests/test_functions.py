"""Golden tests for the scalar-coercion library.

Every case is derived from the reference's observable semantics
(FIXTURES.md §A3; main.py:386-528, 1239).
"""

from __future__ import annotations

import math

import pytest

from etl_neotel_sql_automation_spark import functions as ef


def _eval(spark, expr, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr.alias("out")).collect()]


TIME_CASES = [
    ("01:30:00", 90.0),
    ("02:15", 135.0),
    ("7.5", 7.5),
    ("-", 0.0),
    ("", 0.0),
    ("   ", 0.0),
    ("nan", 0.0),
    ("None", 0.0),
    (None, 0.0),
    ("ab:cd", 0.0),
    ("1:30.5", 0.0),        # map(int, ...) raises in the reference -> 0.0
    ("1:2:3:4", 0.0),       # 4 parts -> unpacking fails -> 0.0
    ("00:00:30", 0.5),
    ("10:00:00", 600.0),
    (" 02:15 ", 135.0),     # outer whitespace stripped
    ("1: 30", 90.0),        # int(" 30") is valid Python
    ("-1:30", -30.0),       # int("-1") valid: -60 + 30
    ("1e2", 100.0),         # float("1e2") in the numeric branch
    ("garbage", 0.0),
    ("123", 123.0),
    ("01:30:00\t", 90.0),  # str.strip() removes all whitespace, not just ' '
    ("\t02:15", 135.0),
    ("1:\t30", 90.0),      # int("\t30") is valid Python
    ("nan\t", 0.0),        # a sentinel once stripped, not float("nan")
    ("\x1c1:30\x1f", 90.0),  # str.strip() removes \x1c-\x1f ...
    ("1:\x1c30", 0.0),       # ... but int() does not
    ("999999999999999999:00", 0.0),  # h*60 overflows a long
]


@pytest.mark.parametrize("raw,expected", TIME_CASES)
def test_time_str_to_minutes(spark, raw, expected):
    [out] = _eval(spark, ef.time_str_to_minutes("v"), [raw])
    assert out == pytest.approx(expected), f"{raw!r} -> {out}, want {expected}"


INT_CASES = [
    ("3.7", 3),
    ("-3.7", -3),
    ("42", 42),
    (" 42 ", 42),
    ("x", 0),
    ("", 0),
    (None, 0),
    ("1e3", 1000),
    ("3e9", 0),             # outside the INT column's range
    ("NaN", 0),
]


@pytest.mark.parametrize("raw,expected", INT_CASES)
def test_int0(spark, raw, expected):
    [out] = _eval(spark, ef.int0("v"), [raw])
    assert out == expected


FLOAT_CASES = [("3.7", 3.7), ("x", 0.0), ("", 0.0), (None, 0.0), ("1e-2", 0.01)]


@pytest.mark.parametrize("raw,expected", FLOAT_CASES)
def test_float0(spark, raw, expected):
    [out] = _eval(spark, ef.float0("v"), [raw])
    assert out == pytest.approx(expected)


DATE_CASES = [
    ("13/08/2026", "2026-08-13"),
    ("01/02/2026", "2026-02-01"),   # day-first
    ("1/2/2026", "2026-02-01"),
    ("99/99/2026", None),
    ("2026-08-13", "2026-08-13"),
    ("13/08/2026 14:30:00", "2026-08-13"),
    ("garbage", None),
    (None, None),
    ("-512026-1-2", None),  # try_to_timestamp throws long overflow on it
]


@pytest.mark.parametrize("raw,expected", DATE_CASES)
def test_date_dayfirst(spark, raw, expected):
    [out] = _eval(spark, ef.date_dayfirst("v"), [raw])
    assert (None if out is None else out.isoformat()) == expected


def test_date_to_iso(spark):
    vals = ["13/08/2026", "notadate"]
    out = _eval(spark, ef.date_to_iso("v"), vals)
    assert out == ["2026-08-13", "notadate"]


NAME_CASES = [
    ("% In", "pct_in"),
    ("Año", "ano"),
    ("Campaña", "campana"),
    ("In Rechazadas/Ignoradas", "in_rechazadas_ignoradas"),
    ("% In Rechazadas/Ignoradas", "pct_in_rechazadas_ignoradas"),
    ("Tiempo medio de respuesta IN", "tiempo_medio_de_respuesta_in"),
    ("  weird__name  ", "weird_name"),
    (123, "123"),
]


@pytest.mark.parametrize("raw,expected", NAME_CASES)
def test_clean_name(raw, expected):
    assert ef.clean_name(raw) == expected


@pytest.mark.parametrize("raw,expected", [(r, e) for r, e in NAME_CASES if isinstance(r, str)])
def test_clean_name_col_matches_python(spark, raw, expected):
    [out] = _eval(spark, ef.clean_name_col("v"), [raw])
    assert out == expected


def test_ansi_safety(spark):
    """All expressions must be total under ANSI mode (Spark 4 default —
    the driver's session may have it on)."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        vals = ["ab:cd", "1:2:3:4", "garbage", "", None, "99/99/2026", "3.7", "3e9",
                "999999999999999999:00"]
        _eval(spark, ef.time_str_to_minutes("v"), vals)
        _eval(spark, ef.int0("v"), vals)
        _eval(spark, ef.float0("v"), vals)
        _eval(spark, ef.date_dayfirst("v"), vals)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_time_str_no_python_udf(spark):
    """The coercion expressions must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython in the plan) so codegen and pushdown survive."""
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS v").select(
        ef.time_str_to_minutes("v").alias("m"),
        ef.int0("v").alias("i"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
