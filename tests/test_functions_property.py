"""Property tests: the Spark coercion expressions agree with an
independent Python model of the reference semantics (main.py:425-528)
over adversarial inputs, and never raise."""

from __future__ import annotations

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_neotel_sql_automation_spark import functions as ef
from etl_neotel_sql_automation_spark.conform import conform
from etl_neotel_sql_automation_spark.schema import ConformSpec


def _py_time_to_minutes(v) -> float:
    """Python model of main.py:425-462 (test oracle, not engine code).

    ``str.strip()`` removes every whitespace character before the
    sentinel check, so ``"nan\\t"`` is the ``nan`` sentinel (0.0), not
    ``float("nan")``. It also removes ``\\x1c``-``\\x1f``, which ``int()``
    and ``float()`` keep: ``"1:\\x1c30"`` is 0.0. The fuzz alphabet has
    no such characters; TIME_CASES in test_functions.py pins them. A
    part of 19+ digits is a big int here but 0.0 in the engine (long
    overflow); the fuzz values are too short to reach it."""
    if v is None or str(v).strip() in ("-", "", "nan", "None"):
        return 0.0
    try:
        s = str(v).strip()
        if ":" in s:
            parts = s.split(":")
            if len(parts) == 3:
                h, m, sec = map(int, parts)
                return float(h * 60 + m + sec / 60)
            if len(parts) == 2:
                h, m = map(int, parts)
                return float(h * 60 + m)
            return 0.0  # reference: unpack of map() over !=2,3 parts raises -> 0.0
        return float(s)
    except (ValueError, TypeError):
        return 0.0


def _fuzz_values(n=3000, seed=42):
    rng = random.Random(seed)
    alphabet = string.digits + ":.-+ abc\t\n\rn"
    vals = [None, "-", "", "nan", "None", "00:00:00", "1:2", "1:2:3"]
    while len(vals) < n:
        vals.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))))
    return vals


# Cells the fuzz alphabet cannot make: a trailing empty part, the
# whitespace only ``str.strip()`` removes, and a long overflow in each
# part and in ``h*60 + m``.
_EDGE_CELLS = [
    "1:2:", ":", "1::2", "\x1c1:30\x1f", "1:\x1c30", " \x0b1:30\x0c",
    "9223372036854775808:0", "0:9223372036854775808", "0:0:9223372036854775808",
    "153722867280912931:0", "-153722867280912931:0", "1e400", "nan\t", "None ",
]


def test_time_to_minutes_fuzz_parity(spark):
    vals = _fuzz_values()
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(ef.time_str_to_minutes("v").alias("m")).collect()]
    for v, g in zip(vals, got):
        want = _py_time_to_minutes(v)
        # NaN compares unequal to itself; both sides must be NaN together
        if want != want:
            assert g != g, f"{v!r}: spark={g} python=NaN"
        else:
            assert abs(g - want) < 1e-9, f"{v!r}: spark={g} python={want}"

    # ``conform`` parses a report's time columns under one shared copy
    # of the rule: every cell equals ``time_str_to_minutes`` on that
    # column, with ANSI on and off, and a padded time column is 0.0.
    vals += _EDGE_CELLS
    cols = ["a", "b", "c"]
    rows = [(str(i), *(vals[(i + 7 * k) % len(vals)] for k in range(len(cols)))) for i in range(len(vals))]
    df = spark.createDataFrame(rows, "id string, a string, b string, c string")
    spec = ConformSpec(name="t", rename_map={}, final_cols=["id", *cols, "padded"], time_cols=[*cols, "padded"])
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    try:
        for ansi in ("true", "false"):
            spark.conf.set(key, ansi)
            shared = {r.id: r for r in conform(df, spec).collect()}
            per_col = df.select("id", *[ef.time_str_to_minutes(c).alias(c) for c in cols]).collect()
            assert len(shared) == len(per_col) == len(vals)
            for r in per_col:
                got = shared[r.id]
                assert got.padded == 0.0
                for k, c in enumerate(cols, 1):
                    g, want = getattr(got, c), getattr(r, c)
                    cell = rows[int(r.id)][k]
                    assert g == want or (g != g and want != want), f"ansi={ansi} {cell!r}: shared={g} per-column={want}"
    finally:
        spark.conf.set(key, before)


def _py_int0(v):
    """Python model of pd.to_numeric(errors='coerce').fillna(0).astype(int),
    landing in a 32-bit INT column: the reference's insert of a value
    outside that range fails, and the engine coerces it to 0 instead."""
    try:
        f = float(str(v).strip()) if v is not None and str(v).strip() != "" else 0.0
    except (ValueError, TypeError):
        f = 0.0
    if f != f or f in (float("inf"), float("-inf")):
        f = 0.0
    i = int(f)
    return i if -(2**31) <= i < 2**31 else 0


def test_numeric_coercion_fuzz_parity(spark):
    vals = _fuzz_values(n=2000, seed=7)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        ef.int0("v").alias("i"), ef.float0("v").alias("f")
    ).collect()
    for v, r in zip(vals, got):
        assert r.i == _py_int0(v), f"int0({v!r}) = {r.i} != {_py_int0(v)}"


@settings(max_examples=500, deadline=None)
@given(st.text(max_size=40))
def test_clean_name_total_and_idempotent(s):
    out = ef.clean_name(s)
    assert isinstance(out, str)
    # idempotent: cleaning a cleaned name is a no-op
    assert ef.clean_name(out) == out
    # output alphabet is [a-z0-9_], no leading/trailing underscore
    assert all(c in string.ascii_lowercase + string.digits + "_" for c in out)
    assert not out.startswith("_") and not out.endswith("_")
