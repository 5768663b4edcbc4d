"""Column-function library — the engine's scalar-coercion surface.

Re-expresses the reference's four transform functions
(``limpiar_nombre_columna`` main.py:386, ``convertir_tiempo_a_minutos``
main.py:425, ``procesar_columnas_enteros`` main.py:501,
``procesar_columnas_flotantes`` main.py:516) plus its inline date
handling (main.py:1239, 1295, 1527-1531) as **pure built-in Spark
column expressions** — no Python UDFs, so whole-stage codegen,
predicate pushdown and column pruning stay intact (SURVEY.md §2.10).
Time cells parse with one anchored regex rather than a split/trim/cast
tree per part. The time rule is one SQL definition,
:func:`time_minutes_sql`, over a stripped string cell
(:func:`time_cell_sql`): :func:`time_str_to_minutes` applies it to one
column, and ``conform`` applies it once per report, as a lambda over an
array of the report's time cells. Written out once per column, the 26
time columns of ``estados_operativos`` generated a method of 47,411
bytecode bytes, past the 8,000 bytes above which HotSpot does not
JIT-compile a method, so the stage ran in the bytecode interpreter;
shared, the stage's largest method is 3,119 bytes.

Every expression is total (never raises) and ANSI-safe: all parsing
uses ``try_*`` forms, so behavior is identical whether the session has
``spark.sql.ansi.enabled`` true (Spark 4 default) or false.

The four coercions conform applies per column (``time_str_to_minutes``,
``int0``, ``float0``, ``date_dayfirst``) take a column name and are built
as ONE ``F.expr`` of SQL text each. Built from ``Column`` operators, every
function call, literal and cast is its own py4j round trip to the JVM:
``time_str_to_minutes`` took ~300 py4j commands and ~38 ms per column,
``date_dayfirst`` ~100 and ~9 ms (4-core VM, warm session), paid again
on every run for each of the ~40 coerced columns. As SQL text each takes
3 commands and ~0.3 ms, and Spark's parser builds the equivalent expression.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# Sentinel strings the reference maps to 0.0 before any parsing
# (main.py:442-443).
TIME_SENTINELS = ("-", "", "nan", "None")

# What Python's ``str.strip()`` removes, ASCII part: ``int()`` and
# ``float()`` strip only the first six (_SPACE, Java regex ``\s``), so
# the outer strip and the separators of _HMS_RE differ on purpose.
_PY_STRIP = " \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f"
_SPACE = f"[{_PY_STRIP[:6]}]*"

# ``h:m`` or ``h:m:s``, each part what Python ``int()`` accepts (sign +
# ASCII digits, whitespace at either end); "30.5" fails int() and the
# reference returns 0.0 (main.py:450-456 ``map(int, parts)``). It ends
# with ``(?!(?s:.))`` (Java's ``\z``), not ``$``: Java's ``$`` also
# matches before a final line terminator. The pattern has no backslash,
# so it reads the same in a SQL string literal whatever
# ``spark.sql.parser.escapedStringLiterals`` says.
_HMS_RE = (
    f"^([+-]?[0-9]+){_SPACE}:{_SPACE}([+-]?[0-9]+)"
    f"(?:{_SPACE}:{_SPACE}([+-]?[0-9]+))?(?!(?s:.))"
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def time_str_to_minutes(c: str) -> Column:
    """``HH:MM:SS``/``HH:MM``/numeric/sentinel -> decimal minutes (double).

    Parity target: ``convertir_tiempo_a_minutos`` (main.py:425-462):

    - null, ``'-'``, ``''``, ``'nan'``, ``'None'`` (after strip) -> 0.0
    - ``"01:30:00"`` -> 90.0; ``"02:15"`` -> 135.0 (h*60 + m + s/60)
    - colon-form with non-integer parts (``"ab:cd"``, ``"1:30.5"``) or a
      part or ``h*60 + m`` beyond a long -> 0.0
    - no colon: ``float(str)`` -> value, unparseable -> 0.0

    A single per-value expression subsumes the reference's column-level
    autodetect two-pass (``procesar_columnas_tiempo`` main.py:465-498):
    a value without ``:`` falls through to the numeric branch.
    """
    return F.expr(time_minutes_sql(time_cell_sql(c)))


def time_cell_sql(c: str) -> str:
    """Column ``c`` as the stripped STRING cell :func:`time_minutes_sql`
    reads."""
    return f"TRIM(BOTH '{_PY_STRIP}' FROM CAST({_ident(c)} AS STRING))"


def time_minutes_sql(s: str) -> str:
    """The rule of :func:`time_str_to_minutes` as SQL text over the
    stripped STRING-typed SQL expression ``s`` (:func:`time_cell_sql`);
    ``conform`` applies it once, as a lambda over all of a report's
    time cells. The rule reads ``s`` about eight times, and a lambda
    body is evaluated interpreted, without common-subexpression reuse,
    so the cell is stripped before it reaches the rule."""
    h, m, sec = (f"regexp_extract({s}, '{_HMS_RE}', {i})" for i in (1, 2, 3))
    # An unmatched group extracts as "": a missing seconds part is 0, a
    # failed match or a part or sum that overflows a long is null -> 0.0.
    sec = f"CASE WHEN {sec} = '' THEN 0 ELSE TRY_CAST({sec} AS BIGINT) END"
    hm = f"try_add(try_multiply(TRY_CAST({h} AS BIGINT), 60), TRY_CAST({m} AS BIGINT))"
    sentinels = ", ".join(f"'{v}'" for v in TIME_SENTINELS)
    return (
        f"CASE WHEN {s} IS NULL OR {s} IN ({sentinels}) THEN 0.0D"
        f" WHEN contains({s}, ':') THEN coalesce({hm} + {sec} / 60.0D, 0.0D)"
        f" ELSE coalesce(TRY_CAST({s} AS DOUBLE), 0.0D) END"
    )


def int0(c: str) -> Column:
    """Int coercion with 0 default, truncating through double.

    Parity target: ``pd.to_numeric(errors='coerce').fillna(0).astype(int)``
    (main.py:501-513): ``"3.7"`` -> 3 (numeric-then-truncate), ``"x"``/null
    -> 0. The cast path must go string->double->int — a direct string->int
    cast would null out ``"3.7"`` instead of truncating. A value outside
    the INT column's range (``"3e9"``) -> 0: a plain cast would saturate,
    or raise under ANSI.
    """
    return F.expr(
        f"coalesce(TRY_CAST(TRY_CAST(CAST({_ident(c)} AS STRING) AS DOUBLE) AS INT), 0)"
    )


def float0(c: str) -> Column:
    """Double coercion with 0.0 default
    (``pd.to_numeric(errors='coerce').fillna(0.0)``, main.py:516-528)."""
    return F.expr(f"coalesce(TRY_CAST(CAST({_ident(c)} AS STRING) AS DOUBLE), 0.0D)")


# Formats tried in order for day-first parsing. pandas
# ``to_datetime(dayfirst=True, errors='coerce')`` (main.py:1239, 1295)
# infers per element; these cover the report formats plus ISO fallback.
_DAYFIRST_FORMATS = (
    "d/M/yyyy",
    "d/M/yyyy H:mm:ss",
    "d/M/yyyy H:mm",
    "d-M-yyyy",
    "d-M-yyyy H:mm:ss",
    "yyyy-M-d",
    "yyyy-M-d H:mm:ss",
)


def date_dayfirst(c: str) -> Column:
    """Day-first date parse, unparseable -> null (``errors='coerce'``).

    ``"13/08/2026"`` -> 2026-08-13; ``"01/02/2026"`` -> Feb 1 (day first);
    ``"99/99/2026"`` -> null; a signed year (``"-512026-1-2"``, on which
    ``try_to_timestamp`` throws) -> null. Parity: main.py:1239, 1295.
    """
    s = f"TRIM(CAST({_ident(c)} AS STRING))"
    candidates = ", ".join(f"try_to_timestamp({s}, '{fmt}')" for fmt in _DAYFIRST_FORMATS)
    return F.expr(f"IF({s} RLIKE '^[+-]|[/-][+-]', NULL, CAST(coalesce({candidates}) AS DATE))")


def date_to_iso(c: Column | str) -> Column:
    """``DD/MM/YYYY`` string -> ``YYYY-MM-DD`` string, raw value kept on
    parse failure (main.py:1527-1531)."""
    s = _col(c).cast("string")
    parsed = F.try_to_timestamp(F.trim(s), F.lit("d/M/yyyy"))
    return F.coalesce(F.date_format(parsed, "yyyy-MM-dd"), s)


def clean_name(name: object) -> str:
    """Normalize a column *name* for SQL compatibility (driver-side —
    names are schema metadata, not data).

    Parity target ``limpiar_nombre_columna`` (main.py:386-422):
    NFKD accent-strip (``á``->``a``, ``ñ``->``n``), ``%\\s*`` -> ``pct_``,
    non-alphanumerics -> ``_``, collapse/strip ``_``, lowercase.
    ``"% In"`` -> ``"pct_in"``, ``"Año"`` -> ``"ano"``.
    """
    if not isinstance(name, str):
        name = str(name)
    name = unicodedata.normalize("NFKD", name)
    name = name.encode("ASCII", "ignore").decode("ASCII")
    name = re.sub(r"%\s*", "pct_", name)
    name = re.sub(r"[^a-zA-Z0-9]", "_", name)
    name = re.sub(r"_+", "_", name)
    name = name.strip("_")
    return name.lower()


def clean_name_col(c: Column | str) -> Column:
    """``clean_name`` as a *data* expression (same transform applied to
    column values, e.g. when normalizing category labels at scale).

    Accent folding covers the Latin-1 range the reference's reports use;
    arbitrary-unicode NFKD would need a pandas_udf (not worth leaving
    codegen for the ETL surface).
    """
    s = _col(c).cast("string")
    s = F.translate(
        s,
        "áéíóúüñÁÉÍÓÚÜÑàèìòùâêîôûãõçÀÈÌÒÙÂÊÎÔÛÃÕÇ",
        "aeiouunAEIOUUNaeiouaeiouaocAEIOUAEIOUAOC",
    )
    s = F.regexp_replace(s, r"%\s*", "pct_")
    s = F.regexp_replace(s, r"[^a-zA-Z0-9]", "_")
    s = F.regexp_replace(s, r"_+", "_")
    s = F.regexp_replace(s, r"^_|_$", "")
    return F.lower(s)
