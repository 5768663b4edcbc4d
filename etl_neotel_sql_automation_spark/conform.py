"""The schema-conformance operator: normalize -> rename -> pad ->
project -> coerce -> key-filter, as one reusable DataFrame transform.

Re-expresses ``transformar_conducta_agentes`` (main.py:1207-1261) and
``transformar_estados_operativos`` (main.py:1264-1308) — the cleanest
seam in the reference: a pure DataFrame -> DataFrame function — driven
by a :class:`~etl_neotel_sql_automation_spark.schema.ConformSpec`.

Scale notes (100 TB posture): every step is a *narrow* transformation —
the names are worked out in Python and applied with one ``toDF``, one
``select`` pads, projects and coerces, a second ``select`` reads the
parsed time columns back, and ``na.drop`` filters keys (four eagerly
analyzed DataFrames, not one per step); no shuffle is introduced, and
Catalyst prunes unreferenced source columns down to the reader.

The time rule is written once per report, not once per time column:
the present time columns go through it as one array
(``transform(array(...), x -> rule)``). On a 26-time-column estados
frame that is 4 ``regexp_extract`` nodes instead of 104 and 67 k chars
of generated Java instead of 634 k. ``transform`` is evaluated outside
whole-stage codegen, which splits the stage in two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import (
    clean_name,
    date_dayfirst,
    float0,
    int0,
    time_cell_sql,
    time_minutes_sql,
    time_str_to_minutes,
)
from .schema import ConformSpec


def normalize_column_names(columns: list[str]) -> list[str]:
    """P-1: clean every column name (main.py:1222, 1278). Collisions
    after cleaning get a positional suffix — pandas would silently
    create duplicate labels; Spark cannot, and the suffix keeps the
    data instead of corrupting it."""
    seen: dict[str, int] = {}
    out = []
    for c in map(clean_name, columns):
        if c in seen:
            seen[c] += 1
            out.append(f"{c}_{seen[c]}")
        else:
            seen[c] = 0
            out.append(c)
    return out


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    """P-5: ``dropna(how='all')`` right after read (main.py:1352)."""
    return df.na.drop(how="all")


def conform(df: DataFrame, spec: ConformSpec) -> DataFrame:
    """Conform an arbitrarily-shaped source DataFrame to ``spec``.

    Steps (numbering mirrors main.py:1219-1258):

    1. normalize column names (P-1)
    2. apply the rename map (P-2)
    3. null-pad missing target columns (P-3)
    4. project to exactly the target columns, in order (P-4)
    5. coerce: dates day-first (T-1), ints else 0 (T-2), floats else
       0.0 (T-3), time strings -> decimal minutes (T-4/T-5)
    6. drop rows with null keys (P-6) — *after* coercion, as in the
       reference, so 0-defaulted numeric keys never drop
    """
    # Renames apply in map order to every column then carrying the key,
    # as withColumnsRenamed does; a rename onto a present name makes two
    # columns of that name, and selecting it fails as ambiguous.
    names = normalize_column_names(df.columns)
    for old, new in [(k, v) for k, v in spec.rename_map.items() if k in names]:
        names = [new if n == old else n for n in names]

    # Coercion per column (later lists win) and its value on an all-null
    # column. A padded column is all-null, so it gets that constant: a
    # much smaller expression tree to analyze (estados pads 22 of 26).
    rules = {}
    for cols, fn, const in (
        (spec.date_cols, date_dayfirst, "CAST(NULL AS DATE)"),
        (spec.int_cols, int0, "0"),
        (spec.float_cols, float0, "0.0D"),
        (spec.time_cols, time_str_to_minutes, "0.0D"),
    ):
        rules.update(dict.fromkeys(cols, (fn, const)))
    padded = set(spec.final_cols) - set(names)
    projection, times = [], []
    for c in spec.final_cols:
        fn, const = rules.get(c, (F.col, "CAST(NULL AS STRING)"))
        if c in padded:
            projection.append(F.expr(const).alias(c))
        elif fn is time_str_to_minutes:
            times.append(c)
        else:
            projection.append(fn(c).alias(c))
    df = df.toDF(*names)
    if times:
        # The present time columns parse as one array under ONE copy of
        # the time rule, then a second select reads them back by
        # position. Catalyst keeps the two selects apart: it does not
        # copy a costly expression into each of its readers. The rule
        # never yields null, and coalesce says so: a nullable column
        # costs a null check in every later stage's generated code.
        arr = "_times"
        while arr in spec.final_cols:
            arr += "_"
        cells = ", ".join(map(time_cell_sql, times))
        df = df.select(*projection, F.expr(f"transform(array({cells}), x -> {time_minutes_sql('x')})").alias(arr))
        projection = [
            F.coalesce(F.col(arr)[times.index(c)], F.lit(0.0)).alias(c) if c in times else c
            for c in spec.final_cols
        ]
    df = df.select(*projection)

    if spec.key_cols:
        df = df.na.drop(subset=[c for c in spec.key_cols if c in spec.final_cols])
    return df


def conform_with_quarantine(
    df: DataFrame, spec: ConformSpec
) -> tuple[DataFrame, DataFrame]:
    """Conform, routing rejected rows to a quarantine DataFrame instead
    of silently dropping them.

    Replaces the reference's per-row salvage (R-2, main.py:1555-1569 —
    failed inserts silently discarded): with Spark-side ``try_*``
    coercion the only reject class left is a null key, and those rows
    are *kept*, tagged with ``reject_reason``, for a quarantine sink
    (the ``badRecordsPath`` pattern applied to semantic rejects).

    Returns ``(good, quarantined)``; ``good`` equals :func:`conform`'s
    output; ``quarantined`` has the same schema plus ``reject_reason``.
    """
    unfiltered = conform(df, spec.no_key_filter())
    reason = F.concat_ws(
        ",",
        *[
            F.when(F.col(c).isNull(), F.lit(f"null_key:{c}"))
            for c in spec.key_cols
            if c in spec.final_cols
        ],
    )
    tagged = unfiltered.withColumn(
        "reject_reason", F.when(reason != "", reason)
    )
    good = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    bad = tagged.filter(F.col("reject_reason").isNotNull())
    return good, bad
