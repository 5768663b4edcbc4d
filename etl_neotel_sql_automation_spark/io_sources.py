"""Sources: encoding/delimiter-robust CSV, Excel bridge, landing-dir
batch reader with report-type dispatch.

Parity targets: multi-encoding + delimiter-sniffing CSV read
(main.py:1334-1342), Excel fallback (main.py:1344-1346), file-type
dispatch (main.py:1188-1204, applied 1330-1358).

Spark has no ``sep=None`` sniffing, so the dialect sniff runs
driver-side on the first 8 KB of each file (cheap, one local read), then
the distributed ``spark.read.csv`` gets explicit ``sep``/``encoding``.
The header comes from the sniffed file as well: :func:`header_schema`
names the columns the way Spark's ``header=True`` read does, as an
all-string schema, so building a landing frame runs no Spark job
(Spark's own header read runs one per file).
At scale the landing pattern assumes per-file dialects are uniform
within a directory batch — matching the reference's one-file-per-report
model.
"""

from __future__ import annotations

import codecs
import csv
import logging
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

# Encodings tried in order (main.py:1337: utf-8, latin-1, cp1252; latin-1
# decodes any byte sequence, so it is the effective catch-all — cp1252 is
# unreachable in the reference's chain as well). Values are Spark CSV
# charset names (Spark accepts ISO-8859-1 but not the 'latin-1' alias).
ENCODINGS = (("utf-8", "UTF-8"), ("latin-1", "ISO-8859-1"))
_CANDIDATE_DELIMS = ",;\t|"
# What Java's String.trim() strips; Spark's CSV reader skips a line
# that is empty once stripped, so the header is the first other line.
_JAVA_TRIM = "".join(map(chr, range(33)))


def sniff_csv_dialect(path: str | Path, sample_bytes: int = 8192) -> tuple[str, str]:
    """Return (encoding, delimiter) for a CSV file.

    Reads only the first ``sample_bytes`` of the file. Encoding: first
    of ENCODINGS that decodes the sample without error
    (latin-1 never fails, so it acts as the catch-all, as in the
    reference's fallback chain). Delimiter: ``csv.Sniffer`` over the
    decoded sample, falling back to the most frequent candidate in the
    header line, then ','.
    """
    with open(path, "rb") as fh:
        blob = fh.read(sample_bytes)
    # A full sample may end inside a multibyte character; only a file
    # shorter than the sample must end on a character boundary.
    final = len(blob) < sample_bytes
    encoding = "ISO-8859-1"
    sample = ""
    for py_enc, spark_enc in ENCODINGS:
        try:
            sample = codecs.getincrementaldecoder(py_enc)().decode(blob, final)
            encoding = spark_enc
            break
        except UnicodeDecodeError:
            continue
    try:
        sep = csv.Sniffer().sniff(sample, delimiters=_CANDIDATE_DELIMS).delimiter
    except csv.Error:
        header = sample.splitlines()[0] if sample.splitlines() else ""
        counts = {d: header.count(d) for d in _CANDIDATE_DELIMS}
        sep = max(counts, key=counts.get) if any(counts.values()) else ","
    return encoding, sep


def header_schema(path: str | Path, encoding: str, sep: str) -> T.StructType:
    """All-string schema named by a CSV file's header, as Spark's
    ``header=True`` read names the columns: the header is the first line
    that is not blank, decoded with ``encoding`` (a Spark charset name;
    a UTF-8 byte-order mark is dropped) and split on ``sep`` with ``"``
    quoting; an empty name becomes ``_c{i}`` and names that repeat
    case-insensitively become ``{name}{i}``, ``i`` being the column's
    position. Quotes follow RFC 4180, where Spark takes a backslash as
    the escape: only a name that holds a quote character can differ.
    Duplicates are matched as under the default
    ``spark.sql.caseSensitive=false``; with it set to true Spark keeps
    ``Agente;agente`` as they are, where this names them ``Agente0``,
    ``agente1``."""
    # newline="" ends a line at \n, \r or \r\n, as Hadoop's line reader does
    with open(path, encoding=encoding.lower(), errors="replace", newline="") as fh:
        line = next((ln for ln in fh if ln.strip(_JAVA_TRIM)), "")
    names = next(csv.reader([line.removeprefix("\ufeff").rstrip("\r\n")], delimiter=sep), [])
    lowered = [n.lower() for n in names]
    return T.StructType([
        T.StructField(
            f"_c{i}" if not n else f"{n}{i}" if lowered.count(n.lower()) > 1 else n,
            T.StringType(),
        )
        for i, n in enumerate(names)
    ])


def read_csv_robust(spark: SparkSession, path: str | Path) -> DataFrame:
    """S-1: read one CSV with sniffed encoding + delimiter; all columns
    arrive as strings (schema conformance owns typing, so the scan never
    guesses types — and never fails on dirty cells). The header is
    parsed driver-side (:func:`header_schema`), so the read runs no job."""
    encoding, sep = sniff_csv_dialect(path)
    logger.info("read_csv_robust %s: encoding=%s sep=%r", path, encoding, sep)
    return (
        spark.read.schema(header_schema(path, encoding, sep))
        .option("header", True)
        .option("encoding", encoding)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .csv(str(path))
    )


def read_excel_bridge(spark: SparkSession, path: str | Path) -> DataFrame:
    """S-2: Excel fallback via a driver-side pandas bridge.

    Daily-report scale (the reference's .xls files are O(10^3) rows), so
    a driver-side read + Arrow createDataFrame is the right tool; a
    distributed Excel datasource would need a third-party package.
    """
    try:
        import pandas as pd

        pdf = pd.read_excel(path)  # needs openpyxl/xlrd in the env
    except ImportError as e:  # pragma: no cover - env without excel libs
        raise NotImplementedError(
            f"Excel bridge needs pandas+openpyxl; not available: {e}"
        ) from e
    pdf = pdf.astype(str).where(pdf.notna(), None)
    return spark.createDataFrame(pdf)


def identify_report_type(filename: str) -> str | None:
    """P-7: route a landing file to its pipeline by filename substring
    (main.py:1188-1204): 'conducta' -> conducta; 'estados' or
    'operativo' -> estados_operativos; else None (skipped)."""
    low = Path(filename).name.lower()
    if "conducta" in low:
        return "conducta"
    if "estados" in low or "operativo" in low:
        return "estados_operativos"
    return None


def read_landing_dir(
    spark: SparkSession, landing_dir: str | Path, with_provenance: bool = False
) -> dict[str, DataFrame]:
    """Read every recognized report file in a landing directory and
    union them per report type (multi-file days union by name, missing
    columns null-padded — conformance fixes shape downstream).

    ``with_provenance=True`` attaches the source file name as
    ``_src_file`` — row-level lineage, so a bad row in the warehouse
    traces back to the exact landing file that delivered it (and a
    re-delivered file's rows are identifiable for surgical reload).
    Conformance's fixed projection drops the column before load unless
    a spec carries it through.

    In-flight browser downloads (``.crdownload``/``.part``/``.tmp``,
    main.py:321-345) are ignored.
    """
    out: dict[str, DataFrame] = {}
    for p in sorted(Path(landing_dir).iterdir()):
        if p.suffix.lower() in (".crdownload", ".part", ".tmp") or not p.is_file():
            continue
        kind = identify_report_type(p.name)
        if kind is None:
            logger.info("skipping unrecognized file %s", p.name)
            continue
        try:
            if p.suffix.lower() in (".xls", ".xlsx"):
                df = read_excel_bridge(spark, p)
            else:
                df = read_csv_robust(spark, p)
            if with_provenance:
                df = df.withColumn("_src_file", F.lit(p.name))
        except Exception:  # noqa: BLE001 - per-file isolation (R-9, main.py:1362-1366)
            logger.exception("failed to read %s; skipping", p)
            continue
        out[kind] = (
            df
            if kind not in out
            else out[kind].unionByName(df, allowMissingColumns=True)
        )
    return out


class JsonlSplit(NamedTuple):
    """Result of :func:`read_jsonl_docs`. ``raw`` is the cached parsed
    frame both halves derive from — call ``raw.unpersist()`` once both
    have been consumed so long-lived sessions release the cached
    partitions deterministically instead of waiting for GC."""

    good: DataFrame
    quarantine: DataFrame
    raw: DataFrame


def read_jsonl_docs(
    spark: SparkSession,
    path: str | Path,
    schema: str = "doc_id bigint, text string, source string",
) -> JsonlSplit:
    """Robust JSON-Lines corpus reader — the wire format crawl dumps
    and dataset releases actually ship. Returns (good, quarantine,
    raw): rows matching ``schema`` (extra fields pruned by the explicit
    schema — never inferred, so a million-file corpus costs no
    inference scan and drifting extra keys are ignored), a quarantine
    frame holding each malformed LINE verbatim for triage, and the
    cached parent frame (unpersist it when done — see
    :class:`JsonlSplit`). PERMISSIVE + columnNameOfCorruptRecord is
    the same salvage-vs-reject split the CSV conformance path uses
    (R-2): one bad line never fails a 100 TB ingest, and nothing is
    silently dropped."""
    full_schema = f"{schema}, _corrupt string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(path))
        .cache()  # the split below reads it twice; caller unpersists via .raw
    )
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    quarantine = df.filter(F.col("_corrupt").isNotNull()).select("_corrupt")
    return JsonlSplit(good, quarantine, df)


def read_columnar(spark: SparkSession, path: str | Path, fmt: str = "parquet") -> DataFrame:
    """Columnar-format reader covering the warehouse interchange
    formats Spark ships natively: parquet (the testdata default) and
    ORC. Both carry footer statistics, so predicate pushdown and
    column pruning reach the scan identically — the round-trip test
    asserts ORC scans show PushedFilters the same way parquet scans
    do. Avro needs the external spark-avro package and is import-gated
    out in this container."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format: {fmt!r}")
    return spark.read.format(fmt).load(str(path))


def write_columnar(df: DataFrame, path: str | Path, fmt: str = "parquet") -> None:
    """Columnar writer twin of :func:`read_columnar` (overwrite mode,
    same format whitelist)."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format: {fmt!r}")
    df.write.mode("overwrite").format(fmt).save(str(path))
