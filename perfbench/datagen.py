"""Deterministic inputs for the benchmark, all driven by one seed.

Two generators:

- :func:`write_tables` writes the star-schema parquet tables the
  registry queries read (``region`` … ``embeddings``), in the column
  names, types and value domains the queries and their DuckDB oracles
  expect, at a chosen scale factor.
- :func:`write_landing` writes a landing directory of daily report CSVs
  for the ETL path: mixed UTF-8/Latin-1, accented headers, ``,``/``;``/
  tab delimiters, dirty cells at fixed rates, malformed rows, an
  in-flight ``.crdownload`` decoy and an unrecognized file. It returns
  the number of rows the conformance layer must keep per table.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Star-schema tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    out_dir.mkdir(parents=True, exist_ok=True)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (k, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _ts_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    flags = rng.integers(0, 6, k)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _ts_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k),
    })
    k = n["events"]
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH) // dt.timedelta(microseconds=1)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, k)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), k), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    words = [[_WORDS[w] for w in rng.integers(0, len(_WORDS), m)] for m in rng.integers(8, 100, k)]
    # 2% exact and 6% near duplicates (one word changed) of earlier documents,
    # so the dedup queries have something to find
    for i in np.flatnonzero(rng.random(k) < 0.08).tolist():
        if i == 0:
            continue
        src = list(words[int(rng.integers(0, i))])
        if rng.random() < 0.75:
            src[int(rng.integers(0, len(src)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        words[i] = src
    texts = [" ".join(w) for w in words]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), k)],
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, tbl in t.items():
        pq.write_table(tbl, out_dir / f"{name}.parquet", row_group_size=len(tbl) or 1)
    return {name: len(tbl) for name, tbl in t.items()}


# ---------------------------------------------------------------------------
# Landing report CSVs
# ---------------------------------------------------------------------------

CONDUCTA_HEADER = [
    "Agente", "Fecha", "ID", "Campaña",
    "In", "% In", "In Rechazadas/Ignoradas", "% In Rechazadas/Ignoradas",
    "In Atendidas", "% In Atendidas",
    "Out", "% Out", "Out Rechazadas/Ignoradas", "% Out Rechazadas/Ignoradas",
    "Out Atendidas", "% Out Atendidas", "Out Dialing", "% Out Dialing",
    "Llamados con Hold", "% Llamados con Hold",
    "Tiempo medio de respuesta In", "Tiempo medio de respuesta Out",
]
_STATES = [
    "Login", "Login Neto", "Available", "Preview", "Dialing", "Ringing",
    "Talking", "Talking In", "Talking Out", "Hold", "ACW", "Other CRM",
    "Pause",
]
ESTADOS_HEADER = (
    ["Fecha", "Intervalo", "ID", "Agente", "ID Campaña", "Campaña"]
    + [f"T {s}" for s in _STATES]
    + [f"T Diario {s}" for s in _STATES]
)

_AGENTS = [
    "José Pérez", "María Núñez", "Iñaki Gómez", "Lucía Fernández",
    "Andrés Ibáñez", "Sofía Martínez", "Tomás Álvarez", "Valentina Ríos",
    "Ramón Castaño", "Inés Peña", "Julián Muñoz", "Camila Suárez",
]
_CAMPAIGNS = ["Ventas Año 2026", "Cobranza Señal", "Atención Clientes", "Retención"]

# Dirty-cell rates (share of cells of that kind).
RATE_SENTINEL = 0.05      # '-' / 'nan' / '' in numeric and time cells
RATE_HHMM = 0.15          # 'HH:MM' beside 'HH:MM:SS'
RATE_BAD_TIME = 0.01      # '1:30.5'-style colon values -> 0.0
RATE_BAD_ID = 0.02        # non-numeric ids -> 0
# Row-class rates (share of rows).
RATE_BAD_DATE = 0.02      # unparseable fecha -> row rejected
RATE_ALT_DATE = 0.10      # ISO or 'd/M/yyyy H:mm:ss' fecha -> kept
RATE_BLANK = 0.005        # all cells empty -> dropped
RATE_SHORT = 0.005        # truncated row (malformed) -> dropped unless fecha survives
RATE_LONG = 0.005         # extra trailing fields (malformed) -> kept

# Rough bytes per generated row, used to size files.
_ROW_BYTES = {"conducta": 150, "estados_operativos": 245}

_OBJ = lambda xs: np.asarray(xs, dtype=object)  # noqa: E731
_HMS = _OBJ([f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(4 * 3600)])
_HM = _OBJ([f"{m // 60:02d}:{m % 60:02d}" for m in range(4 * 60)])
_INTS = _OBJ([str(i) for i in range(5000)])
_SENTINELS = ["-", "nan", ""]


def _pick(rng: np.random.Generator, pool, n: int) -> np.ndarray:
    pool = _OBJ(pool)
    return pool[rng.integers(0, len(pool), n)]


def _dirty(rng: np.random.Generator, cells: np.ndarray, rate: float, pool: list[str]) -> np.ndarray:
    """Replace a ``rate`` share of ``cells`` with values drawn from ``pool``."""
    hit = rng.random(len(cells)) < rate
    cells[hit] = _pick(rng, pool, int(hit.sum()))
    return cells


def _time_cells(rng: np.random.Generator, n: int) -> np.ndarray:
    secs = rng.integers(0, 4 * 3600, n)
    out = np.where(rng.random(n) < RATE_HHMM, _HM[secs // 60], _HMS[secs])
    out = _dirty(rng, out, RATE_SENTINEL, _SENTINELS)
    return _dirty(rng, out, RATE_BAD_TIME, ["1:30.5", "ab:cd"])


def _int_cells(rng: np.random.Generator, n: int, hi: int) -> np.ndarray:
    return _dirty(rng, _INTS[rng.integers(0, hi, n)], RATE_SENTINEL, _SENTINELS)


def _pct_cells(rng: np.random.Generator, n: int, decimal: str) -> np.ndarray:
    pool = [f"{v / 10:.1f}".replace(".", decimal) for v in range(1000)]
    return _dirty(rng, _pick(rng, pool, n), RATE_SENTINEL, _SENTINELS)


def _id_cells(rng: np.random.Generator, n: int, hi: int) -> np.ndarray:
    return _dirty(rng, _INTS[rng.integers(1, hi, n)], RATE_BAD_ID, ["A-17", "n/a", "x9"])


def _fecha_cells(rng: np.random.Generator, day: dt.date, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Return the fecha cells and a mask of rows whose fecha parses."""
    u = rng.random(n)
    good = u >= RATE_BAD_DATE
    alt = u >= 1.0 - RATE_ALT_DATE
    alt_pool = _OBJ([day.isoformat(), f"{day.day}/{day.month}/{day.year} 00:00:00"])
    cells = np.where(alt, alt_pool[np.arange(n) % 2], day.strftime("%d/%m/%Y")).astype(object)
    cells[~good] = _pick(rng, ["99/99/2026", "sin fecha", "32/13/2026"], int((~good).sum()))
    return cells, good


def _quote(cell: str, sep: str) -> str:
    return f'"{cell}"' if sep in cell or '"' in cell else cell


def _report_columns(kind: str, rng: np.random.Generator, day: dt.date, n: int, sep: str):
    """Return (header, columns, fecha_index, fecha_ok) for ``n`` rows."""
    decimal = "," if sep == ";" else "."
    fecha, ok = _fecha_cells(rng, day, n)
    agents = _pick(rng, [_quote(a, sep) for a in _AGENTS + ["Pérez, José", "Núñez, María"]], n)
    camps = _pick(rng, _CAMPAIGNS, n)
    if kind == "conducta":
        cols = [agents, fecha, _id_cells(rng, n, 5000), camps]
        for _ in range(8):
            cols += [_int_cells(rng, n, 500), _pct_cells(rng, n, decimal)]
        cols += [_time_cells(rng, n), _time_cells(rng, n)]
        return CONDUCTA_HEADER, cols, 1, ok
    slots = [f"{s // 2:02d}:{s % 2 * 30:02d}-{s // 2:02d}:{s % 2 * 30 + 29:02d}" for s in range(48)]
    cols = [fecha, _pick(rng, slots, n), _id_cells(rng, n, 5000), agents, _id_cells(rng, n, 90), camps]
    cols += [_time_cells(rng, n) for _ in range(26)]
    return ESTADOS_HEADER, cols, 0, ok


def write_report(
    path: Path, kind: str, day: dt.date, n_rows: int, sep: str, encoding: str, seed: int
) -> int:
    """Write one report CSV; return how many of its rows conformance keeps.

    A row is kept when its fecha parses, unless it is blank or was
    truncated before its fecha field.
    """
    rng = np.random.default_rng([seed, int(hashlib.sha256(path.name.encode()).hexdigest()[:8], 16)])
    header, cols, fecha_i, ok = _report_columns(kind, rng, day, n_rows, sep)
    lines = [sep.join(_quote(h, sep) for h in header)]
    lines += map(sep.join, zip(*cols))
    u = rng.random(n_rows)
    cut = rng.integers(1, 4, n_rows)
    blank = u < RATE_BLANK
    short = ~blank & (u < RATE_BLANK + RATE_SHORT)
    long_ = ~blank & ~short & (u < RATE_BLANK + RATE_SHORT + RATE_LONG)
    for i in np.flatnonzero(blank | short | long_).tolist():
        if blank[i]:
            lines[i + 1] = sep * (len(header) - 1)
        elif short[i]:
            lines[i + 1] = sep.join(c[i] for c in cols[: cut[i]])
        else:
            lines[i + 1] += f"{sep}EXTRA{sep}campo sobrante"
    path.write_bytes(("\n".join(lines) + "\n").encode(encoding))
    return int((ok & ~blank & ~(short & (cut <= fecha_i))).sum())


_DIALECTS = [(",", "utf-8"), (";", "latin-1"), ("\t", "utf-8"), (";", "utf-8"), (",", "latin-1"), ("\t", "latin-1")]
_FILE_PREFIX = {"conducta": "reporte_conducta_agentes", "estados_operativos": "reporte_estados_operativos"}


def write_landing(
    out_dir: Path, seed: int, days: list[dt.date], files_per_report: int, rows_per_file: int
) -> dict:
    """Write a landing directory and return its manifest.

    Every day gets ``files_per_report`` files of each report kind. A
    conducta file has ``rows_per_file`` rows; an estados_operativos file
    has as many rows as make the same size in bytes. File ``i`` of the
    directory takes dialect ``i mod 6`` from ``_DIALECTS``, so every
    directory of six or more files mixes all of them.
    """
    out_dir.mkdir(parents=True, exist_ok=True)
    expected = {"conducta": 0, "estados_operativos": 0}
    rows = {"conducta": 0, "estados_operativos": 0}
    files = csv_bytes = 0
    for d in days:
        for kind in ("conducta", "estados_operativos"):
            per_file = max(1, rows_per_file * _ROW_BYTES["conducta"] // _ROW_BYTES[kind])
            for j in range(files_per_report):
                sep, enc = _DIALECTS[files % len(_DIALECTS)]
                name = f"{_FILE_PREFIX[kind]}_{d:%Y%m%d}_{j + 1:02d}.csv"
                expected[kind] += write_report(out_dir / name, kind, d, per_file, sep, enc, seed)
                rows[kind] += per_file
                csv_bytes += (out_dir / name).stat().st_size
                files += 1
    # an in-flight download of a recognized report and a file no pipeline claims
    write_report(out_dir / f"{_FILE_PREFIX['conducta']}_{days[-1]:%Y%m%d}_99.csv.crdownload",
                 "conducta", days[-1], 50, ",", "utf-8", seed)
    (out_dir / "resumen_campanas.csv").write_text("campana,total\nVentas,10\n", encoding="utf-8")
    return {
        "files": files,
        "rows": rows,
        "expected": expected,
        "bytes": csv_bytes,
        "days": [d.isoformat() for d in days],
    }
