"""End-to-end ETL orchestration: landing dir -> conform -> idempotent
partitioned sink.

Parity target: ``main()`` (main.py:1639-1708) minus the browser
extractor (an out-of-engine producer feeding the landing directory —
SURVEY.md §2.1 S-3). Reproduces the guards and exit-code contract:
2 = config error, 1 = nothing extracted / nothing transformed / runtime
error (R-8, main.py:1667-1708); per-report failures don't kill sibling
reports (R-9, main.py:1154-1167).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .conform import conform, drop_all_null_rows
from .io_sinks import load_partitioned
from .io_sources import read_landing_dir
from .schema import SPECS, TABLE_FOR_SPEC

logger = logging.getLogger(__name__)

EXIT_OK = 0
EXIT_RUNTIME = 1
EXIT_CONFIG = 2


def env_var(name: str, required: bool = True, default: str = "") -> str:
    """R-5: fetch an environment variable, failing fast when a required
    one is unset/empty (main.py:56-72 ``obtener_variable_entorno``).
    The raised ``EnvironmentError`` is mapped to exit code 2 by
    :func:`main`, before any Spark session is created."""
    val = os.getenv(name)
    if required and not val:
        raise EnvironmentError(
            f"required environment variable {name!r} is not set "
            "(export it or provide the matching CLI flag)"
        )
    return val or default


@dataclass(frozen=True)
class JdbcConfig:
    """JDBC sink credentials, mirroring the reference's SQL_* env block
    (main.py:80-88): all-or-nothing — a partially configured sink is a
    config error, not a runtime surprise."""

    url: str
    user: str
    password: str
    driver: str


def load_jdbc_config() -> JdbcConfig | None:
    """Collect the optional JDBC sink config from the environment.
    Returns None when no JDBC sink is requested (``ETL_JDBC_URL``
    unset); raises ``EnvironmentError`` when it is requested but
    credentials are missing (R-5 fail-fast)."""
    if not os.getenv("ETL_JDBC_URL"):
        return None
    return JdbcConfig(
        url=env_var("ETL_JDBC_URL"),
        user=env_var("ETL_JDBC_USER"),
        password=env_var("ETL_JDBC_PASSWORD"),
        driver=env_var("ETL_JDBC_DRIVER", required=False, default="org.postgresql.Driver"),
    )


def transform_all(raw: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Conform every recognized report; a failing report is skipped, not
    fatal (R-9)."""
    out: dict[str, DataFrame] = {}
    for kind, df in raw.items():
        spec = SPECS.get(kind)
        if spec is None:
            continue
        try:
            out[kind] = conform(drop_all_null_rows(df), spec)
        except Exception:  # noqa: BLE001
            logger.exception("transform failed for %s; skipping", kind)
    return out


def run_etl(
    spark: SparkSession,
    landing_dir: str | Path,
    output_base: str | Path,
) -> dict[str, int]:
    """Landing dir -> conformed, audited, date-partitioned parquet
    tables. Returns per-table row counts. Raises on the reference's
    abort conditions (no input files / nothing transformed)."""
    t0 = time.time()
    raw = read_landing_dir(spark, landing_dir)
    if not raw:
        raise FileNotFoundError(f"no report files recognized in {landing_dir}")

    counts: dict[str, int] = {}
    for kind, df in transform_all(raw).items():
        table = TABLE_FOR_SPEC[kind]
        target = str(Path(output_base) / table)
        # one job per table: an empty frame writes no partition, so no
        # isEmpty() job has to run before the write
        n = load_partitioned(df, target)
        logger.info("loaded %s rows into %s", n, target)
        if n:
            counts[table] = n
    if not counts:
        raise ValueError("all transforms produced empty outputs; aborting load")
    logger.info("ETL complete in %.1fs: %s", time.time() - t0, counts)
    return counts


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Landing-dir ETL (Spark)")
    parser.add_argument("--landing", default=None, help="fallback: $ETL_LANDING_DIR")
    parser.add_argument("--out", default=None, help="fallback: $ETL_OUTPUT_DIR")
    args = parser.parse_args(argv)

    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s %(levelname)s %(name)s %(message)s",
    )
    # R-5: resolve + validate ALL config before any work; every failure
    # here is exit 2 (the reference validates its env block at import,
    # before the browser/DB ever start — main.py:52-88)
    try:
        landing = args.landing or env_var("ETL_LANDING_DIR")
        out = args.out or env_var("ETL_OUTPUT_DIR")
        load_jdbc_config()  # optional sink: validated all-or-nothing
    except EnvironmentError as e:
        logger.error("config error: %s", e)
        return EXIT_CONFIG
    args.landing, args.out = landing, out
    if not Path(args.landing).is_dir():
        logger.error("landing dir %s does not exist", args.landing)
        return EXIT_CONFIG
    from .session import get_spark

    spark = get_spark(app_name="etl_pipeline")
    try:
        run_etl(spark, args.landing, args.out)
        return EXIT_OK
    except Exception:  # noqa: BLE001
        logger.exception("pipeline failed")
        return EXIT_RUNTIME
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
