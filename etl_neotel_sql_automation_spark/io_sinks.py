"""Sinks: idempotent date-partitioned writes.

Parity targets: delete-target-date-then-insert (S-6, main.py:1534-1537),
table DDL bootstrap (S-5, main.py:1466-1478), table-name whitelist (R-4,
main.py:1481-1497), batched JDBC insert (S-4, main.py:1500-1578),
single-transaction commit (R-3, main.py:1572).

Two sinks behind one semantic contract ("re-running a date never
duplicates"):

- **Parquet partition sink** (the engine-native path): dynamic
  partition overwrite — at 100 TB this is the only sane shape; each
  run atomically replaces exactly the partitions it carries.
- **JDBC staging writer**: Spark's JDBC writer commits per partition,
  which cannot give the reference's single-transaction delete+insert.
  The writer therefore appends to a *staging* table (parallel, per-
  partition commits are harmless there), then runs one driver-side
  transaction: ``DELETE target date; INSERT INTO target SELECT * FROM
  staging; DROP staging`` — the reference's atomicity (main.py:1534-1572)
  with Spark's parallel load. Connection factory is injectable so the
  SQL plan is unit-testable without a database.
"""

from __future__ import annotations

import logging
import re
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .schema import ALLOWED_TABLES

logger = logging.getLogger(__name__)


def validate_table_name(table: str, allowed: frozenset[str] = ALLOWED_TABLES) -> str:
    """R-4: whitelist + identifier-shape check before any interpolation
    into SQL (main.py:1481-1497)."""
    if table not in allowed:
        raise ValueError(f"table {table!r} not in whitelist {sorted(allowed)}")
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(f"table {table!r} is not a valid identifier")
    return table


def write_partitioned_idempotent(
    df: DataFrame, path: str, partition_col: str = "fecha"
) -> None:
    """S-6 as a file sink: dynamic partition overwrite — only the date
    partitions present in ``df`` are replaced; other dates untouched.
    Equivalent to the reference's DELETE-date-then-insert."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def load_partitioned(df: DataFrame, path: str) -> int:
    """Load ``df`` into the date-partitioned table at ``path`` in one
    Spark job and return its row count: S-7's ``load_date`` is added,
    then :func:`write_partitioned_idempotent` replaces the dates present.

    The count is an ``Observation`` on the write job, not a second
    scan. An empty ``df`` replaces no partition (at a ``path`` not yet
    written it leaves an empty directory). :func:`add_audit_column`
    keeps the run's timestamp out of the generated code, so a repeated
    load compiles no code at all."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_partitioned_idempotent(add_audit_column(observed), path)
    return int(obs.get["rows"])


@dataclass
class JdbcStagingWriter:
    """Transactional date-overwrite into a JDBC table via staging.

    ``connect`` returns a DB-API connection (injectable for tests);
    ``spark_jdbc_write`` performs the parallel append into the staging
    table (df, staging_table) -> None — defaults to Spark's JDBC writer.
    """

    url: str
    connect: Callable[[], object]
    properties: dict[str, str] = field(default_factory=dict)
    spark_jdbc_write: Callable[[DataFrame, str], None] | None = None

    def _default_spark_write(self, df: DataFrame, staging: str) -> None:
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", staging)
            .options(**self.properties)
            .option("batchsize", "1000")
            .mode("append")
            .save()
        )

    def write(self, df: DataFrame, table: str, fecha: str) -> int:
        """Load one date idempotently: parallel append to staging, then
        one driver transaction moves it into the target (R-3 parity).

        - staging name is unique per run, so concurrent loads (backfill
          + daily run) never interleave rows or clobber each other;
        - the INSERT names columns explicitly on both sides, so it
          survives target/staging column-order differences;
        - the staging table is DROPped inside the transaction; if the
          staging append or the transaction fails, it is dropped
          (``IF EXISTS``) on its own connection before the error
          propagates, so no failure path leaves it behind;
        - an ``isEmpty`` job runs first, so an empty input opens no
          staging table or transaction; a non-empty input is then
          computed a second time by the Spark write. The returned row
          count is the DB-reported INSERT rowcount (-1 if the driver
          does not report one).
        """
        validate_table_name(table)
        for c in df.columns:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c):
                raise ValueError(f"column {c!r} is not a valid identifier")
        if df.isEmpty():
            logger.info("skip empty load for %s %s", table, fecha)  # P-8
            return 0
        staging = f"{table}__stg_{uuid.uuid4().hex[:12]}"
        write_fn = self.spark_jdbc_write or self._default_spark_write
        collist = ", ".join(df.columns)
        try:
            write_fn(df, staging)
            conn = self.connect()
            try:
                cur = conn.cursor()
                # single transaction: the target never shows a half-loaded date
                cur.execute(f"DELETE FROM {table} WHERE CAST(fecha AS DATE) = ?", (fecha,))
                cur.execute(f"INSERT INTO {table} ({collist}) SELECT {collist} FROM {staging}")
                n = getattr(cur, "rowcount", -1)
                cur.execute(f"DROP TABLE {staging}")
                conn.commit()
            except Exception:
                conn.rollback()  # also undoes the in-transaction DROP
                raise
            finally:
                conn.close()
        except Exception:
            self._drop_staging(staging)
            raise
        return n

    def _drop_staging(self, staging: str) -> None:
        """Drop a failed load's staging table. A failure here is logged,
        not raised, so the caller sees the load's own error."""
        try:
            conn = self.connect()
            try:
                conn.cursor().execute(f"DROP TABLE IF EXISTS {staging}")
                conn.commit()
            finally:
                conn.close()
        except Exception:
            logger.warning("could not drop staging table %s", staging, exc_info=True)


def ensure_partitioned_table(
    spark, table: str, schema_ddl: str, partition_col: str = "fecha"
) -> None:
    """S-5: DDL bootstrap — ``CREATE TABLE IF NOT EXISTS`` as a managed
    parquet table partitioned by date (main.py:1466-1478's
    ``crear_tablas_si_no_existen``). Idempotent per run."""
    validate_table_name(table)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) "
        f"USING parquet PARTITIONED BY ({partition_col})"
    )


def insert_overwrite_date(spark, df: DataFrame, table: str) -> None:
    """S-6 against a managed table: dynamic partition overwrite via
    ``INSERT OVERWRITE`` semantics (``insertInto`` with overwrite under
    dynamic mode replaces only the partitions present in ``df``)."""
    validate_table_name(table)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode("overwrite").insertInto(table, overwrite=True)


def drop_managed_table(spark, table: str) -> None:
    """Drop a managed table AND its warehouse location, including the
    orphan-directory case: with the default in-memory catalog a fresh
    session does not know tables a previous session wrote, but their
    warehouse directories persist, and ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS even under mode("overwrite"). Idempotent
    re-runs of index-building queries need both halves cleared.

    Accepts only an UNQUALIFIED identifier in the default database on a
    local-filesystem warehouse: a qualified ``db.table`` would map to
    the wrong rmtree path, and a remote warehouse URI has no local
    directory to clear — both are rejected rather than silently
    half-done."""
    import shutil
    from urllib.parse import urlparse

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"table {table!r} must be an unqualified identifier "
            "(default database; qualified names would rmtree the wrong path)"
        )
    parsed = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"drop_managed_table only supports local-filesystem warehouses, "
            f"got {parsed.scheme!r}; drop the table and clear its location "
            "with the remote filesystem's own tooling"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = f"{parsed.path}/{table.lower()}"
    shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    allowed: frozenset[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations on ``bucket_col`` between tables bucketed the
    same way need NO shuffle — at 100 TB this converts every recurring
    fact-to-fact join on the bucket key from a full network shuffle
    into a local zip of co-located buckets (sort-merge without the
    sort when ``sort_col`` matches)."""
    if allowed is not None:
        validate_table_name(table, allowed)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    shard_key: str = "doc_id",
    compression: str = "zstd",
    max_records_per_file: int | None = None,
) -> None:
    """Export a prepared corpus as training shards: one directory per
    shard (``shard=N`` partition layout, the convention data loaders
    glob), zstd-compressed parquet, optional file-size capping via
    ``maxRecordsPerFile`` so loader workers get uniform chunks.

    Shard assignment is a salted md5 of the shard key — a pure function
    of the row, so retries and engine changes produce byte-identical
    shard membership, and appending new data never moves previously
    assigned rows between shards (the same append-stability contract
    as the train/eval split). Expected shard skew over N rows is
    O(sqrt(N)) — negligible at training scale."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", shard_key):
        raise ValueError(f"shard_key {shard_key!r} is not a valid identifier")
    from .ops.hashing import md5_long

    out = df.withColumn(
        "shard",
        F.pmod(
            md5_long(F.concat(F.lit("shard:"), F.col(shard_key).cast("string"))),
            F.lit(n_shards),
        ).cast("int"),
    )
    w = out.write.mode("overwrite").partitionBy("shard").option(
        "compression", compression
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def add_audit_column(df: DataFrame) -> DataFrame:
    """S-7: ``load_date`` audit timestamp (DDL DEFAULT GETDATE(),
    main.py:1400, 1439): the query's start time, ``current_timestamp()``.

    Catalyst turns ``current_timestamp()`` into a literal, and
    whole-stage codegen writes a timestamp literal into the stage's
    Java, so that stage would differ, and compile again, on every run.
    Read through an identity ``transform`` over a one-element array,
    the value reaches the generated code as a referenced object: the
    stage's code is the same on every run and comes from the cache."""
    return df.withColumn("load_date", F.expr("transform(array(current_timestamp()), t -> t)[0]"))


def compact_small_files(
    spark,
    in_path: str,
    out_path: str,
    target_file_mb: int = 128,
) -> int:
    """Compact a directory of many small parquet files into
    ~``target_file_mb``-sized files; returns the partition count used.

    The small-files problem is a first-order cost at 100 TB: a table
    ingested by a fine-grained streaming/landing process accumulates
    thousands of KB-scale files, and every downstream scan then pays
    per-file open/footer/scheduling overhead (and the driver pays
    listing memory). Compaction = one read + one shuffle-free
    repartition sized from the REAL on-disk byte count (via the Hadoop
    FileSystem API, so it works on HDFS/S3/local alike) + one write.
    Run it per-partition-directory for incremental tables so only
    fresh partitions rewrite (pairs with write_partitioned_idempotent).
    """
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(in_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_path)
    # coalesce, not repartition: narrowing to n_files needs no shuffle
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(out_path)
    return int(n_files)
