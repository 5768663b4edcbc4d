"""Cross-engine deterministic hashing and the hashed bit table.

``xxhash64`` is Spark-only, so operators built on it cannot be checked
against a DuckDB oracle. ``md5`` exists in Spark, DuckDB and Python's
hashlib with identical output; its first 15 hex chars read as a base-16
integer give the same non-negative 60-bit value in all three engines.
15 chars (not 16) keep the value < 2^60: inside a signed 64-bit integer
everywhere, and small enough that ``a*x + b`` over a 2^31 modulus never
overflows under ANSI arithmetic. This module is the only place that
spells that rule; every other module calls it:

- :func:`md5_long` (Spark), :func:`sql_md5_long` (DuckDB),
  :func:`py_md5_long` (Python, the reference the tests use);
- :func:`hash64` picks ``xxhash64`` (faster, Spark-only) or ``md5_long``
  for operators that take a ``hash_fn``;
- :func:`hash_split` / :func:`sql_hash_split`: the deterministic 90/5/5
  train/eval/test split of a key;
- :func:`salted_bucket` / :func:`sql_salted_bucket`: the bucket of a key
  in row ``r`` of a count-min-style sketch.

The hashed bit table packs bit indices into BIGINT words of
``WORD_BITS`` = 60 bits each (``1 << 63`` would wrap negative), so a
table of ``m`` bits (``TABLE_BITS`` = 65536 by default) is at most
``ceil(m / 60)`` rows, bounded by the modulus and never by the data:

- :func:`bit_words` / :func:`sql_bit_words` build the table;
- :func:`bloom_probes` / :func:`sql_bloom_probes` give a key's
  ``BLOOM_K`` probe indices;
- :func:`bit_cell` splits an index into its word and one-bit mask;
- :func:`bloom_screen` / :func:`sql_bloom_screen` keep the keys whose
  probes all hit set bits, looking each probe's word up in the table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HashFn = str  # "xxhash64" | "md5"

WORD_BITS = 60        # bits packed per BIGINT word (sign-safe)
TABLE_BITS = 65536    # default size m of a hashed bit table
BLOOM_K = 3           # Bloom probes per key


def md5_long(c: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative bigint (< 2^60)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def hash64(c: Column | str, hash_fn: HashFn = "xxhash64") -> Column:
    """String -> 64-bit hash column under the chosen hash family."""
    if hash_fn == "xxhash64":
        c = F.col(c) if isinstance(c, str) else c
        return F.xxhash64(c)
    if hash_fn == "md5":
        return md5_long(c)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def sql_md5_long(expr: str) -> str:
    """DuckDB SQL fragment computing :func:`md5_long` of ``expr``."""
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def py_md5_long(s: str) -> int:
    """Python twin of :func:`md5_long` — used to precompute deterministic
    constants (e.g. LSH hyperplane signs) that are inlined as literals
    into BOTH the Spark plan and the oracle SQL."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hash_split(c: Column | str) -> Column:
    """'train' / 'eval' / 'test' for 90 / 5 / 5 of ``md5_long(c) % 100``:
    a key never changes split across re-runs or appends."""
    b = md5_long(c) % 100
    return (
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("eval"))
        .otherwise(F.lit("test"))
    )


def sql_hash_split(expr: str) -> str:
    """DuckDB twin of :func:`hash_split`."""
    b = f"{sql_md5_long(expr)} % 100"
    return f"CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'eval' ELSE 'test' END"


def salted_bucket(key: Column, salt: str, r: Column, width: int) -> Column:
    """Bucket of ``key`` in sketch row ``r``: ``md5_long(key || salt || r)
    % width``."""
    return md5_long(F.concat(key.cast("string"), F.lit(salt), r.cast("string"))) % width


def sql_salted_bucket(key: str, salt: str, width: int) -> str:
    """DuckDB twin of :func:`salted_bucket`, for the row column ``r`` in
    scope."""
    salted = f"CAST({key} AS VARCHAR) || '{salt}' || CAST(r AS VARCHAR)"
    return f"{sql_md5_long(salted)} % {width}"


def bloom_probes(key: str, bits: int = TABLE_BITS) -> Column:
    """The ``BLOOM_K`` bit indices ``md5_long(key || ':i') % bits`` of
    column ``key``, as one array."""
    return F.array(
        *[md5_long(F.concat(F.col(key), F.lit(f":{i}"))) % bits for i in range(BLOOM_K)]
    )


def sql_bloom_probes(key: str) -> str:
    """DuckDB list twin of :func:`bloom_probes` at ``TABLE_BITS``."""
    probes = [sql_md5_long(f"{key} || ':{i}'") for i in range(BLOOM_K)]
    return "[" + ", ".join(f"{p} % {TABLE_BITS}" for p in probes) + "]"


def bit_cell(idx: Column) -> tuple[Column, Column]:
    """(word, mask) of bit index ``idx``: word ``idx div 60`` and the
    one-bit mask ``1 << (idx % 60)`` inside it."""
    return (
        F.floor(idx / WORD_BITS),
        F.call_function("shiftleft", F.lit(1).cast("long"), (idx % WORD_BITS).cast("int")),
    )


def bit_words(df: DataFrame, idx: Column) -> DataFrame:
    """The hashed bit table (w, bits) with every index ``idx`` of ``df``
    set; ``idx`` may be an ``explode`` of several indices per row."""
    w, mask = bit_cell(F.col("idx"))
    return (
        df.select(idx.alias("idx"))
        .groupBy(w.alias("w"))
        .agg(F.bit_or(mask).alias("bits"))
    )


def sql_bit_words(src: str, idx: str) -> str:
    """DuckDB twin of :func:`bit_words`: a SELECT over relation ``src``,
    ``idx`` an index expression (or an ``unnest`` of several)."""
    return (
        f"SELECT idx // {WORD_BITS} AS w,"
        f" bit_or(CAST(1 AS BIGINT) << CAST(idx % {WORD_BITS} AS INTEGER)) AS bits"
        f" FROM (SELECT {idx} AS idx FROM {src}) GROUP BY w"
    )


def bloom_screen(keys: DataFrame, key: str, words: DataFrame, bits: int) -> DataFrame:
    """The ``key`` values of ``keys`` whose ``BLOOM_K`` probes all hit a
    set bit of ``words``, each probe joining its word in the broadcast
    table. A Bloom filter has no false negatives: every key that built
    the table passes."""
    w, mask = bit_cell(F.col("idx"))
    probes = keys.select(key, F.explode(bloom_probes(key, bits)).alias("idx"))
    hit = F.when(F.col("bits").bitwiseAND(F.col("mask")) != 0, 1).otherwise(0)
    return (
        probes.select(key, w.alias("w"), mask.alias("mask"))
        .join(F.broadcast(words), "w", "left")
        .groupBy(key)
        .agg(F.sum(hit).alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
        .select(key)
    )


def sql_bloom_screen(keys: str, key: str, words: str) -> str:
    """DuckDB twin of :func:`bloom_screen` over relations ``keys`` and
    ``words`` (a :func:`sql_bit_words` table)."""
    return f"""SELECT {key} FROM (
        SELECT {key}, unnest({sql_bloom_probes(key)}) AS idx FROM {keys}
      ) p LEFT JOIN {words} wt ON p.idx // {WORD_BITS} = wt.w
      GROUP BY {key}
      HAVING sum(CASE WHEN (wt.bits & (CAST(1 AS BIGINT)
                            << CAST(p.idx % {WORD_BITS} AS INTEGER))) != 0
                      THEN 1 ELSE 0 END) = {BLOOM_K}"""
