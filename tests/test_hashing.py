"""Property test for the cross-engine hash primitive (ops/hashing.py):
md5_long must agree bit-for-bit across Spark, DuckDB, and Python on
arbitrary strings — every hash-based oracle (MinHash, SimHash,
winnowing, LSH) rests on this equivalence. The helpers built on it
(the Bloom probes, the 60-bit word table and its screens, the split
and the salted sketch buckets) are checked the same way."""

from __future__ import annotations

from itertools import count

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_neotel_sql_automation_spark.ops.hashing import (
    BLOOM_K,
    TABLE_BITS,
    WORD_BITS,
    bit_words,
    bloom_probes,
    bloom_screen,
    hash_split,
    md5_long,
    py_md5_long,
    salted_bucket,
    sql_bit_words,
    sql_bloom_probes,
    sql_bloom_screen,
    sql_hash_split,
    sql_md5_long,
    sql_salted_bucket,
)

# printable + unicode + whitespace; exclude surrogates (not encodable)
_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=60
)


@given(st.lists(_TEXT, min_size=1, max_size=30, unique=True))
@settings(max_examples=20, deadline=None)
def test_md5_long_python_equals_duckdb(strings):
    con = duckdb.connect()
    for s in strings:
        d = con.execute(
            f"SELECT {sql_md5_long('?')}".replace("CAST(? AS VARCHAR)", "?"), [s]
        ).fetchone()[0]
        assert d == py_md5_long(s), s


def test_md5_long_spark_equals_python_and_duckdb(spark):
    """One Spark job over a fixed adversarial corpus (empty string,
    whitespace, unicode, separators, long runs) — all three engines
    must produce the identical 60-bit value."""
    corpus = [
        "", " ", "\t", "a", "0", "hello world", "ünïcode ñ €", "a,b,c",
        "line\nbreak", "trailing ", " leading", "ação über 北京",
        "x" * 500, "1:2:42", "-1", "\x01sep\x01",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "s string")
    got = {r.s: r.h for r in df.select("s", md5_long("s").alias("h")).collect()}
    con = duckdb.connect()
    for s in corpus:
        expected = py_md5_long(s)
        assert got[s] == expected, f"spark mismatch on {s!r}"
        d = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [s]
        ).fetchone()[0]
        assert d == expected, f"duckdb mismatch on {s!r}"


def _py_probes(s: str) -> list[int]:
    return [py_md5_long(f"{s}:{i}") % TABLE_BITS for i in range(BLOOM_K)]


def _py_words(keys) -> dict[int, int]:
    words: dict[int, int] = {}
    for k in keys:
        for idx in _py_probes(k):
            words[idx // WORD_BITS] = words.get(idx // WORD_BITS, 0) | 1 << idx % WORD_BITS
    return words


def test_bit_table_and_bloom_probes_match_across_engines(spark):
    """A few hundred keys: the Bloom probe indices, the word table they
    build, and the keys each screen passes are equal in Spark, DuckDB
    and a Python model of the rule. One key probes the last word, which
    holds only TABLE_BITS % 60 = 16 bits."""
    from etl_neotel_sql_automation_spark.streaming.landing import _bloom_literal_hit

    last_word_start = TABLE_BITS - TABLE_BITS % WORD_BITS
    tail = next(
        f"tail {i}" for i in count() if max(_py_probes(f"tail {i}")) >= last_word_start
    )
    keys = [tail, "", "ünïcode ñ €", "a b c d"] + [f"gram {i}" for i in range(300)]
    build = keys[::2]
    want_words = _py_words(build)
    assert (TABLE_BITS - 1) // WORD_BITS in want_words
    want_pass = {
        k
        for k in keys
        if all(want_words.get(i // WORD_BITS, 0) >> i % WORD_BITS & 1 for i in _py_probes(k))
    }
    assert set(build) <= want_pass < set(keys)

    df = spark.createDataFrame([(k,) for k in keys], "gram string")
    got = df.select("gram", bloom_probes("gram").alias("p")).collect()
    assert {r.gram: list(r.p) for r in got} == {k: _py_probes(k) for k in keys}
    words = bit_words(df.filter(F.col("gram").isin(build)), F.explode(bloom_probes("gram")))
    assert {r.w: r.bits for r in words.collect()} == want_words
    assert {r.gram for r in bloom_screen(df, "gram", words, TABLE_BITS).collect()} == want_pass
    assert {r.gram for r in df.filter(_bloom_literal_hit(words)).collect()} == want_pass

    con = duckdb.connect()
    con.execute("CREATE TABLE g (gram VARCHAR)")
    con.executemany("INSERT INTO g VALUES (?)", [(k,) for k in keys])
    con.execute("CREATE TABLE b AS SELECT * FROM g WHERE gram IN (SELECT unnest(?))", [build])
    probes = sql_bloom_probes("gram")
    rows = con.execute(f"SELECT gram, {probes} FROM g").fetchall()
    assert {k: list(p) for k, p in rows} == {k: _py_probes(k) for k in keys}
    con.execute("CREATE TABLE w AS " + sql_bit_words("b", f"unnest({probes})"))
    assert dict(con.execute("SELECT w, bits FROM w").fetchall()) == want_words
    screened = con.execute(sql_bloom_screen("g", "gram", "w")).fetchall()
    assert {r[0] for r in screened} == want_pass


def test_split_and_salted_bucket_match_across_engines(spark):
    keys = list(range(-5, 400))
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = df.select(
        "k",
        hash_split("k").alias("split"),
        salted_bucket(F.col("k"), ":jse", F.lit(3), 2048).alias("b"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?) AS k, 3 AS r", [keys])
    duck = con.execute(
        f"SELECT k, {sql_hash_split('k')}, {sql_salted_bucket('k', ':jse', 2048)} FROM t"
    ).fetchall()
    want = {}
    for k in keys:
        b = py_md5_long(str(k)) % 100
        split = "train" if b < 90 else "eval" if b < 95 else "test"
        want[k] = (split, py_md5_long(f"{k}:jse3") % 2048)
    assert {r.k: (r.split, r.b) for r in got} == want
    assert {k: (s, b) for k, s, b in duck} == want
