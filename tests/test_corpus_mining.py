"""Unit tests for the corpus-mining wave: duplicated-span island
merging on crafted corpora where the expected spans are known by
construction. (Differential parity for the whole wave runs via
tools/check_oracle.py at all three SFs.)"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_neotel_sql_automation_spark.workload.corpus_mining import (
    contam_span_frame,
    dup_span_frame,
)

P = "p1 p2 p3 p4 p5 p6"  # shared 6-token phrase -> 2 duplicated windows


def _rows(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dup_span_frame(df).collect()
    return {r["doc_id"]: r.asDict() for r in out}


def test_identical_docs_fully_covered(spark):
    text = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    got = _rows(spark, [(1, text), (2, text), (3, "z1 z2 z3 z4 z5 z6 z7")])
    # doc 3 is fully unique -> absent from the report
    assert set(got) == {1, 2}
    for d in (1, 2):
        r = got[d]
        assert r["n_tokens"] == 12
        assert r["n_dup_grams"] == 8  # all 12-5+1 windows duplicated
        assert r["covered_tokens"] == 12
        assert r["n_dup_spans"] == 1
        assert r["dup_ppm"] == 1_000_000


def test_shared_prefix_partial_coverage(spark):
    # doc 20 shares its first 6 tokens with doc 10 -> windows at pos 1,2
    # -> one island covering tokens 1..6 of each.
    base = P + " b1 b2 b3 b4 b5 b6"
    other = P + " c1 c2 c3 c4 c5"
    got = _rows(spark, [(10, base), (20, other)])
    assert set(got) == {10, 20}
    assert got[20]["n_dup_grams"] == 2
    assert got[20]["covered_tokens"] == 6  # 5 + least(5, 2-1)
    assert got[20]["n_dup_spans"] == 1
    assert got[20]["dup_ppm"] == 6 * 1_000_000 // 11


def test_contamination_marks_only_train_docs(spark):
    # doc 50 is in the eval slice (50 % 50 == 0); train doc 51 embeds
    # the eval phrase P (6 tokens -> 4-gram windows at pos 1,2,3 ->
    # one island of 6 tokens); train doc 52 is clean.
    docs = [
        (50, P),
        (51, P + " t1 t2 t3 t4"),
        (52, "v1 v2 v3 v4 v5 v6 v7 v8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in contam_span_frame(df).collect()}
    assert set(got) == {51}  # eval doc itself and clean doc absent
    r = got[51]
    assert r["n_tokens"] == 10
    assert r["n_shared_grams"] == 3
    assert r["contaminated_tokens"] == 6
    assert r["n_contam_spans"] == 1
    assert r["contam_ppm"] == 6 * 1_000_000 // 10


def test_within_doc_repeat_makes_two_islands(spark):
    # P ... 7 unique fillers ... P again: dup windows at pos {1,2,14,15};
    # the 12-position gap (> span length) splits coverage into two
    # islands of 6 tokens each.
    text = P + " u1 u2 u3 u4 u5 u6 u7 " + P
    got = _rows(spark, [(30, text)])
    r = got[30]
    assert r["n_tokens"] == 19
    assert r["n_dup_grams"] == 4
    assert r["covered_tokens"] == 12
    assert r["n_dup_spans"] == 2
    assert r["dup_ppm"] == 12 * 1_000_000 // 19


def test_removal_and_stats_agree(spark):
    """Cross-query invariant: the span-removal transform and the
    span-stats report must describe the same excision — for every doc
    in the report, kept tokens == n_tokens - covered_tokens; docs
    absent from the report keep everything. Catches either query
    drifting (window length, island merge, marking rule) while its
    own oracle still matches."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    stats = {
        r["doc_id"]: r for r in dup_span_frame(docs).collect()
    }
    from etl_neotel_sql_automation_spark.workload.corpus_mining import (
        text_dup_span_removal,
    )

    removal = {
        r["doc_id"]: r for r in text_dup_span_removal(spark, sf).collect()
    }
    assert set(stats) <= set(removal)
    for did, r in removal.items():
        if did in stats:
            s = stats[did]
            assert r["n_kept"] == s["n_tokens"] - s["covered_tokens"], did
        else:
            assert r["n_kept"] == r["n_tokens"], did


def test_dup_span_fuzz_parity(spark):
    """Fuzz parity against an independent Python model: random token
    streams over a 4-word alphabet (collision-rich), island stats
    computed brute-force (mark every 5-gram occurring >= 2x anywhere,
    union the [p, p+4] intervals, count contiguous runs) must equal
    the engine's gaps-and-islands arithmetic for every document."""
    import random
    from collections import Counter

    rng = random.Random(7)
    docs = {
        d: [rng.choice("abcd") + str(rng.randint(0, 1)) for _ in range(rng.randint(0, 25))]
        for d in range(150)
    }
    grams = Counter()
    wins = {}
    for d, toks in docs.items():
        ws = [tuple(toks[i : i + 5]) for i in range(len(toks) - 4)] if len(toks) >= 5 else []
        wins[d] = ws
        grams.update(ws)
    want = {}
    for d, ws in wins.items():
        pos = [i + 1 for i, w in enumerate(ws) if grams[w] >= 2]
        if not pos:
            continue
        covered: set[int] = set()
        for p in pos:
            covered.update(range(p, p + 5))
        spans, prev = 0, None
        for c in sorted(covered):
            if prev is None or c > prev + 1:
                spans += 1
            prev = c
        want[d] = (len(docs[d]), len(pos), len(covered), spans)

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_grams"], r["covered_tokens"], r["n_dup_spans"])
        for r in dup_span_frame(df).collect()
    }
    assert got == want and want  # nonempty by construction at this alphabet


def test_bloom_prefilter_is_output_invariant(spark):
    """The Bloom pre-filter must be a pure optimization: its final
    contaminated-doc set equals the plain exact semi-join's (no false
    negatives, and the exact verification removes the false
    positives). Checked Spark-side against an independently built
    exact join; the quality meter's n_false_positives must be >= 0 —
    a negative value would mean the filter dropped a true member,
    which the construction forbids."""
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.workload import queries
    from etl_neotel_sql_automation_spark.workload.corpus_mining import (
        _CONTAM_N,
        _windows_frame,
    )

    sf = "/root/testdata/sf0.001"
    qs = queries()
    got = {r["doc_id"] for r in qs["decontam_bloom_prefilter"](spark, sf).collect()}

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    g = _windows_frame(docs, span_n=_CONTAM_N).select("doc_id", "gram")
    ev = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    exact = {
        r["doc_id"]
        for r in g.filter(F.col("doc_id") % 50 != 0)
        .join(ev, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert got == exact and exact  # nonempty at sf0.001

    meter = qs["decontam_bloom_quality"](spark, sf).collect()[0]
    assert meter["n_false_positives"] >= 0
    assert meter["n_candidates"] >= meter["n_true_shared"]


def test_cms_never_underestimates_and_matches_exact_when_clean(spark):
    """Count-min sketch structural invariants on real data: every
    estimate >= the exact count (one-sided error — the CMS guarantee
    the meter's overest_ppm >= 0 column encodes), and the top-1 token
    estimate is sane (within the sketch's aN/w error envelope:
    overestimate <= total_tokens since w*1 buckets can at most absorb
    the stream)."""
    from etl_neotel_sql_automation_spark.workload import queries

    rows = queries()["text_heavy_hitters_cms"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    assert all(r["n_cms_est"] >= r["n_exact"] for r in rows)
    assert all(r["overest_ppm"] >= 0 for r in rows)


def test_es_weighted_sample_prefers_heavier_docs(spark):
    """Efraimidis-Spirakis sanity: the selected top-20's mean token
    count must exceed the corpus mean (weight-proportional selection
    pulls heavy docs), and the draw must be deterministic across
    calls (pure function of doc_id)."""
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.ops import text as X
    from etl_neotel_sql_automation_spark.workload import queries

    sf = "/root/testdata/sf0.001"
    sel = queries()["sample_weighted_es_topk"](spark, sf).collect()
    again = queries()["sample_weighted_es_topk"](spark, sf).collect()
    assert [r["doc_id"] for r in sel] == [r["doc_id"] for r in again]
    mean_sel = sum(r["n_tokens"] for r in sel) / len(sel)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    mean_all = (
        docs.select(X.token_count("text").alias("nt")).agg(F.avg("nt")).first()[0]
    )
    assert mean_sel > mean_all
