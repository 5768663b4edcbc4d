"""Semantic tests for the LLM-data operators: dedup actually finds the
planted duplicates, similarity actually ranks the planted neighbor
first, multimodal plumbing preserves batch shape and determinism."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from etl_neotel_sql_automation_spark.ops import dedup as D
from etl_neotel_sql_automation_spark.ops import multimodal as M
from etl_neotel_sql_automation_spark.ops import similarity as S
from etl_neotel_sql_automation_spark.ops import text as X


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("lazy", "sleepy")  # one token differs
    other = "completely different content about spark shuffles and partitions here now"
    rows = [
        (1, base, "s1"),
        (2, base, "s1"),          # exact dup of 1
        (3, near, "s1"),          # near dup of 1
        (4, other, "s1"),
        (5, "short text", "s2"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_exact_and_fingerprint_groups(spark, docs):
    g = {r.keep_id: r.n_dups for r in D.exact_groups(docs).collect()}
    assert g[1] == 2  # docs 1+2 collapse
    fp = D.fingerprint_groups(docs.withColumn("text", F.concat("text", F.lit("  "))))
    # trailing whitespace normalized away -> same grouping
    assert {r.n_dups for r in fp.collect()} == {2, 1, 1, 1}


def test_token_jaccard_finds_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.token_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert pairs[(1, 3)] > 0.8           # near dup: 1 of 13 tokens differs
    assert pairs.get((1, 4), 0.0) < 0.2  # unrelated


def test_overlap_pairs_blocked_and_unblocked(spark):
    """overlap_pairs: per pair the shared-element count and both set
    sizes, id_a < id_b, no pair without a shared element, and with a
    ``blk`` column no pair across blocks."""
    rows = [
        (3, "x", "b"), (3, "w", "b"),
        (1, "x", "a"), (1, "y", "a"), (1, "z", "a"),
        (2, "y", "a"), (2, "z", "a"),
        (4, "q", "a"),  # shares nothing
    ]
    elems = spark.createDataFrame(rows, "id long, el string, blk string")

    def pairs(df):
        out = D.overlap_pairs(df)
        assert out.columns == ["id_a", "id_b", "n_inter", "sz_a", "sz_b"]
        return sorted(tuple(r) for r in out.collect())

    assert pairs(elems.select("id", "el")) == [(1, 2, 2, 3, 2), (1, 3, 1, 3, 2)]
    assert pairs(elems) == [(1, 2, 2, 3, 2)]


def test_jaccard6_matches_duckdb_round6(spark):
    """jaccard6 equals DuckDB's round(n / (a + b - n), 6) on seeded
    (n, a, b) triples, edge cases included: the rule every Jaccard
    oracle replays."""
    import random

    import duckdb

    rng = random.Random(13)
    rows = [(0, 1, 1), (1, 1, 1), (3, 3, 7), (0, 40, 2)]
    for _ in range(196):
        a, b = rng.randint(1, 60), rng.randint(1, 60)
        rows.append((rng.randint(0, min(a, b)), a, b))
    df = spark.createDataFrame(rows, "n long, a long, b long")
    got = [r.j for r in df.select(D.jaccard6("n", "a", "b").alias("j")).collect()]
    values = ", ".join(f"({n}, {a}, {b}, {i})" for i, (n, a, b) in enumerate(rows))
    want = [
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT round(n / (a + b - n), 6) FROM (VALUES {values}) t(n, a, b, i)"
            " ORDER BY i"
        ).fetchall()
    ]
    assert len(got) == 200
    assert got == want


def test_ngrams_keep_repeats_and_shingles_are_distinct(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b"), (3, "   ")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.g3, r.g1, r.sh)
        for r in df.select(
            "doc_id",
            X.ngrams(X.tokens("text"), 3).alias("g3"),
            X.ngrams(X.tokens("text"), 1).alias("g1"),
            D.shingles("text", 3).alias("sh"),
        ).collect()
    }
    assert out[1] == (["a b a", "b a b", "a b a"], ["a", "b", "a", "b", "a"], ["a b a", "b a b"])
    assert out[2] == ([], ["a", "b"], [])  # fewer than n tokens
    assert out[3] == ([], [], [])


def test_token_containment_pairs(spark):
    """The smaller token set is the contained side (a subset scores
    1.0 whichever id it has); equal sizes put the lower id on the
    contained side; no pair forms across blocks."""
    rows = [
        (1, "a b c d e", "s1"),
        (2, "a b c", "s1"),  # subset of 1
        (3, "p q r", "s1"),
        (4, "p q s", "s1"),  # same size as 3
        (5, "a b c", "s2"),  # subset of 1 and equal to 2, other block
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(tuple(r) for r in D.token_containment_pairs(docs, threshold=0.5).collect())
    assert got == [(2, 1, 1.0), (3, 4, 0.666667)]


def test_minhash_lsh_finds_near_dup(spark, docs):
    cand = {(r.id_a, r.id_b): r.n_bands for r in D.minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in cand and cand[(1, 2)] == 8   # identical -> all bands
    assert (1, 3) in cand                          # near dup -> some band
    assert (1, 4) not in cand                      # unrelated -> no band


def test_incremental_dedup_verdicts(spark):
    """Planted cases: an exact copy -> exact_dup (match fields null), a
    one-token edit -> near_dup with the right corpus match, and an
    unrelated doc -> unique. Covers the branch the star-schema data
    cannot (it has no cross-source exact dups)."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank today "
        "while the morning sun rises slowly above the quiet village and the "
        "farmers walk their fields counting rows of corn before the market opens"
    )
    edited = base.replace("corn", "wheat")  # 1 of ~37 tokens -> shingle J ~ 0.92
    corpus_rows = [
        (100, base),
        (101, "completely different text about spark partitions and shuffle behavior here"),
    ]
    new_rows = [
        (1, base),
        (2, edited),
        (3, "unrelated words entirely zebra quantum lattice harmonic oscillator basis"),
    ]
    schema = "doc_id long, text string"
    corp = spark.createDataFrame(corpus_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = {r.doc_id: r for r in D.incremental_dedup(new, corp, threshold=0.5).collect()}
    assert out[1].verdict == "exact_dup" and out[1].match_id is None
    assert out[2].verdict == "near_dup" and out[2].match_id == 100
    assert out[2].jaccard >= 0.5
    assert out[3].verdict == "unique" and out[3].jaccard is None


def test_simhash_hamming(spark, docs):
    sig = {r.id: r.simhash for r in D.simhash(docs).collect()}
    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    assert sig[1] == sig[2]
    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])


def test_brute_force_topk_ranks_planted_neighbor(spark):
    import math
    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]
    rows = [(0, vec(0.0)), (1, vec(0.05)), (2, vec(1.2)), (3, vec(2.8))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    order = [r.n_id for r in sorted(top, key=lambda r: r.rank)]
    assert order == [1, 2, 3]
    assert top[0].sim <= 1.0


def test_top_k_ties_ranks_and_short_keys(spark):
    """top_k: equal scores rank the smaller id first, ranks run 1..k,
    and a key with fewer than k rows keeps them all."""
    rows = [(1, 30, 0.5), (1, 10, 0.5), (1, 20, 0.9), (1, 40, 0.1), (2, 7, 0.3)]
    scored = spark.createDataFrame(rows, "q_id long, n_id long, sim double")
    top = S.top_k(scored, 3)
    assert top.columns == ["q_id", "n_id", "rank", "sim"]
    got = sorted(tuple(r) for r in top.collect())
    assert got == [(1, 10, 2, 0.5), (1, 20, 1, 0.9), (1, 30, 3, 0.5), (2, 7, 1, 0.3)]
    named = scored.toDF("src_id", "dst", "adc")
    top = S.top_k(named, 1, score="adc", key="src_id", other="dst", rank="crank")
    assert top.columns == ["src_id", "dst", "crank", "adc"]
    assert sorted(tuple(r) for r in top.collect()) == [(1, 20, 1, 0.9), (2, 7, 1, 0.3)]


def test_cos6_matches_duckdb_round6_cosine(spark, tmp_path):
    """cos6 of two unit sides equals DuckDB's
    round(list_cosine_similarity(a, b), 6) bit for bit on every pair of
    50 seeded float32 vectors: the rule every similarity oracle replays."""
    import duckdb
    import numpy as np

    vecs = np.random.RandomState(11).standard_normal((50, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    a = S.unit(emb, "embedding", "a").select(F.col("vec_id").alias("a_id"), "av", "an")
    b = S.unit(emb, "embedding", "b").select(F.col("vec_id").alias("b_id"), "bv", "bn")
    got = {
        (r.a_id, r.b_id): r.sim
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", S.cos6("a", "b").alias("sim"))
        .collect()
    }
    want = {
        (x, y): s
        for x, y, s in duckdb.connect().execute(
            f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM read_parquet('{path}/*.parquet'))
            SELECT a.vec_id, b.vec_id, round(list_cosine_similarity(a.v, b.v), 6)
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            """
        ).fetchall()
    }
    assert len(got) == 50 * 49 // 2
    assert got == want


def test_lsh_topk_subset_of_exact(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.q_id, r.n_id) for r in S.brute_force_topk(emb, q, k=50).collect()}
    ann = S.lsh_topk(emb, q, k=5, planes=4).collect()
    assert len(ann) > 0
    # every ANN hit is a real corpus pair with correctly computed sim
    for r in ann:
        assert r.q_id != r.n_id and -1.0 <= r.sim <= 1.0


def test_chunking_covers_every_token_with_exact_stride(spark):
    """Invariants over random docs: starts advance by exactly the
    stride, every token of the doc lands in at least one chunk, chunk
    token counts are <= the window, and chunk count is
    floor((n-1)/stride)+1."""
    import random

    from etl_neotel_sql_automation_spark.workload import queries

    rng = random.Random(7)
    docs = [
        (i, " ".join(rng.choice("abcdefgh") for _ in range(rng.randint(1, 90))))
        for i in range(40)
    ]
    # reuse the registered query's logic by writing a tiny parquet dir
    # shaped like the documents table
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            f"{d}/documents.parquet"
        )
        out = queries()["chunk_documents"](spark, d).collect()
    n_tokens = {i: len(t.split()) for i, t in docs}
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in n_tokens.items():
        rows = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        assert len(rows) == (n - 1) // 24 + 1
        assert all(r.n_chunk_tokens <= 32 for r in rows)
        covered = sum(min(32, n - cid * 24) for cid in range(len(rows)))
        assert covered >= n  # windows overlap -> full coverage


def test_sq8_codes_bounds_and_extremes(spark):
    """SQ8 codes stay in [-128, 127]; a vector sitting at the per-dim
    minimum encodes to -128 everywhere, at the maximum to 127."""
    dim = 4
    rows = [
        (0, [0.0, -1.0, 10.0, 5.0]),
        (1, [1.0, 3.0, 20.0, 9.0]),
        (2, [0.5, 1.0, 15.0, 7.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = S.sq8_stats(emb, "embedding", dim)
    codes = {r.id if hasattr(r, "id") else r.vec_id: r.codes
             for r in S.sq8_codes(emb, stats, "vec_id", "embedding", dim).collect()}
    assert codes[0] == [-128] * dim  # per-dim minimum
    assert codes[1] == [127] * dim   # per-dim maximum: floor(255) - 128
    assert all(-128 <= c <= 127 for c in codes[2])


def test_pq_encode_codes_shape_and_range(spark):
    """PQ codes: m entries per vector, each a valid codebook index; a
    vector equal to a centroid in every subspace must encode to exactly
    that centroid's code."""
    m, k, sub = 4, 4, 2
    books = [
        [[float(c + j), float(c - j)] for c in range(k)] for j in range(m)
    ]
    # row 0: exactly centroid 2 in every subspace; row 1: arbitrary
    v0 = [x for j in range(m) for x in books[j][2]]
    v1 = [0.1 * i for i in range(m * sub)]
    emb = spark.createDataFrame(
        [(0, v0), (1, v1)], "vec_id long, embedding array<double>"
    )
    rows = {r.vec_id: r.codes for r in S.pq_encode(emb, books).collect()}
    assert rows[0] == [2] * m
    assert len(rows[1]) == m and all(0 <= c < k for c in rows[1])


def test_sq8_topk_recall_vs_exact_inner_product(spark):
    """SQ8 ranking must recover most of the exact float inner-product
    top-5 (measured 0.72-0.78 on the random test embeddings — the hard
    case: near-orthogonal vectors bunch scores so quantization noise
    flips adjacent ranks; clustered real embeddings do far better) and
    each query must return exactly k rows."""
    from pyspark.sql import Window as W

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    sq = S.sq8_topk(emb, q, k=5).collect()
    per_q: dict[int, int] = {}
    for r in sq:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert set(per_q.values()) == {5}

    qd = q.select(F.col("vec_id").alias("q_id"), S._to_double("embedding").alias("qv"))
    cd = emb.select(F.col("vec_id").alias("n_id"), S._to_double("embedding").alias("nv"))
    scored = cd.join(F.broadcast(qd), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", S.dot(F.col("qv"), F.col("nv")).alias("ip")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("ip"), "n_id")
    exact = scored.withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()
    a = {(r.q_id, r.n_id) for r in sq}
    b = {(r.q_id, r.n_id) for r in exact}
    assert len(a & b) / len(b) >= 0.6


def test_ivf_pq_candidate_generation_is_cell_equijoin(spark):
    """The composed IVF×PQ plan must generate candidates through the
    coarse-quantizer CELL equi-join, never a corpus-wide pair join:
    the only BroadcastNestedLoopJoins allowed are the two fixed-
    cardinality centroid-assignment broadcasts (corpus side + query
    side); every candidate/re-rank join must be a hash equi-join
    (cid / q_id / n_id keys). Recall vs exact inner-product search
    must clear the registered property floor."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    ann = S.ivf_pq_topk(emb, q, k=5)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan
    # the candidate join keys on the centroid cell id
    bhj_keys = [
        line for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "cid" in line
    ]
    assert bhj_keys, plan

    rows = ann.collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert set(per_q.values()) == {5}
    from pyspark.sql import Window as W

    qd = q.select(F.col("vec_id").alias("q_id"), S._to_double("embedding").alias("qv"))
    cd = emb.select(F.col("vec_id").alias("n_id"), S._to_double("embedding").alias("nv"))
    scored = cd.join(F.broadcast(qd), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", S.dot(F.col("qv"), F.col("nv")).alias("ip")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("ip"), "n_id")
    exact = scored.withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()
    a = {(r.q_id, r.n_id) for r in rows}
    b = {(r.q_id, r.n_id) for r in exact}
    assert len(a & b) / len(b) >= 0.6


def test_cosine_near_dup_pairs(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.99, 0.14]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in S.cosine_near_dup_pairs(emb, 0.9).collect()}
    assert pairs == {(0, 1)}


def test_text_quality_orders_sensibly(spark):
    rows = [
        (1, "the study of language and the structure of grammar is a field of science"),
        (2, "@@@ ### !!! $$$ %%%"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.analyze(df).collect()}
    assert out[1].quality > out[2].quality
    assert out[2].punct_ratio > 0.5
    assert out[1].lang_pred == "en"
    assert out[1].n_bpe_tokens >= out[1].n_tokens


def test_rolling_hashes_shift_invariance(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "PRE a b c d e f g h i j k l")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: set(r.h) for r in df.select("doc_id", X.rolling_hashes("text").alias("h")).collect()}
    # shared windows survive the prefix shift (winnowing property)
    assert len(out[1] & out[2]) > 0


def test_multimodal_features_deterministic(spark, docs):
    feats = M.extract_features(M.attach_binary(docs))
    rows = {r.doc_id: r for r in feats.collect()}
    payload = b"the quick brown fox jumps over the lazy dog and runs far away home"
    assert rows[1].n_bytes == len(payload)
    assert rows[1].checksum == zlib.crc32(payload)
    assert rows[1].width == len(payload) % 640
    # identical payloads -> identical features
    assert rows[1] == rows[2].asDict() == rows[2].asDict() or rows[1].checksum == rows[2].checksum


def test_multimodal_pil_decode_gated():
    with pytest.raises(NotImplementedError):
        M.pil_decode(b"not an image")


def test_sample_frames_shape(spark, docs):
    frames = M.sample_frames(M.attach_binary(docs), frame_size=16, every_nth=2)
    got = frames.filter(F.col("doc_id") == 1).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in got] == [0, 2, 4]  # every 2nd of 5 frames
    assert all(len(r.frame) <= 16 for r in got)
    payload = b"the quick brown fox jumps over the lazy dog and runs far away home"
    assert bytes(got[0].frame) == payload[:16]


def test_connected_components_chain_cycle_singleton(spark):
    """Min-label propagation must cross multi-hop chains (diameter > 1),
    close cycles, and leave singletons labeled as themselves."""
    from etl_neotel_sql_automation_spark.ops.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # chain 1-2-3-4 (diameter 3), cycle 5-6-7-5, singleton 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 5)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


def test_gapfill_locf_and_interp(spark):
    from datetime import datetime

    from etl_neotel_sql_automation_spark.ops import timeseries as TS

    h = lambda i: datetime(2024, 1, 1, i)
    # key "a": observed at hours 0 (v=10) and 3 (v=40) -> gaps at 1,2
    # key "b": single observation -> 1-row grid, no gaps
    rows = [
        ("a", h(0), 10.0), ("a", h(3), 40.0),
        ("b", h(5), 7.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = TS.resample(df, "k", "ts", "v").collect()
    a = {r.bucket.hour: r for r in out if r.series_key == "a"}
    assert sorted(a) == [0, 1, 2, 3]
    assert [a[i].observed for i in range(4)] == [1, 0, 0, 1]
    # linear between 10 and 40 over 3 steps
    assert [a[i].v_interp for i in range(4)] == [10.0, 20.0, 30.0, 40.0]
    # locf carries the last observation
    assert [a[i].v_locf for i in range(4)] == [10.0, 10.0, 10.0, 40.0]
    b = [r for r in out if r.series_key == "b"]
    assert len(b) == 1 and b[0].observed == 1 and b[0].v_interp == 7.0


def test_gapfill_leading_edge_backfills(spark):
    from datetime import datetime

    from etl_neotel_sql_automation_spark.ops import timeseries as TS

    # two observations same bucket -> avg; leading gap impossible by
    # construction (grid starts at first obs), so test via rollup: the
    # grid's first bucket is always observed and v_locf is never null.
    rows = [("a", datetime(2024, 1, 1, 0, 10), 4.0),
            ("a", datetime(2024, 1, 1, 0, 50), 6.0),
            ("a", datetime(2024, 1, 1, 2, 0), 9.0)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {r.bucket.hour: r for r in TS.resample(df, "k", "ts", "v").collect()}
    assert out[0].v_interp == 5.0  # avg of the two obs in bucket 0
    assert out[1].observed == 0 and out[1].v_interp == 7.0
    assert all(r.v_locf is not None for r in out.values())


def test_pagerank_int_matches_python_model(spark):
    from etl_neotel_sql_automation_spark.ops.graph import pagerank_int

    # undirected star: 0 central, 1..4 leaves (+ both directions)
    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"]
    )
    got = {r.id: r.rank for r in pagerank_int(edges, iters=3, scale=10**12).collect()}

    # independent python model of the same integer recurrence; teleport
    # (and the initial mass) goes to the `seeds` nodes only, n of them
    scale = 10**12
    adj = {0: [1, 2, 3, 4], 1: [0], 2: [0], 3: [0], 4: [0]}

    def model(seeds):
        n = len(seeds)
        rank = {v: scale // n if v in seeds else 0 for v in adj}
        for _ in range(3):
            contrib = {v: 0 for v in adj}
            for u, ns in adj.items():
                c = rank[u] // len(ns)
                for v in ns:
                    contrib[v] += c
            rank = {
                v: ((15 * scale) // (100 * n) if v in seeds else 0)
                + (85 * contrib[v]) // 100
                for v in adj
            }
        return rank

    assert got == model(set(adj))
    assert got[0] > got[1]  # hub outranks leaves

    # personalized: seeds {1, 2} — the seeds outrank the unseeded leaves
    seeds = spark.createDataFrame([(1,), (2,)], ["id"])
    ppr = {
        r.id: r.rank
        for r in pagerank_int(edges, iters=3, scale=scale, seeds=seeds).collect()
    }
    assert ppr == model({1, 2})
    assert ppr[1] == ppr[2] > ppr[3] == ppr[4]

    # an empty seed set keeps SQL div semantics: all-zero ranks, no raise
    none = spark.createDataFrame([], "id long")
    empty = pagerank_int(edges, iters=3, scale=scale, seeds=none).collect()
    assert {r.id: r.rank for r in empty} == {v: 0 for v in adj}


def test_split_assignment_stable_under_append(spark):
    """A document's split must not change when the corpus grows — the
    property that keeps eval sets uncontaminated over time."""
    from etl_neotel_sql_automation_spark.ops.hashing import md5_long

    def assign(df):
        b = md5_long(F.col("doc_id")) % 100
        return df.select(
            "doc_id",
            F.when(b < 90, "train").when(b < 95, "eval").otherwise("test").alias("s"),
        )

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.s for r in assign(small).collect()}
    b = {r.doc_id: r.s for r in assign(big).collect()}
    assert all(b[k] == v for k, v in a.items())
    frac_train = sum(v == "train" for v in b.values()) / 5000
    assert 0.85 < frac_train < 0.95


def test_extract_features_arrow_matches_pandas(spark, docs):
    arrow = M.extract_features_arrow(M.attach_binary(docs))
    pandas = M.extract_features(M.attach_binary(docs))
    a = {r.doc_id: (r.n_bytes, r.checksum, r.width, r.height) for r in arrow.collect()}
    p = {r.doc_id: (r.n_bytes, r.checksum, r.width, r.height) for r in pandas.collect()}
    assert a == p and len(a) == 5


def test_profile_table_exact_and_hll_agree_on_shape(spark):
    """The profile op returns one row per column from ONE aggregation
    pass; the HLL path must agree with exact counts within its error
    bound on a small distinct domain."""
    from etl_neotel_sql_automation_spark.ops.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (2, None, 2.5), (3, "a", None)],
        ["k", "s", "x"],
    )
    exact = {r.column: r for r in profile_table(df, approx=False).collect()}
    hll = {r.column: r for r in profile_table(df, approx=True).collect()}
    assert set(exact) == {"k", "s", "x"}
    assert exact["k"].non_null_count == 4 and exact["k"].null_count == 0
    assert exact["s"].null_count == 1 and exact["s"].distinct_count == 2
    assert exact["x"].non_null_count == 2
    assert exact["k"].min_value == "1" and exact["k"].max_value == "3"
    # HLL is exact at these cardinalities
    for c in exact:
        assert hll[c].distinct_count == exact[c].distinct_count


def test_profile_table_single_aggregate_plan(spark):
    """Profiling N columns must not become N passes: the plan contains
    exactly one aggregate pair over one scan."""
    from etl_neotel_sql_automation_spark.ops.profile import profile_table

    df = spark.range(100).selectExpr("id", "id % 7 AS a", "CAST(id AS STRING) AS s")
    plan = profile_table(df, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") - plan.count("ReusedExchange") <= 2


def test_canonical_docs_singletons_and_quality_pick(spark):
    """No pairs -> every doc is its own canonical; with a pair, the
    higher-quality doc survives regardless of id order, min id breaks
    exact quality ties."""
    from etl_neotel_sql_automation_spark.ops.graph import canonical_docs

    nodes = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 50)], "id long, q int"
    )
    none = canonical_docs(nodes, spark.createDataFrame([], "id_a long, id_b long"),
                          quality_col="q")
    assert all(r.is_canonical for r in none.collect())

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in canonical_docs(nodes, pairs, quality_col="q").collect()}
    # cluster {1,2}: 2 has higher quality -> canonical despite larger id
    assert out[2] == (1, True) and out[1] == (1, False)
    # cluster {3,4}: tie on quality -> min id wins
    assert out[3] == (3, True) and out[4] == (3, False)


def test_weighted_poisson_matches_python_reference(spark, tmp_path):
    """The registered weighted-Poisson sample must equal a pure-Python
    replay of the integer inclusion test on a tiny synthetic corpus —
    verifying the cross-multiplied arithmetic, not just the oracle."""
    from etl_neotel_sql_automation_spark.ops.hashing import py_md5_long
    from etl_neotel_sql_automation_spark.workload.train_prep import (
        sample_weighted_poisson,
    )

    rows = [(i, "s", " ".join(["tok"] * (5 + 7 * i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = tmp_path / "sf"
    sf.mkdir()
    df.write.parquet(str(sf / "documents.parquet"))

    got = {r.doc_id for r in sample_weighted_poisson(spark, str(sf)).collect()}
    nts = {i: 5 + 7 * i for i, _, _ in rows}
    sum_nt, n_docs = sum(nts.values()), len(nts)
    want = {
        i for i, nt in nts.items()
        if (py_md5_long(f"wps:{i}") % 1_000_000) * 10 * sum_nt
        < 3_000_000 * nt * n_docs
    }
    assert got == want and 0 < len(want) < n_docs


def test_segment_dedup_empty_doc_matches_oracle(spark, tmp_path):
    """Zero-token documents must be ABSENT from text_segment_dedup on
    both engines: the oracle's range(1, len+1, 8) emits no segments for
    an empty token list, and the Spark side must not emit a phantom
    single empty segment (the guard on the start-index sequence).
    Differential: both engines run on a fixture that includes empty and
    whitespace-only docs plus enough copies of a common segment to
    exercise removal."""
    import duckdb

    from etl_neotel_sql_automation_spark.workload import oracle_sql, queries

    common = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, common + f" unique{i} tail", "en", "s", 0) for i in range(1, 7)]
    rows += [(7, "", "en", "s", 0), (8, "   ", "en", "s", 0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    sf = tmp_path / "sf"
    sf.mkdir()
    df.coalesce(1).write.parquet(str(sf / "documents.parquet"))

    sdf = queries()["text_segment_dedup"](spark, str(sf))
    s_rows = {r.doc_id: (r.n_segs, r.n_removed, r.clean_md5) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    d_rows = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(oracle_sql()["text_segment_dedup"]).fetchall()
    }
    assert 7 not in s_rows and 8 not in s_rows  # empty docs absent
    assert s_rows == d_rows
    assert all(v[1] >= 1 for v in s_rows.values())  # the common 8-token segment was struck


def test_drop_managed_table_rejects_unsafe_names(spark):
    """drop_managed_table interpolates the name into SQL and maps it to
    a warehouse rmtree path — qualified or malformed names must be
    rejected before either happens."""
    from etl_neotel_sql_automation_spark.io_sinks import drop_managed_table

    for bad in ("db.table", "t; DROP TABLE x", "../../etc", ""):
        with pytest.raises(ValueError):
            drop_managed_table(spark, bad)


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """The quantizer-training sampler must pick the SAME rows across
    runs and across repartitionings (df.sample is seeded per partition
    and breaks this), and take roughly the requested fraction."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    a = {r.vec_id for r in S.hash_sample(emb, "vec_id", 0.25).select("vec_id").collect()}
    b = {
        r.vec_id
        for r in S.hash_sample(emb.repartition(13), "vec_id", 0.25)
        .select("vec_id")
        .collect()
    }
    assert a == b                         # partition-layout invariant
    assert 0.15 * n <= len(a) <= 0.35 * n  # fraction roughly honored
    assert S.hash_sample(emb, "vec_id", None) is emb  # no-op passthrough


def test_ivf_pq_sampled_training_same_plan_and_recall(spark):
    """The sampled-training IVF×PQ (the registered sim_ivf_pq_sampled
    deploy shape) must keep the full-training variant's plan
    properties — cell equi-join candidate generation, no corpus-wide
    pair join — and clear the same recall floor: centroids fit on a
    25% hash-sample lose no ranking quality at this scale."""
    from pyspark.sql import Window as W

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    ann = S.ivf_pq_topk(emb, q, k=5, train_fraction=0.25)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan

    rows = ann.collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert set(per_q.values()) == {5}

    qd = q.select(F.col("vec_id").alias("q_id"), S._to_double("embedding").alias("qv"))
    cd = emb.select(F.col("vec_id").alias("n_id"), S._to_double("embedding").alias("nv"))
    scored = cd.join(F.broadcast(qd), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", S.dot(F.col("qv"), F.col("nv")).alias("ip")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("ip"), "n_id")
    exact = scored.withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()
    a = {(r.q_id, r.n_id) for r in rows}
    b = {(r.q_id, r.n_id) for r in exact}
    assert len(a & b) / len(b) >= 0.6


def test_dedup_probe_corpus_plants_are_found(spark):
    """The dedup scaling probe's synthetic corpus must actually contain
    what the operators are supposed to find — exact copies collapse in
    exact_groups, near-copies surface as MinHash-LSH candidate pairs —
    so the probe measures real dedup work, not scans over structureless
    noise (the events-probe funnel taught this lesson)."""
    from tools.synth import BASE_DOCS, synth_docs

    docs = synth_docs(spark, 1000).cache()
    try:
        n_exact_dups = docs.count() - docs.select("text").distinct().count()
        assert n_exact_dups >= 30  # ~4% planted exact copies

        cand = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates(docs, hash_fn="xxhash64").collect()
        }
        # every planted near-copy (doc_id % 25 == 2) pairs with its base
        planted = {(d - 2, d) for d in range(2, 1000, 25)}
        found = planted & cand
        assert len(found) / len(planted) >= 0.8  # LSH recall on J~0.85 pairs
    finally:
        docs.unpersist()
    assert BASE_DOCS == 5_000


def test_ann_probe_corpus_plants_are_found(spark):
    """The ANN scaling probe's synthetic embeddings must contain planted
    near-duplicates that the LSH path actually finds at the probe's own
    scaled-planes configuration — same discipline as the dedup/events
    probes: measure real retrieval work, not scans over noise."""
    from tools.scale_probe import FAMILIES, Tables, planes_for
    from tools.synth import synth_embeddings

    emb = synth_embeddings(spark, 2000).cache()
    try:
        lsh = FAMILIES["ann"]["lsh_near_dup"](Tables(spark, 1, embeddings=emb))
        pairs = {(r.id_a, r.id_b): r.sim for r in lsh.collect()}
        planted = {(d - 1, d) for d in range(1, 2000, 50)}
        found = planted & set(pairs)
        assert len(found) / len(planted) >= 0.9   # cosine ~0.999 pairs
        assert all(pairs[p] >= 0.9 for p in found)
    finally:
        emb.unpersist()
    # round-of-log2 schedule (r10 VERDICT #2): occupancy band ~12..25
    assert planes_for(2000) == 7 and planes_for(200_000) == 14


def test_local_kmeans_deterministic_and_complete():
    """The trainer-node k-means backend (ops.similarity._kmeans_local):
    deterministic across calls for a fixed seed, returns exactly k
    centers of the input dimensionality, and separates well-separated
    blobs (each true center recovered within tolerance)."""
    import numpy as np

    rng = np.random.RandomState(7)
    blobs = np.concatenate(
        [rng.normal(loc=mu, scale=0.05, size=(50, 4)) for mu in (-2.0, 0.0, 2.0)]
    )
    a = S._kmeans_local(blobs, 3, seed=42)
    b = S._kmeans_local(blobs, 3, seed=42)
    assert np.array_equal(a, b)
    assert a.shape == (3, 4)
    got = sorted(c[0] for c in a)
    for want, g in zip((-2.0, 0.0, 2.0), got):
        assert abs(want - g) < 0.1


def test_local_train_sample_cap_guard(spark):
    """The k-means trainer never collects more than its cap:
    an over-cap sample is downsampled to EXACTLY the cap by a
    deterministic hash-order top-k (r10 ADVICE: raising here made the
    registered local-backend queries stop working past SF~10), and the
    result is reproducible across partitionings."""
    big = spark.range(300_000).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 97).cast("double")).alias("embedding"),
    )
    old = S._LOCAL_TRAIN_CAP
    try:
        S._LOCAL_TRAIN_CAP = 1000
        a = S._collect_train_sample(big, "vec_id", "embedding", 0.5)
        assert len(a) == 1000
        b = S._collect_train_sample(
            big.repartition(7, "vec_id"), "vec_id", "embedding", 0.5
        )
        assert a == b  # partitioning-independent, order included
        # under the cap: every sampled row comes back, no truncation
        small = spark.range(500).select(
            F.col("id").alias("vec_id"),
            F.array(F.col("id").cast("double")).alias("embedding"),
        )
        assert len(S._collect_train_sample(small, "vec_id", "embedding", None)) == 500
    finally:
        S._LOCAL_TRAIN_CAP = old


def _sf0001_embeddings(spark):
    from test_plans import SF

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return emb, emb.filter(F.col("vec_id") < 10)


def test_ivf_topk_trains_in_one_spark_job(spark):
    """Building the IVF plan fits the coarse quantizer locally: the
    capped sample collect is the only Spark job, where a distributed
    k-means ran one job per iteration."""
    from test_table_schema_cache import _jobs

    emb, q = _sf0001_embeddings(spark)
    _, jobs = _jobs(spark, lambda: S.ivf_topk(emb, q, k=5))
    assert jobs == 1


def test_ivf_pq_topk_trains_in_one_spark_job(spark):
    """IVF×PQ fits the coarse quantizer AND the PQ codebooks from one
    capped sample collect, where each trainer used to collect its own
    copy of the same sample (``rerank`` is given so the default's
    corpus count does not run)."""
    from test_table_schema_cache import _jobs

    emb, q = _sf0001_embeddings(spark)
    _, jobs = _jobs(spark, lambda: S.ivf_pq_topk(emb, q, k=5, rerank=50))
    assert jobs == 1


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with the default 16 centroids / 8 probes recovers >= 0.6 of
    the exact cosine top-5 (the sim_ivf_topk property floor) and
    returns exactly k rows per query."""
    emb, q = _sf0001_embeddings(spark)
    ann = S.ivf_topk(emb, q, k=5).collect()
    exact = S.brute_force_topk(emb, q, k=5).collect()
    per_q: dict[int, int] = {}
    for r in ann:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert set(per_q.values()) == {5} and len(per_q) == 10
    a = {(r.q_id, r.n_id) for r in ann}
    b = {(r.q_id, r.n_id) for r in exact}
    assert len(a & b) / len(b) >= 0.6


def test_ivf_cell_assignment_is_scan_side(spark):
    """IVF cell assignment must be a scan-side projection — no join, no
    Exchange, no row expansion (the old broadcast-join + rank-window
    formulation expanded the corpus n_centroids× and shuffled it)."""
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000))
                               / 500.0 - 1.0)).alias("embedding"),
    )
    cents = [[float((i * 7 + j) % 5 - 2) for j in range(8)] for i in range(4)]
    plan = S._nearest_cells(
        emb, cents, "vec_id", "embedding", "n_id", 1
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    # and the n-probe variant explodes only n rows per vector, joinlessly
    plan_n = S._nearest_cells(
        emb, cents, "vec_id", "embedding", "q_id", 2
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_n and "Join" not in plan_n


def test_chunk_udtf_matches_codegen_chunker(spark):
    """Spark-4 Python UDTF surface: the chunk_tokens table function
    must reproduce the codegen chunker (workload.chunk_documents)
    row-for-row on real data — the API is covered, while the policy
    (UDTFs stay out of registered hot paths) is enforced separately by
    the plan tripwire."""
    from etl_neotel_sql_automation_spark.ops.udtf_ops import register_chunk_udtf
    from etl_neotel_sql_automation_spark.workload import queries

    name = register_chunk_udtf(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        50
    ).createOrReplaceTempView("docs_subset")
    via_udtf = spark.sql(
        f"SELECT t.* FROM docs_subset, LATERAL {name}(doc_id, text) t"
    )
    codegen = (
        queries()["chunk_documents"](spark, "/root/testdata/sf0.001")
        .join(via_udtf.select("doc_id").distinct(), "doc_id")
    )
    a = {tuple(r) for r in via_udtf.collect()}
    b = {tuple(r) for r in codegen.collect()}
    assert a and a == b


def test_schema_drift_report(spark):
    from etl_neotel_sql_automation_spark.ops.profile import schema_drift

    old = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, score double")
    new = spark.createDataFrame([(1, "a", 2, True)], "id long, Name string, score int, active boolean")
    rep = schema_drift(old, new)
    assert rep["added"] == [("active", "boolean")]
    assert rep["removed"] == []
    assert rep["retyped"] == [("score", "double", "int")]
    # identical schemas -> empty report (the load-gate condition)
    clean = schema_drift(new, new)
    assert clean == {"added": [], "removed": [], "retyped": []}


def test_schema_drift_rejects_case_collisions():
    """Columns differing only by case (legal under caseSensitive=true)
    must raise — folding them to one lowercase key would silently drop
    a field from the drift report a load gate relies on."""
    import pytest
    from pyspark.sql import types as T

    from etl_neotel_sql_automation_spark.ops.profile import schema_drift

    colliding = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ID", T.StringType())]
    )
    clean = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(ValueError, match="case-colliding"):
        schema_drift(colliding, clean)
    with pytest.raises(ValueError, match="case-colliding"):
        schema_drift(clean, colliding)
