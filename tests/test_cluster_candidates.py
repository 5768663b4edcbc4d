"""Cluster-family candidate generation (r10 VERDICT #1).

The dedup cluster family (dedup_token_jaccard / dedup_clusters /
dedup_canonical_docs / dedup_cluster_size_histogram) must source its
candidate pairs from the prefix-filtered (AllPairs/PPJoin) threshold
join, never from the uncapped token-postings self-join
(ops.dedup.token_jaccard_pairs): a postings block grows with the
corpus, so head-token candidates grow quadratically at 100x, while
prefix filtering bounds candidates by the threshold structure with no
false negatives (so the DuckDB oracles stayed verbatim).

Three layers:
- a TRIPWIRE: token_jaccard_pairs and the postings join it runs
  (ops.dedup.overlap_pairs) are patched to raise and all four
  query frames are constructed end-to-end — any regression back to
  the postings join trips at construction;
- a PLAN assertion that the prefix machinery (df-ordered row_number
  prefix selection over xxhash64'd tokens) is in the registered plan;
- OUTPUT INVARIANCE for the registered blocked-unigram configuration:
  the prefix join's pairs equal the brute thresholded postings join's
  (the test_wave6 invariance precedent, here for gram_n=1 +
  block_col="source" + materialize=True).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_neotel_sql_automation_spark.ops import dedup as D

SF = "/root/testdata/sf0.001"

CLUSTER_FAMILY = (
    "dedup_token_jaccard",
    "dedup_clusters",
    "dedup_canonical_docs",
    "dedup_cluster_size_histogram",
)


def test_cluster_family_never_uses_postings_self_join(spark, monkeypatch):
    from etl_neotel_sql_automation_spark import workload

    def _trip(*a, **k):
        raise AssertionError(
            "token_jaccard_pairs / overlap_pairs (uncapped postings self-join) reached "
            "from the cluster family - r10 VERDICT #1 requires the "
            "prefix-filtered candidate path"
        )

    monkeypatch.setattr(D, "token_jaccard_pairs", _trip)
    monkeypatch.setattr(D, "overlap_pairs", _trip)
    qs = workload.queries()
    for name in CLUSTER_FAMILY:
        # constructing the frame runs the candidate subtree (the
        # materialize checkpoint + CC rounds execute at construct);
        # collecting a row proves the full path is postings-free
        assert qs[name](spark, SF).limit(1).collect() is not None


def test_token_jaccard_plan_is_prefix_filtered(spark):
    # the registered configuration minus the materialize checkpoint
    # (the checkpoint hides the candidate subtree behind a LogicalRDD;
    # the tripwire test above proves the registered path end-to-end)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = D.jaccard_prefix_pairs(
        docs, block_col="source", num=1, den=2, gram_n=1
    )
    plan = df._jdf.queryExecution().toString()
    # hashed-token candidate machinery + per-doc prefix ranking
    assert "xxhash64" in plan
    assert "row_number" in plan


def test_blocked_unigram_prefix_join_is_output_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_prefix_pairs(
            docs, block_col="source", num=1, den=2, gram_n=1, materialize=True
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.token_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == want and want  # nonempty on this fixture
