"""Round-8 wave-44 workload: dedup_threshold_sweep — the knob-tuning
table for the near-dup Jaccard threshold (the quality_gate_sweep
pattern applied to dedup), composed from two registered operators:
banded MinHash-LSH candidates (dedup_minhash_candidates, md5) exact-
verified by token Jaccard (the dedup_incremental verification step),
then swept: per threshold t in 0.1 .. 0.9, the verified pairs >= t,
the documents the keep-lowest-id policy would remove, and the corpus
share removed. dedup_token_jaccard emits pairs at ONE operating
point; this is the curve a user reads to PICK the point.

The sweep runs over the LSH CANDIDATE set, not the block self-join —
the 100 TB shape (enumerating block pairs is the quadratic failure
mode banding exists to avoid; the r8 probe measured the brute form
OOMing at 500k synthetic docs while the banded form holds the
tools/scale_probe.py dedup line). Below the banding S-curve's recall floor the
counts are candidate-limited — dedup_minhash_s_curve is the
registered meter that quantifies exactly that recall per true
Jaccard, so the two tables read together.

Computed in ONE pass, never nine: candidate Jaccards quantized to
integer ppm deciles, contracted to a per-remove-doc frame (pair
counts per bucket + the doc's max bucket — a doc is removed at every
threshold at or below its best match), then a single ungrouped
aggregate collapses to decile totals and the 9-row sweep is stacked
from literal column sums. Each stage has exactly ONE consumer, so the
candidate join tree is never recomputed (the wave-17 modularity
lesson).

Determinism: bit-exact md5 MinHash candidates (the
dedup_minhash_candidates oracle replays them), distinct-token Jaccard
in floor-div ppm (the quantization IS the metric definition, so
bucket edges are exact on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import dedup as D
from ..ops import text as X
from .llm_ops import _minhash_oracle

_DTS_BUCKETS = 10  # ppm deciles; thresholds are k * 100000, k = 1..9


def _scored_candidates(docs: DataFrame) -> DataFrame:
    """(id_b, bkt): every LSH candidate pair exact-verified to a
    Jaccard ppm decile, keyed by the pair's REMOVE side (higher id —
    the keep-lowest convention)."""
    cand = D.minhash_lsh_candidates(docs, hash_fn="md5").select(
        "id_a", "id_b"
    )
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(X.tokens(F.lower(F.col("text"))))).alias("tok"),
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("sz"))
    ta = tok.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a"))
    tb = tok.select(F.col("id").alias("idb_t"), F.col("tok").alias("tok_b"))
    inter = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("idb_t"))
            & (F.col("tok_a") == F.col("tok_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .select(
            "id_b",
            F.expr(
                "CAST(least((1000000 * n_inter) div (sa + sb - n_inter)"
                f" div 100000, {_DTS_BUCKETS}) AS BIGINT)"
            ).alias("bkt"),
        )
    )


def sweep_over_scored(scored: DataFrame, docs: DataFrame) -> DataFrame:
    """The sweep layer over an (id_b, bkt) scored-pair frame — split
    out so fixtures can feed hand-bucketed pairs."""
    per_doc = scored.groupBy("id_b").agg(
        *[
            F.sum(F.when(F.col("bkt") == j, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nb{j}")
            for j in range(1, _DTS_BUCKETS + 1)
        ],
        F.max("bkt").alias("max_bkt"),
    )
    one = per_doc.agg(
        *[
            F.sum(f"nb{j}").cast("bigint").alias(f"p{j}")
            for j in range(1, _DTS_BUCKETS + 1)
        ],
        *[
            F.sum(F.when(F.col("max_bkt") == j, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{j}")
            for j in range(1, _DTS_BUCKETS + 1)
        ],
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    rows = []
    for k in range(1, _DTS_BUCKETS):
        pges = " + ".join(f"p{j}" for j in range(k, _DTS_BUCKETS + 1))
        dges = " + ".join(f"d{j}" for j in range(k, _DTS_BUCKETS + 1))
        rows.append(
            f"named_struct('threshold_ppm', CAST({k * 100000} AS BIGINT),"
            f" 'n_pairs_ge', CAST({pges} AS BIGINT),"
            f" 'n_docs_removed', CAST({dges} AS BIGINT))"
        )
    stacked = one.crossJoin(F.broadcast(n_docs)).select(
        F.explode(F.expr("array(" + ", ".join(rows) + ")")).alias("x"),
        "n_docs",
    )
    return stacked.select(
        F.col("x.threshold_ppm").alias("threshold_ppm"),
        F.col("x.n_pairs_ge").alias("n_pairs_ge"),
        F.col("x.n_docs_removed").alias("n_docs_removed"),
        F.expr(
            "CAST(n_docs - x.n_docs_removed AS BIGINT)"
        ).alias("n_docs_kept"),
        F.expr(
            "CAST((1000000 * x.n_docs_removed) div n_docs AS BIGINT)"
        ).alias("removed_share_ppm"),
    ).orderBy("threshold_ppm")


def dedup_threshold_sweep_frame(docs: DataFrame) -> DataFrame:
    """Frame core of dedup_threshold_sweep (scaling-probe entry)."""
    return sweep_over_scored(_scored_candidates(docs), docs)


def _sweep_oracle() -> str:
    pcols = ",\n             ".join(
        f"CAST(sum(nb{j}) AS BIGINT) AS p{j}"
        for j in range(1, _DTS_BUCKETS + 1)
    )
    dcols = ",\n             ".join(
        f"CAST(sum(CASE WHEN max_bkt = {j} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS d{j}"
        for j in range(1, _DTS_BUCKETS + 1)
    )
    nbcols = ",\n             ".join(
        f"CAST(sum(CASE WHEN bkt = {j} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nb{j}"
        for j in range(1, _DTS_BUCKETS + 1)
    )
    sweep_rows = "\n      UNION ALL ".join(
        "SELECT CAST({t} AS BIGINT) AS threshold_ppm,"
        " CAST({pges} AS BIGINT) AS n_pairs_ge,"
        " CAST({dges} AS BIGINT) AS n_docs_removed FROM one".format(
            t=k * 100000,
            pges=" + ".join(f"p{j}" for j in range(k, _DTS_BUCKETS + 1)),
            dges=" + ".join(f"d{j}" for j in range(k, _DTS_BUCKETS + 1)),
        )
        for k in range(1, _DTS_BUCKETS)
    )
    return f"""
    WITH cand AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    tok AS (
      SELECT doc_id AS id, unnest(list_distinct({_SQL_TOKS})) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN tok a ON a.id = c.id_a
      JOIN tok b ON b.id = c.id_b AND a.tok = b.tok
      GROUP BY c.id_a, c.id_b
    ),
    scored AS (
      SELECT id_b,
             CAST(least((1000000 * n_inter) // (sa.sz + sb.sz - n_inter)
                        // 100000, {_DTS_BUCKETS}) AS BIGINT) AS bkt
      FROM inter
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
    ),
    per_doc AS (
      SELECT id_b,
             {nbcols},
             max(bkt) AS max_bkt
      FROM scored GROUP BY id_b
    ),
    one AS (
      SELECT {pcols},
             {dcols}
      FROM per_doc
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    sweep AS (
      {sweep_rows}
    )
    SELECT threshold_ppm, n_pairs_ge, n_docs_removed,
           CAST(nd.n_docs - n_docs_removed AS BIGINT) AS n_docs_kept,
           CAST((1000000 * n_docs_removed) // nd.n_docs AS BIGINT)
             AS removed_share_ppm
    FROM sweep CROSS JOIN nd ORDER BY threshold_ppm
    """


@query("dedup_threshold_sweep", oracle=_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard-threshold tuning curve over exact-verified
    MinHash-LSH candidates: per decile threshold the pairs at or above
    it, documents the keep-lowest policy removes, survivors, and the
    removed corpus share (ppm) — one pass, stacked to 9 rows."""
    return dedup_threshold_sweep_frame(table(spark, sf_dir, "documents"))
