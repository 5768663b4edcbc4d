"""Scaling probe for the similarity family: hyperplane-LSH near-dup,
brute-force top-k, and SQ8 quantized top-k at 1x / 10x / 100x the
sf0.1 embeddings volume (2k -> 20k -> 200k vectors, 64-dim).

Embeddings are generated with PURE CODEGEN expressions (xxhash64 bits
-> uniform [-1, 1] components off spark.range — no Python, no disk),
with ~2% planted near-duplicates (a copy of the previous vector with
one component perturbed -> cosine ~0.99+) that the LSH path must find
(pinned by a recall test).

The LSH leg scales ``planes_per_table`` with log2(corpus) — the knob
SCALING.md documents: bucket count (2^planes) must grow with the
corpus or per-bucket candidate pairs grow quadratically. The probe
therefore measures the DEPLOY configuration at each scale, not a
fixed-bucket toy that would blow up at 100x.

Usage: python tools/scale_ann_probe.py [--scales=1,10,100]
Committed numbers live in SCALING.md.
"""

from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

from tools.scaling_record import record  # noqa: E402

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_neotel_sql_automation_spark.ops import similarity as S
from etl_neotel_sql_automation_spark.session import get_spark

BASE_VECS = 2_000   # sf0.1 embeddings volume
DIM = 64


def synth_embeddings(spark: SparkSession, n: int, seed: int = 13) -> DataFrame:
    """(vec_id, embedding array<double>) with planted structure, all
    codegen: components are xxhash64-derived uniforms in [-1, 1];
    vec_id % 50 == 1 (~2%) duplicates the previous vector with one
    deterministic component nudged by 0.05 (cosine vs base ~0.999)."""
    mod = F.col("vec_id") % 50
    base_id = F.when(mod == 1, F.col("vec_id") - 1).otherwise(F.col("vec_id"))
    comp = lambda i: (  # noqa: E731
        F.pmod(F.xxhash64(F.lit(seed), base_id, i), F.lit(2001)) - 1000
    ) / 1000.0
    nudge_pos = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(DIM))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: comp(i) + F.when((mod == 1) & (i == nudge_pos), 0.05).otherwise(0.0),
    )
    return (
        spark.range(n)
        .withColumnRenamed("id", "vec_id")
        .select("vec_id", vec.alias("embedding"))
    )


def planes_for(n: int) -> int:
    """The documented deploy knob: bucket count scales with the corpus
    so OCCUPANCY stays ~constant — candidate pairs per table are
    ~B*(n/B)^2/2 = n^2/2B, linear in n only when B grows with n; fat
    buckets are the quadratic failure mode. ROUND (not floor) of log2:
    power-of-2 buckets can only grow 8x or 16x per 10x decade, and
    flooring let occupancy swing up to ~32 before the next doubling —
    the r10 100x leg (172 s) was exactly that: floor gave B=8192 at
    200k vectors (occupancy ~24, 37.7M candidate occurrences, wall
    ~11x the 10x leg, r11 diagnosis in SCALING_ann_counts.json).
    Rounding keeps occupancy in a ~12..25 band, so each decade's
    candidate growth stays within ~2x of linear on either side.
    Floored at the local-fixture default of 4. Recall for the planted
    cosine~0.999 dups stays ~1.0 under 16 tables even at 17 planes
    (1-(1-0.986^17)^16); threshold-0.9 pairs hold ~0.86 at 14."""
    return max(4, round(math.log2(max(n, 2))) - 4)


def lsh_counts(df: DataFrame, planes: int) -> dict:
    """UNTIMED per-leg diagnosis counts (r10 VERDICT #2): bucket
    occupancy and candidate-pair volume of the multi-table hyperplane
    index at this leg's planes knob — the numbers that say whether a
    superlinear wall decade is candidate-bound (occupancy grew) or
    fixed-overhead amortization. cand_occurrences = sum over (t,
    bucket) of n*(n-1)/2 (the bucket self-join's row count before pair
    dedup); cand_pairs = distinct candidate pairs (what exact-cosine
    verification actually scores). Excluded from every timing leg,
    recorded in SCALING_ann_counts.json."""
    banded = S.multi_table_buckets(
        df, "vec_id", "embedding", 16, planes, 42, DIM
    ).select("id", "t", "bucket")
    occ = banded.groupBy("t", "bucket").agg(F.count("*").alias("n"))
    row = occ.agg(
        F.count("*").alias("n_buckets_occupied"),
        F.max("n").alias("max_occ"),
        F.round(F.avg("n"), 2).alias("mean_occ"),
        F.sum((F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("cand_occurrences"),
    ).collect()[0]
    a, b = banded.alias("a"), banded.alias("b")
    n_pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id"), F.col("b.id"))
        .distinct()
        .count()
    )
    return {
        "planes": planes,
        "n_buckets_occupied": int(row.n_buckets_occupied),
        "max_occ": int(row.max_occ),
        "mean_occ": float(row.mean_occ),
        "cand_occurrences": int(row.cand_occurrences),
        "cand_pairs": int(n_pairs),
    }


def record_counts(scale: int, counts: dict) -> None:
    """Merge-update SCALING_ann_counts.json ({scale: counts}) — kept
    OUT of SCALING_ann.json, whose legs are timings-only by the
    scaling_record contract."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_ann_counts.json",
    )
    data = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            data = {}
    data[str(scale)] = counts
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


def _emb_cr(df: DataFrame, planes: int) -> DataFrame:
    from etl_neotel_sql_automation_spark.workload.wave78 import (
        emb_capture_recapture_frame,
    )

    return emb_capture_recapture_frame(df, planes_per_table=planes)


def ops_for(scale: int):
    n = BASE_VECS * scale
    return {
        "lsh_near_dup": lambda df: S.lsh_near_dup_pairs(
            df, threshold=0.9, planes_per_table=planes_for(n)
        ),
        "brute_force_topk10q": lambda df: S.brute_force_topk(
            df, df.filter(F.col("vec_id") < 10), k=5
        ),
        "sq8_topk10q": lambda df: S.sq8_topk(
            df, df.filter(F.col("vec_id") < 10), k=5
        ),
        # r10: the wave-78 Chapman coverage audit over the 16-table
        # hyperplane index — candidates + bounded cosine verification +
        # 1-row estimator; rides the SAME planes-scale knob as
        # lsh_near_dup (fixed 4-plane buckets measured 262 s at the 10x
        # leg — the quadratic fat-bucket mode the knob exists to avoid)
        "emb_capture_recapture": lambda df: _emb_cr(df, planes_for(n)),
    }


def main() -> None:
    scales = [1, 10, 100]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]

    spark = get_spark(app_name="scale_ann_probe")
    synth_embeddings(spark, 500).write.mode("overwrite").format("noop").save()

    results: dict[int, dict[str, float]] = {}
    for scale in scales:
        emb = synth_embeddings(spark, BASE_VECS * scale)
        times: dict[str, float] = {}
        for name, op in ops_for(scale).items():
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                op(emb).write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            times[name] = round(best, 2)
        results[scale] = times
        record("ann", scale, times)
        # untimed diagnosis pass AFTER the timed legs (r10 VERDICT #2)
        counts = lsh_counts(emb, planes_for(BASE_VECS * scale))
        record_counts(scale, counts)
        print(
            json.dumps(
                {
                    "scale": scale,
                    "vectors": BASE_VECS * scale,
                    "lsh_planes": planes_for(BASE_VECS * scale),
                    **times,
                    **{f"count_{k}": v for k, v in counts.items() if k != "planes"},
                }
            )
        )

    if len(results) > 1:
        base = results[scales[0]]
        for s in scales[1:]:
            ratios = {
                k: round(results[s][k] / base[k] / (s / scales[0]), 2)
                for k in results[s]
            }
            print(json.dumps({"linearity_vs_vectors": ratios, "scale": s}))

    # r8 VERDICT #6: isolate the CONSTRUCT cost of the sampled
    # locally-fit IVF-PQ (hash-sample collect + 9 k-means fits run at
    # plan-construction time — the real 100 TB training cost) from its
    # exec cost, at 1x and 10x. Best-of-2 each; emb localCheckpointed
    # so the synth codegen isn't charged to either stage.
    for scale in [s for s in scales if s <= 10]:
        n = BASE_VECS * scale
        emb = synth_embeddings(spark, n).localCheckpoint()
        best_c, best_tot = float("inf"), float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            ann = S.ivf_pq_topk(
                emb,
                emb.filter(F.col("vec_id") < 10),
                k=5,
                train_fraction=0.25,
                rerank=max(100, n // 5),
            )
            t1 = time.perf_counter()
            ann.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            if t2 - t0 < best_tot:
                best_tot, best_c = t2 - t0, t1 - t0
        record(
            "ann",
            scale,
            {
                "ivf_pq_sampled_local": {
                    "construct": round(best_c, 2),
                    "exec": round(best_tot - best_c, 2),
                    "total": round(best_tot, 2),
                },
            },
        )
        print(
            json.dumps(
                {
                    "construct_probe": "ivf_pq_sampled_local",
                    "scale": scale,
                    "vectors": n,
                    "construct": round(best_c, 2),
                    "exec": round(best_tot - best_c, 2),
                    "total": round(best_tot, 2),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
