"""Round-6 wave-3b workloads: corpus-level source similarity via
mergeable MinHash sketches (with its exact differential built in) and
banded-lookback multi-touch attribution.

Both are LLM-pipeline / analytics breadth beyond the reference's ETL
surface: "which SOURCES duplicate each other" is the corpus-curation
question above document-level dedup (license a crawl or drop it), and
multi-touch attribution is the standard marketing-analytics readout
over the events stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import dedup as D
from ..ops.dedup import NUM_HASHES, _MERSENNE_P, _minhash_coeffs, shingles
from ..ops.hashing import md5_long, sql_md5_long

# ---------------------------------------------------------------------------
# corpus_source_minhash — source-pair Jaccard similarity, estimated
# from per-source MinHash signatures AND exactly, with the absolute
# error as a column: the corpus-curation readout ("which sources are
# near-copies of each other") carrying its own differential meter, the
# decontam_bloom_quality convention.
#
# Scale design: the signature is a MERGEABLE sketch — per-source mins
# reduce map-side to num_hashes values per source, so the shuffle is
# O(sources x hashes) regardless of corpus bytes, and cross-source
# comparison is O(sources^2 x hashes) on sketch rows (sources are
# bounded in any real corpus: thousands, not billions). The exact leg
# is a gram-keyed equi-join on per-source DISTINCT grams — combinable,
# but its cost grows with gram cardinality; at 100 TB you keep the
# sketch estimate and run the exact leg on a hash-sample (the
# sim_margin_quality_sampled recipe).
# ---------------------------------------------------------------------------


def _source_minhash_oracle() -> str:
    p = _MERSENNE_P
    h = sql_md5_long("sh")
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(NUM_HASHES))
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    return f"""
    WITH t AS (SELECT source AS src, {_SQL_TOKS} AS toks FROM documents),
    g0 AS (
      SELECT DISTINCT src, unnest(CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM t
    ),
    gh AS (SELECT src, {h} % {p} AS h FROM g0),
    sig AS (SELECT src, {mins} FROM gh GROUP BY src),
    est AS (
      SELECT a.src AS src_a, b.src AS src_b,
             CAST(({agree}) * 1000000 // {NUM_HASHES} AS BIGINT) AS est_jaccard_ppm
      FROM sig a JOIN sig b ON a.src < b.src
    ),
    sizes AS (SELECT src, count(*) AS sz FROM g0 GROUP BY src),
    inter AS (
      SELECT a.src AS src_a, b.src AS src_b, count(*) AS n
      FROM g0 a JOIN g0 b ON a.sh = b.sh AND a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT est.src_a, est.src_b, est_jaccard_ppm,
           CAST(coalesce(inter.n * 1000000 // (sa.sz + sb.sz - inter.n), 0)
                AS BIGINT) AS exact_jaccard_ppm,
           CAST(abs(est_jaccard_ppm
                - coalesce(inter.n * 1000000 // (sa.sz + sb.sz - inter.n), 0))
                AS BIGINT) AS err_ppm
    FROM est
    LEFT JOIN inter ON est.src_a = inter.src_a AND est.src_b = inter.src_b
    JOIN sizes sa ON est.src_a = sa.src
    JOIN sizes sb ON est.src_b = sb.src
    """


@query("corpus_source_minhash", oracle=_source_minhash_oracle())
def corpus_source_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram Jaccard: MinHash estimate (32
    mergeable per-source mins over the md5 hash family — the sketch a
    100 TB corpus keeps) beside the exact gram-join value, absolute
    error as a column. Integer ppm end-to-end; the md5 hash family is
    the ops.hashing cross-engine construction, so DuckDB replays the
    sketch bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    g0 = docs.select(
        F.col("source").alias("src"), F.explode(shingles("text", 3)).alias("sh")
    ).distinct()
    gh = g0.select("src", (md5_long("sh") % _MERSENNE_P).alias("h"))
    sig = gh.groupBy("src").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % _MERSENNE_P).alias(f"h{i}")
            for i, (a, b) in enumerate(_minhash_coeffs(NUM_HASHES))
        ]
    )
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    est = a.join(b, F.col("a.src") < F.col("b.src")).select(
        F.col("a.src").alias("src_a"),
        F.col("b.src").alias("src_b"),
        (agree * 1000000 / F.lit(NUM_HASHES))
        .cast("bigint")
        .alias("est_jaccard_ppm"),
    )
    inter = D.overlap_pairs(g0.select(F.col("src").alias("id"), F.col("sh").alias("el")))
    exact_ppm = F.coalesce(
        F.expr("n_inter * 1000000 div (sz_a + sz_b - n_inter)"), F.lit(0)
    )
    return (
        est.join(
            inter.withColumnsRenamed({"id_a": "src_a", "id_b": "src_b"}),
            ["src_a", "src_b"],
            "left",
        )
        .select(
            "src_a",
            "src_b",
            "est_jaccard_ppm",
            exact_ppm.cast("bigint").alias("exact_jaccard_ppm"),
            F.abs(F.col("est_jaccard_ppm") - exact_ppm)
            .cast("bigint")
            .alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# events_attribution — multi-touch attribution with a banded-lookback
# join: every purchase credits the view/click touches of the same user
# inside a 72 h lookback, via the range-join banding pattern (time
# bands make the pair join an EQUI-join; the exact window predicate
# applies after) — never a per-user cross join. First/last touch by
# full (ts, event_id) tiebreak; linear credit in integer ppm
# (1000000 div n_touches per touch — exact integers on both engines).
# ---------------------------------------------------------------------------

_LOOKBACK_S = 259_200  # 72 h


@query(
    "events_attribution",
    oracle=f"""
    WITH purch AS (
      SELECT event_id AS pid, user_id,
             CAST(epoch(ts) AS BIGINT) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS tid, user_id,
             CAST(epoch(ts) AS BIGINT) AS tts,
             'ch' || CAST(CAST(props->>'k' AS BIGINT) % 5 AS VARCHAR) AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT p.pid, t.tid, t.channel, t.tts
      FROM purch p JOIN touch t
        ON p.user_id = t.user_id
       AND t.tts < p.pts AND t.tts >= p.pts - {_LOOKBACK_S}
    ),
    ranked AS (
      SELECT pid, tid, channel,
             row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn_first,
             row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn_last,
             count(*) OVER (PARTITION BY pid) AS n_touches
      FROM pairs
    )
    SELECT channel,
           CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
           CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
           CAST(sum(1000000 // n_touches) AS BIGINT) AS linear_ppm
    FROM ranked
    GROUP BY channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch / linear attribution per channel
    (channel derived from the event's props key, 5 channels) over a
    72 h lookback. The purchase-touch pair join is BANDED: both sides
    carry epoch div 72h bands, purchases probe their own and previous
    band (2-row explode), and the exact lookback predicate applies
    post-join — the range_join_events pattern, O(events x band
    occupancy), never a per-user cross product. Linear credit is
    1000000 div n_touches per touch — exact integer division, so the
    cross-engine hash is bit-stable with no float summation order."""
    ev = table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_timestamp("ts").alias("pts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.unix_timestamp("ts").alias("tts"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("bigint") % 5).cast("string"),
        ).alias("channel"),
    )
    probes = purch.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("dband")
    ).select(
        "pid",
        "user_id",
        "pts",
        (F.expr(f"pts div {_LOOKBACK_S}") - F.col("dband")).alias("band"),
    )
    banded_touch = touch.select(
        "*", F.expr(f"tts div {_LOOKBACK_S}").alias("band")
    )
    pairs = probes.join(banded_touch, ["user_id", "band"]).filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - _LOOKBACK_S)
    )
    from pyspark.sql import Window as W

    wf = W.partitionBy("pid").orderBy("tts", "tid")
    wl = W.partitionBy("pid").orderBy(F.desc("tts"), F.desc("tid"))
    wn = W.partitionBy("pid")
    ranked = pairs.select(
        "pid",
        "tid",
        "channel",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wn).alias("n_touches"),
    )
    return ranked.groupBy("channel").agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_last"),
        F.sum(F.expr("1000000 div n_touches")).cast("bigint").alias("linear_ppm"),
    )


# ---------------------------------------------------------------------------
# events_ewma_anomaly — per-user exponentially-weighted baseline over
# the 8 PRIOR observations (weights 2^7..2^0, most recent heaviest),
# residual = |value - baseline|, top-20 anomalies. The truncated-
# integer EWMA formulation exists because the textbook recursive EWMA
# is a running float product — unreplayable across engines and
# unexpressible as a frame aggregate; 8 lags at halving weights carry
# 99.6% of the infinite tail's mass and stay EXACT integers (micro
# units in, integer div out) under any partitioning. One per-user
# window shuffle — the smoothing cost equals the sessionize cost.
# ---------------------------------------------------------------------------

_EWMA_K = 8


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(v, {j}) OVER w, 0) * {1 << (_EWMA_K - j)}"
        for j in range(1, _EWMA_K + 1)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN {1 << (_EWMA_K - j)} ELSE 0 END)"
        for j in range(1, _EWMA_K + 1)
    )
    return f"""
    WITH base AS (
      SELECT event_id, user_id,
             CAST(round(value * 1000000) AS BIGINT) AS v,
             CAST(epoch(ts) AS BIGINT) AS tse
      FROM events
    ),
    sm AS (
      SELECT event_id, user_id, v,
             ({num}) AS wsum, ({den}) AS wden
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
    )
    SELECT event_id, user_id, v AS v_micro,
           CAST(wsum // wden AS BIGINT) AS ewma_micro,
           CAST(abs(v - wsum // wden) AS BIGINT) AS resid_micro
    FROM sm WHERE wden > 0
    ORDER BY resid_micro DESC, event_id
    LIMIT 20
    """


@query("events_ewma_anomaly", oracle=_ewma_oracle())
def events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 events whose value deviates most from the user's
    exponentially-weighted baseline (8 prior observations, halving
    weights — see the module comment for why the EWMA is truncated).
    Integer micro-units end-to-end; full (ts, event_id) ordering key
    so ties cannot reorder across engines."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("v"),
        F.unix_timestamp("ts").alias("tse"),
    )
    w = W.partitionBy("user_id").orderBy("tse", "event_id")
    lags = [F.lag("v", j).over(w) for j in range(1, _EWMA_K + 1)]
    wsum = sum(
        F.coalesce(lag, F.lit(0)) * F.lit(1 << (_EWMA_K - j))
        for j, lag in enumerate(lags, start=1)
    )
    wden = sum(
        F.when(lag.isNotNull(), F.lit(1 << (_EWMA_K - j))).otherwise(0)
        for j, lag in enumerate(lags, start=1)
    )
    sm = ev.select(
        "event_id",
        "user_id",
        F.col("v").alias("v_micro"),
        wsum.alias("wsum"),
        wden.alias("wden"),
    ).filter(F.col("wden") > 0)
    return (
        sm.select(
            "event_id",
            "user_id",
            "v_micro",
            F.expr("wsum div wden").cast("bigint").alias("ewma_micro"),
            F.abs(F.col("v_micro") - F.expr("wsum div wden"))
            .cast("bigint")
            .alias("resid_micro"),
        )
        .orderBy(F.desc("resid_micro"), "event_id")
        .limit(20)
    )
