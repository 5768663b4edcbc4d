"""Round-6 wave-12 workloads: measurement passes over mechanisms the
engine already ships — a z-order pruning-efficiency meter (what
``ops.zorder.cluster_by_z`` actually buys at the footer-stats level),
a hash-seeded subsample-bootstrap confidence interval (uncertainty on
a 100 TB aggregate in ONE pass), a PSI distribution-drift monitor, a
classifier-calibration/ECE readout, Cohen's kappa inter-rater
agreement, and information-gain feature ranking (the split-quality
meter a data curator reads before stratifying).

Determinism rules (house style, see workload/__init__ docstring):
probabilities in integer ppm/ppb by one integer division; every
ln() is applied to the SAME integer-derived rational on both engines
and rounded to micro-nats PER TERM before any integer sum (order-free,
the insights.py entropy precedent); every rounded ln term is provably
non-negative (or paired with a same-sign factor) so half-away-from-zero
rounding and ``div`` vs ``//`` truncation semantics can never diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X
from ..ops.zorder import sql_z_value, z_value

_SQL_STOPS = (
    "len(list_filter({toks}, x -> lower(x) IN "
    "('a','an','the','of','and','to','in','is','it')))"
)

# ---------------------------------------------------------------------------
# io_zorder_layout — the pruning-efficiency meter beside the mechanism
# (ops.zorder.cluster_by_z): simulate writing orders into fixed-size
# files under (a) the naive single-column sort and (b) the Morton-code
# sort, compute each file's min/max footer envelope on BOTH predicate
# columns, and count how many files a 2-D box predicate would actually
# scan under footer-stats pruning. The honest metric counts a file as
# scanned when its ENVELOPE intersects the box — even if no row inside
# matches — because that is what min/max pruning can and cannot skip.
#
# Scale shape: the meter is a layout SIMULATION — the global
# row_number is the simulated writer's total order (at 100 TB the
# write side is cluster_by_z's repartitionByRange + local sort and the
# meter runs on a hash-sample); per-file envelopes are one combinable
# aggregate. The headline at sf0.1: linear-by-custkey scans ~every
# file for a date-bounded box; z-order scans a small fraction — the
# measured case for paying the layout sort at write time.
# ---------------------------------------------------------------------------

_Z_ROWS_PER_FILE = 512
# Grid epoch = the data minimum (TPC-H order dates start 1992-01-01),
# so the y offset is non-negative for EVERY order — the bit-interleave
# domain both z_value and hilbert_expr document (r7 ADVICE: the old
# 1995-01-01 epoch made y negative for ~half the data, where the codes
# are arithmetic artifacts, not locality curves).
_Z_EPOCH = "1992-01-01"
# custkey lo/hi, day-offset lo/hi (days since _Z_EPOCH — the y range
# is the old [400, 799] window shifted by the 1096-day rebase, so it
# selects the SAME dates). The x range covers the whole sf0.01 key
# domain, so there the box degenerates to the pure DATE predicate a
# custkey-sorted layout cannot prune at all; at sf0.1 the same
# literals are ~10% key-selective (measured ladder: SCALING.md).
_Z_BOX = (0, 1499, 1496, 1895)


def zorder_layout_frame(orders: DataFrame) -> DataFrame:
    """Frame core of io_zorder_layout — the exact registered body over any
    orders-shaped frame (scaling-probe entry point)."""
    xlo, xhi, ylo, yhi = _Z_BOX
    base = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH)).alias("y"),
    ).withColumn("zv", z_value("x", "y", 16))

    def layout(name: str, *order_cols) -> DataFrame:
        rn = F.row_number().over(W.orderBy(*order_cols))
        return base.select(
            F.lit(name).alias("layout"), "x", "y", rn.alias("rn")
        ).select(
            "layout",
            "x",
            "y",
            F.expr(f"CAST((rn - 1) div {_Z_ROWS_PER_FILE} AS BIGINT)").alias(
                "file_id"
            ),
        )

    both = layout("linear_custkey", "x", "o_orderkey").unionAll(
        layout("zorder", "zv", "o_orderkey")
    )
    in_box = (
        F.col("x").between(xlo, xhi) & F.col("y").between(ylo, yhi)
    )
    files = both.groupBy("layout", "file_id").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.sum(F.when(in_box, 1).otherwise(0)).cast("bigint").alias("matched"),
    )
    hit = (
        (F.col("min_x") <= xhi)
        & (F.col("max_x") >= xlo)
        & (F.col("min_y") <= yhi)
        & (F.col("max_y") >= ylo)
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("files_scanned"),
            F.sum("matched").cast("bigint").alias("rows_matched"),
        )
        .select(
            "layout",
            "n_files",
            "files_scanned",
            "rows_matched",
            F.expr("CAST((1000000 * files_scanned) div n_files AS BIGINT)").alias(
                "scan_ppm"
            ),
        )
        .orderBy("layout")
    )


@query(
    "io_zorder_layout",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey AS x,
             datediff('day', TIMESTAMP '{_Z_EPOCH} 00:00:00', o_orderdate)
               AS y
      FROM orders
    ),
    z AS (SELECT *, {sql_z_value("x", "y", 16)} AS zv FROM base),
    lay AS (
      SELECT 'linear_custkey' AS layout, x, y,
             (row_number() OVER (ORDER BY x, o_orderkey) - 1)
               // {_Z_ROWS_PER_FILE} AS file_id
      FROM z
      UNION ALL
      SELECT 'zorder', x, y,
             (row_number() OVER (ORDER BY zv, o_orderkey) - 1)
               // {_Z_ROWS_PER_FILE}
      FROM z
    ),
    files AS (
      SELECT layout, file_id,
             min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y,
             CAST(sum(CASE WHEN x BETWEEN {_Z_BOX[0]} AND {_Z_BOX[1]}
                            AND y BETWEEN {_Z_BOX[2]} AND {_Z_BOX[3]}
                           THEN 1 ELSE 0 END) AS BIGINT) AS matched
      FROM lay GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN min_x <= {_Z_BOX[1]} AND max_x >= {_Z_BOX[0]}
                          AND min_y <= {_Z_BOX[3]} AND max_y >= {_Z_BOX[2]}
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(matched) AS BIGINT) AS rows_matched,
           CAST((1000000 * sum(CASE WHEN min_x <= {_Z_BOX[1]}
                                     AND max_x >= {_Z_BOX[0]}
                                     AND min_y <= {_Z_BOX[3]}
                                     AND max_y >= {_Z_BOX[2]}
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS scan_ppm
    FROM files GROUP BY layout ORDER BY layout
    """,
)
def io_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files scanned under footer-stats min/max pruning for a 2-D box
    predicate, linear-sort layout vs Morton (z-order) layout — the
    measured pruning benefit of ops.zorder.cluster_by_z."""
    return zorder_layout_frame(table(spark, sf_dir, "orders"))



# ---------------------------------------------------------------------------
# agg_bootstrap_ci — uncertainty on a corpus-scale aggregate without a
# second pass: 64 half-subsample replicates, membership decided per
# (row, replicate) from ONE md5 per row, replicate means in exact
# milli-cents, and the CI read off the ORDERED replicate means
# (ranks 4/32/61 of 64 ~ p05/p50/p95 — the convention is pinned here).
#
# Replicate membership is BIT-SLICED (r8 VERDICT #1): a single
# md5(o_orderkey) digest carries 128 independent bits, so replicate b's
# inclusion parity is simply bit b of the digest — hex digit at
# position (b div 4), bit (b % 4) of that digit — instead of a fresh
# md5 over (o_orderkey, b) per exploded row. That cuts the dominant
# cost from B md5 calls per row to ONE, leaving only a shift-and-mask
# per (row, replicate). The bit addressing is expressed identically in
# DuckDB ('0x'||substr(digest, pos, 1) >> (b % 4)) so the oracle stays
# bit-exact.
#
# Scale shape: the explode multiplies rows by B=64, but the per-
# replicate aggregation is map-side combinable, so the shuffle carries
# only 64 partial rows PER TASK no matter the data size — the bootstrap
# at 100 TB costs one wide pass and a 64-row shuffle, not 64 passes.
# ---------------------------------------------------------------------------

_BOOT_B = 64
_BOOT_RANKS = (4, 32, 61)  # ~p05 / p50 / p95 of 64 ordered replicate means


def bootstrap_ci_frame(orders: DataFrame) -> DataFrame:
    """Frame core of agg_bootstrap_ci — the exact registered body over any
    orders-shaped frame (scaling-probe entry point)."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    digest = F.md5(F.col("o_orderkey").cast("string")).alias("h")
    rows = orders.select(cents, digest).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    )
    # bit b of the 128-bit digest: hex digit (b div 4), bit (b % 4)
    include = F.expr(
        "(shiftright(CAST(conv(substring(h, CAST(b div 4 AS INT) + 1, 1),"
        " 16, 10) AS INT), CAST(b % 4 AS INT)) & 1) = 0"
    )
    reps = (
        rows.filter(include)
        .groupBy("b")
        .agg(
            F.expr("CAST((1000 * sum(cents)) div count(*) AS BIGINT)").alias(
                "rep_mean_millicents"
            )
        )
    )
    ranked = reps.select(
        "rep_mean_millicents",
        F.row_number()
        .over(W.orderBy("rep_mean_millicents", "b"))
        .alias("rn"),
    )
    lo, mid, hi = _BOOT_RANKS
    quant = ranked.agg(
        F.max(F.when(F.col("rn") == lo, F.col("rep_mean_millicents"))).alias(
            "boot_p05_millicents"
        ),
        F.max(F.when(F.col("rn") == mid, F.col("rep_mean_millicents"))).alias(
            "boot_p50_millicents"
        ),
        F.max(F.when(F.col("rn") == hi, F.col("rep_mean_millicents"))).alias(
            "boot_p95_millicents"
        ),
    )
    point = orders.agg(
        F.expr(
            "CAST((1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))"
            " div count(*) AS BIGINT)"
        ).alias("mean_millicents")
    )
    return point.crossJoin(F.broadcast(quant)).select(  # two 1-row aggregates
        "mean_millicents",
        "boot_p05_millicents",
        "boot_p50_millicents",
        "boot_p95_millicents",
        F.lit(_BOOT_B).cast("bigint").alias("n_reps"),
    )


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             md5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders
    ),
    reps AS (
      SELECT b.b,
             CAST((1000 * sum(cents)) // count(*) AS BIGINT)
               AS rep_mean_millicents
      FROM hashed
      CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
      WHERE ((CAST(('0x' || substr(h, CAST(b.b // 4 AS INT) + 1, 1))
                   AS BIGINT) >> (b.b % 4)) & 1) = 0
      GROUP BY b.b
    ),
    ranked AS (
      SELECT rep_mean_millicents,
             row_number() OVER (ORDER BY rep_mean_millicents, b) AS rn
      FROM reps
    ),
    point AS (
      SELECT CAST((1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))
                  // count(*) AS BIGINT) AS mean_millicents
      FROM orders
    )
    SELECT point.mean_millicents,
           (SELECT rep_mean_millicents FROM ranked
             WHERE rn = {_BOOT_RANKS[0]}) AS boot_p05_millicents,
           (SELECT rep_mean_millicents FROM ranked
             WHERE rn = {_BOOT_RANKS[1]}) AS boot_p50_millicents,
           (SELECT rep_mean_millicents FROM ranked
             WHERE rn = {_BOOT_RANKS[2]}) AS boot_p95_millicents,
           CAST({_BOOT_B} AS BIGINT) AS n_reps
    FROM point
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample-bootstrap CI for mean order value: 64 md5-parity
    half-samples in one pass, p05/p50/p95 off the ordered replicate
    means, beside the full-data point estimate."""
    return bootstrap_ci_frame(table(spark, sf_dir, "orders"))



# ---------------------------------------------------------------------------
# quality_psi_drift — the population-stability-index drift monitor: the
# order-value distribution of the 1995+ window against the pre-1995
# reference, over FIXED literal bin edges (quantile-derived edges would
# couple the monitor to the data it monitors), Laplace-smoothed so an
# empty bin never divides by zero. Each bin's PSI term
# (p - q) * ln(p / q) has both factors SAME-signed, so the per-term
# micro-PSI round is non-negative and the integer sum is order-free.
#
# Scale shape: one scan, one 6-key combinable aggregate per side
# (shared scan via conditional sums), the 6-bin frame a literal
# sequence — nothing grows with data.
# ---------------------------------------------------------------------------

_PSI_BIN_W = 50_000
_PSI_NBINS = 6  # least(5, floor(price / 50k)) -> bins 0..5


def psi_drift_frame(orders: DataFrame) -> DataFrame:
    """Frame core of quality_psi_drift — the exact registered body over any
    orders-shaped frame (scaling-probe entry point)."""
    nb = _PSI_NBINS
    c = (
        orders.select(
            F.least(
                F.lit(nb - 1),
                F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("bigint"),
            ).alias("bin"),
            F.col("o_orderdate"),
        )
        .groupBy("bin")
        .agg(
            F.sum(
                F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("ref_cnt"),
            F.sum(
                F.when(
                    F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cur_cnt"),
        )
    )
    frame = orders.sparkSession.range(nb).select(F.col("id").alias("bin"))
    bins = (
        frame.join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
        )
    )
    tot = bins.agg(
        F.sum("ref_cnt").cast("bigint").alias("ref_tot"),
        F.sum("cur_cnt").cast("bigint").alias("cur_tot"),
    )
    p = bins.crossJoin(F.broadcast(tot)).select(  # 1-row totals
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.expr(
            f"CAST((1000000000 * (ref_cnt + 1)) div (ref_tot + {nb}) AS BIGINT)"
        ).alias("ref_ppb"),
        F.expr(
            f"CAST((1000000000 * (cur_cnt + 1)) div (cur_tot + {nb}) AS BIGINT)"
        ).alias("cur_ppb"),
    )
    t = p.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.expr("CAST(ref_ppb div 1000 AS BIGINT)").alias("ref_ppm"),
        F.expr("CAST(cur_ppb div 1000 AS BIGINT)").alias("cur_ppm"),
        F.expr(
            "CAST(round(((cur_ppb - ref_ppb) / 1000.0D)"
            " * ln(cur_ppb * 1.0D / ref_ppb)) AS BIGINT)"
        ).alias("psi_term_micro"),
    )
    return t.select(
        "*",
        F.sum("psi_term_micro").over(W.partitionBy()).cast("bigint").alias(
            "psi_total_micro"
        ),
    ).orderBy("bin")


@query(
    "quality_psi_drift",
    oracle=f"""
    WITH c AS (
      SELECT least({_PSI_NBINS - 1},
                   CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT)) AS bin,
             CAST(sum(CASE WHEN o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
      FROM orders GROUP BY 1
    ),
    bins AS (
      SELECT b.bin, coalesce(c.ref_cnt, 0) AS ref_cnt,
             coalesce(c.cur_cnt, 0) AS cur_cnt
      FROM (SELECT unnest(range({_PSI_NBINS})) AS bin) b
      LEFT JOIN c ON b.bin = c.bin
    ),
    tot AS (
      SELECT CAST(sum(ref_cnt) AS BIGINT) AS ref_tot,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_tot
      FROM bins
    ),
    p AS (
      SELECT bin, ref_cnt, cur_cnt,
             CAST((1000000000 * (ref_cnt + 1))
                  // (ref_tot + {_PSI_NBINS}) AS BIGINT) AS ref_ppb,
             CAST((1000000000 * (cur_cnt + 1))
                  // (cur_tot + {_PSI_NBINS}) AS BIGINT) AS cur_ppb
      FROM bins CROSS JOIN tot
    ),
    t AS (
      SELECT bin, ref_cnt, cur_cnt,
             CAST(ref_ppb // 1000 AS BIGINT) AS ref_ppm,
             CAST(cur_ppb // 1000 AS BIGINT) AS cur_ppm,
             CAST(round(((cur_ppb - ref_ppb) / 1000.0e0)
                        * ln(cur_ppb * 1.0e0 / ref_ppb)) AS BIGINT)
               AS psi_term_micro
      FROM p
    )
    SELECT bin, ref_cnt, cur_cnt, ref_ppm, cur_ppm, psi_term_micro,
           CAST(sum(psi_term_micro) OVER () AS BIGINT) AS psi_total_micro
    FROM t ORDER BY bin
    """,
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the order-value distribution (1998+ vs pre-1998)
    over fixed 50k-wide bins: per-bin counts, smoothed ppm shares, and
    micro-PSI terms with the order-free integer total."""
    return psi_drift_frame(table(spark, sf_dir, "orders"))



# ---------------------------------------------------------------------------
# quality_calibration_bins — is the quality score an honest
# probability? Treat the stopword-ratio score (ppm in [0, 1e6]) as a
# predicted probability of the "long document" label, bin by fixed
# score deciles, and read per-bin (mean score vs observed positive
# rate) plus the expected calibration error — the readout that decides
# whether a curation threshold on the score means what it claims.
#
# Scale shape: one tokenize pass, one 10-key combinable aggregate;
# the ECE is a window sum over <=10 rows.
# ---------------------------------------------------------------------------


def calibration_bins_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_calibration_bins — the exact registered body over any
    documents-shaped frame (scaling-probe entry point)."""
    toks = X.tokens(F.col("text"))
    # both div operands non-negative, so Spark `div` (toward zero) and
    # DuckDB `//` (floor) agree
    d = docs.select(
        X.stopword_count(F.col("text")).cast("bigint").alias("stp"),
        F.greatest(F.lit(1), F.size(toks)).cast("bigint").alias("ntok"),
        F.when(F.size(toks) >= 30, 1).otherwise(0).alias("pos"),
    ).select(
        F.expr("CAST((1000000 * stp) div ntok AS BIGINT)").alias("score_ppm"),
        "pos",
    )
    b = (
        d.select(
            F.least(F.lit(9), F.expr("score_ppm div 100000")).alias("bin"),
            "score_ppm",
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("CAST(sum(score_ppm) div count(*) AS BIGINT)").alias(
                "avg_score_ppm"
            ),
            F.expr("CAST((1000000 * sum(pos)) div count(*) AS BIGINT)").alias(
                "pos_rate_ppm"
            ),
        )
    )
    g = b.withColumn(
        "gap_ppm", F.abs(F.col("avg_score_ppm") - F.col("pos_rate_ppm")).cast("bigint")
    )
    return g.select(
        "bin",
        "n",
        "avg_score_ppm",
        "pos_rate_ppm",
        "gap_ppm",
        F.expr(
            "CAST((sum(n * gap_ppm) OVER ()) div (sum(n) OVER ()) AS BIGINT)"
        ).alias("ece_ppm"),
    ).orderBy("bin")


@query(
    "quality_calibration_bins",
    oracle=f"""
    WITH d AS (
      SELECT CAST((1000000 * {_SQL_STOPS.format(toks=_SQL_TOKS)})
                  // greatest(1, len({_SQL_TOKS})) AS BIGINT) AS score_ppm,
             CASE WHEN len({_SQL_TOKS}) >= 30 THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    b AS (
      SELECT least(9, score_ppm // 100000) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(score_ppm) // count(*) AS BIGINT) AS avg_score_ppm,
             CAST((1000000 * sum(pos)) // count(*) AS BIGINT) AS pos_rate_ppm
      FROM d GROUP BY 1
    ),
    g AS (
      SELECT bin, n, avg_score_ppm, pos_rate_ppm,
             abs(avg_score_ppm - pos_rate_ppm) AS gap_ppm
      FROM b
    )
    SELECT bin, n, avg_score_ppm, pos_rate_ppm,
           CAST(gap_ppm AS BIGINT) AS gap_ppm,
           CAST(sum(n * gap_ppm) OVER () // sum(n) OVER () AS BIGINT)
             AS ece_ppm
    FROM g ORDER BY bin
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the stopword-ratio score against the long-doc
    label: per-decile mean score vs observed positive rate (ppm) and
    the n-weighted expected calibration error."""
    return calibration_bins_frame(table(spark, sf_dir, "documents"))



# ---------------------------------------------------------------------------
# agg_cohens_kappa — chance-corrected inter-rater agreement: rater A is
# the shipped return flag, rater B is A with a deterministic 10% label
# corruption (orderkey % 10 = 0 rows get the cycled label R->A->N->R) —
# the canonical "second annotator with known noise" setup, so kappa
# lands near 0.85 and is STRUCTURALLY positive (po ~ 0.9 > pe <= 0.4),
# which keeps every integer division on non-negative operands (Spark
# `div` truncates toward zero, DuckDB `//` floors — they agree only
# there, so the construction guarantees it).
#
# Scale shape: one scan, one 9-cell (3x3 label) combinable aggregate;
# marginal products are ppm-integer arithmetic on <=9 values.
# ---------------------------------------------------------------------------


def cohens_kappa_frame(li: DataFrame) -> DataFrame:
    """Frame core of agg_cohens_kappa — the exact registered body over any
    lineitem-shaped frame (scaling-probe entry point)."""
    r = li.select(
        F.col("l_returnflag").alias("a"),
        F.when(
            F.col("l_orderkey") % 10 == 0,
            F.when(F.col("l_returnflag") == "R", "A")
            .when(F.col("l_returnflag") == "A", "N")
            .otherwise("R"),
        )
        .otherwise(F.col("l_returnflag"))
        .alias("b"),
    )
    cell = r.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("n"))
    # <=9 rows from here on; all the small frames below are 1-row or
    # label-bounded aggregates of it
    tot = cell.agg(F.sum("n").cast("bigint").alias("nn"))
    po = (
        cell.agg(
            F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0)).alias(
                "agree"
            )
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((1000000 * agree) div nn AS BIGINT)").alias("po_ppm"), "nn"
        )
    )
    ca = cell.groupBy("a").agg(F.sum("n").alias("na"))
    cb = cell.groupBy("b").agg(F.sum("n").alias("nb"))
    marg = (
        ca.join(cb, ca.a == cb.b, "full_outer")
        .select(
            F.coalesce("na", F.lit(0)).alias("suma"),
            F.coalesce("nb", F.lit(0)).alias("sumb"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((1000000 * suma) div nn AS BIGINT)").alias("a_ppm"),
            F.expr("CAST((1000000 * sumb) div nn AS BIGINT)").alias("b_ppm"),
        )
    )
    pe = marg.agg(
        F.expr("CAST(sum(a_ppm * b_ppm) div 1000000 AS BIGINT)").alias("pe_ppm")
    )
    return po.crossJoin(F.broadcast(pe)).select(  # 1-row aggregates
        F.col("nn").alias("n_items"),
        "po_ppm",
        "pe_ppm",
        F.expr(
            "CAST((1000000 * (po_ppm - pe_ppm)) div (1000000 - pe_ppm) AS BIGINT)"
        ).alias("kappa_ppm"),
    )


@query(
    "agg_cohens_kappa",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS a,
             CASE WHEN l_orderkey % 10 = 0 THEN
                    CASE l_returnflag WHEN 'R' THEN 'A'
                                      WHEN 'A' THEN 'N'
                                      ELSE 'R' END
                  ELSE l_returnflag END AS b
      FROM lineitem
    ),
    cell AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY a, b),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell),
    po AS (
      SELECT CAST((1000000 * sum(CASE WHEN a = b THEN n ELSE 0 END))
                  // (SELECT nn FROM tot) AS BIGINT) AS po_ppm
      FROM cell
    ),
    marg AS (
      SELECT lbl,
             CAST((1000000 * suma) // (SELECT nn FROM tot) AS BIGINT) AS a_ppm,
             CAST((1000000 * sumb) // (SELECT nn FROM tot) AS BIGINT) AS b_ppm
      FROM (
        SELECT coalesce(ca.a, cb.b) AS lbl,
               coalesce(ca.na, 0) AS suma, coalesce(cb.nb, 0) AS sumb
        FROM (SELECT a, sum(n) AS na FROM cell GROUP BY a) ca
        FULL OUTER JOIN (SELECT b, sum(n) AS nb FROM cell GROUP BY b) cb
          ON ca.a = cb.b
      )
    ),
    pe AS (
      SELECT CAST(sum(a_ppm * b_ppm) // 1000000 AS BIGINT) AS pe_ppm FROM marg
    )
    SELECT (SELECT nn FROM tot) AS n_items, po_ppm, pe_ppm,
           CAST((1000000 * (po_ppm - pe_ppm)) // (1000000 - pe_ppm) AS BIGINT)
             AS kappa_ppm
    FROM po CROSS JOIN pe
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (integer ppm) between the return flag and a
    deterministically 10%-corrupted copy of it — the inter-annotator
    agreement meter, chance-corrected via ppm marginal products."""
    return cohens_kappa_frame(table(spark, sf_dir, "lineitem"))



# ---------------------------------------------------------------------------
# quality_info_gain — which feature most reduces label uncertainty:
# information gain of three candidate splits (source, token-length
# bucket, and doc-id parity — the deliberate ~zero-gain floor) for
# predicting the English label, in exact micro-nats (per-term rounded
# ln over integer-count rationals, both >= 1 so every rounded term is
# non-negative; integer sums are order-free — the insights.py entropy
# precedent). The split-quality meter a curator reads before deciding
# what to stratify a training mix on.
#
# Scale shape: ONE tokenize pass; the three features unpivot via
# stack() AFTER the per-document projection (3x row multiply on two
# small columns, not three corpus scans); per-(feature, value, label)
# counts are one combinable aggregate.
# ---------------------------------------------------------------------------


def info_gain_frame(docs: DataFrame) -> DataFrame:
    """Frame core of quality_info_gain — the exact registered body over any
    documents-shaped frame (scaling-probe entry point)."""
    toks = X.tokens(F.col("text"))
    base = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        "source",
        X.token_count(F.col("text")).cast("bigint").alias("ntok"),
        (F.col("doc_id") % 2).cast("string").alias("parity"),
    ).select(
        "label",
        "source",
        F.least(F.lit(5).cast("bigint"), F.expr("ntok div 20"))
        .cast("string")
        .alias("len_bucket"),
        "parity",
    )
    lng = base.selectExpr(
        "label",
        "stack(3, 'source', source, 'len_bucket', len_bucket,"
        " 'doc_parity', parity) AS (feature, v)",
    )
    cnt = lng.groupBy("feature", "v", "label").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wv = cnt.select(
        "feature",
        "v",
        "label",
        "n",
        F.sum("n").over(W.partitionBy("feature", "v")).cast("bigint").alias("nv"),
        F.sum("n").over(W.partitionBy("feature")).cast("bigint").alias("nn"),
    )
    cond = wv.groupBy("feature").agg(
        F.expr(
            "CAST(sum(n * CAST(round(ln(nv * 1.0D / n) * 1.0D * 1000000) AS BIGINT))"
            " div max(nn) AS BIGINT)"
        ).alias("h_cond_micro"),
    )
    lab = base.groupBy("label").agg(F.count("*").cast("bigint").alias("nl"))
    ltot = lab.agg(F.sum("nl").cast("bigint").alias("nt"))
    hl = (
        lab.crossJoin(F.broadcast(ltot))  # 1-row total
        .select(
            F.expr(
                "nl * CAST(round(ln(nt * 1.0D / nl) * 1000000) AS BIGINT)"
            ).alias("term"),
            "nt",
        )
        .agg(
            F.expr("CAST(sum(term) div max(nt) AS BIGINT)").alias("h_label_micro")
        )
    )
    return (
        cond.crossJoin(F.broadcast(hl))  # 1-row aggregate
        .select(
            "feature",
            "h_label_micro",
            "h_cond_micro",
            (F.col("h_label_micro") - F.col("h_cond_micro"))
            .cast("bigint")
            .alias("info_gain_micro"),
        )
        .orderBy(F.desc("info_gain_micro"), "feature")
    )


@query(
    "quality_info_gain",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             source,
             CAST(least(5, len({_SQL_TOKS}) // 20) AS VARCHAR) AS len_bucket,
             CAST(doc_id % 2 AS VARCHAR) AS parity
      FROM documents
    ),
    lng AS (
      SELECT 'source' AS feature, source AS v, label FROM base
      UNION ALL
      SELECT 'len_bucket', len_bucket, label FROM base
      UNION ALL
      SELECT 'doc_parity', parity, label FROM base
    ),
    cnt AS (
      SELECT feature, v, label, CAST(count(*) AS BIGINT) AS n
      FROM lng GROUP BY feature, v, label
    ),
    withv AS (
      SELECT feature, v, label, n,
             CAST(sum(n) OVER (PARTITION BY feature, v) AS BIGINT) AS nv,
             CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nn
      FROM cnt
    ),
    cond AS (
      SELECT feature,
             CAST(sum(n * CAST(round(ln(nv * 1.0e0 / n) * 1.0e6) AS BIGINT))
                  // max(nn) AS BIGINT) AS h_cond_micro,
             max(nn) AS nn
      FROM withv GROUP BY feature
    ),
    lab AS (
      SELECT CAST(count(*) AS BIGINT) AS nl, label
      FROM base GROUP BY label
    ),
    hl AS (
      SELECT CAST(sum(nl * CAST(round(ln((SELECT sum(nl) FROM lab) * 1.0e0 / nl)
                                   * 1.0e6) AS BIGINT))
                  // (SELECT sum(nl) FROM lab) AS BIGINT) AS h_label_micro
      FROM lab
    )
    SELECT feature, h_label_micro, h_cond_micro,
           CAST(h_label_micro - h_cond_micro AS BIGINT) AS info_gain_micro
    FROM cond CROSS JOIN hl
    ORDER BY info_gain_micro DESC, feature
    """,
)
def quality_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain (micro-nats) of source / length-bucket /
    doc-parity for predicting the English label — exact-integer
    entropy arithmetic, ranked most-informative first."""
    return info_gain_frame(table(spark, sf_dir, "documents"))

