"""Data-quality workload: column profiling, declarative constraint
validation, and CDC snapshot diffing — the operators a pipeline runs
around every load to decide whether to trust it.

Reference parity: the reference's whole quality story is row-count
logging, dropna guards and abort-if-empty (main.py:1258-1260,
1352, 1667-1682). These queries are that intent as first-class,
scale-safe relational operators.

Scale notes (100 TB posture):

- ``dq_profile_orders`` is ONE aggregation pass whose partial state is
  constant-size per column (see ops/profile.py; the registered query
  uses the exact-distinct path so DuckDB can replay it bit-for-bit —
  production uses the HLL path).
- ``dq_check_violations`` folds all single-table predicates into one
  conditional-sum pass per table and the referential check into one
  anti join — a constraint suite costs scans + one shuffle, not a
  query per rule.
- ``cdc_snapshot_diff`` is the canonical change-data-capture shape:
  full outer join of two snapshots on the primary key. Both sides
  shuffle once on the key; with bucketed snapshot tables
  (io_sinks.write_bucketed) the join is shuffle-free, which is how a
  daily 100 TB snapshot diff stays feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query, table
from ..ops.profile import profile_table

# Deterministic snapshot pair derived from orders — shared by the CDC
# diff and the incremental-view-maintenance query built on top of it.
# "new" = later date cut, +10% price on keys ≡ 0 (mod 13), keys ≡ 0
# (mod 97) deleted. Status never changes, so groups never migrate.
SNAP_OLD_SQL = """
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
"""
SNAP_NEW_SQL = """
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        AND o_orderkey % 97 <> 0
"""


def snapshot_old(orders: DataFrame) -> DataFrame:
    """The "old" snapshot: orders before the 1999 date cut."""
    return orders.filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def snapshot_new(orders: DataFrame) -> DataFrame:
    """The "new" snapshot: a later cut with simulated updates/deletes."""
    return (
        orders.filter(
            (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderkey") % 97 != 0)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle() -> str:
    parts = [
        f"""
    SELECT '{c}' AS column,
           count({c}) AS non_null_count,
           count(*) - count({c}) AS null_count,
           count(DISTINCT {c}) AS distinct_count,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("dq_profile_orders", oracle=_profile_oracle())
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``orders`` — one row per column with null /
    distinct / extrema stats, computed in a single aggregation pass
    (ops/profile.py). Registered with ``approx=False`` so the distinct
    counts are exact and DuckDB-reproducible; the HLL variant is the
    production default and is covered by unit tests."""
    return profile_table(
        table(spark, sf_dir, "orders"), _PROFILE_COLS, approx=False
    )


@query(
    "dq_check_violations",
    oracle="""
    WITH o AS (
      SELECT count(*) - count(DISTINCT o_orderkey) AS pk_dup,
             sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                 THEN 1 ELSE 0 END) AS bad_status,
             sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price
      FROM orders
    ),
    l AS (
      SELECT sum(CASE WHEN l_discount < 0 OR l_discount > 1
                 THEN 1 ELSE 0 END) AS bad_discount,
             sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty
      FROM lineitem
    ),
    fk AS (
      SELECT count(*) AS orphan_orders
      FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT check_name, CAST(violations AS BIGINT) AS violations FROM (
      SELECT 'orders.pk_unique' AS check_name, pk_dup AS violations FROM o
      UNION ALL
      SELECT 'orders.status_domain', bad_status FROM o
      UNION ALL
      SELECT 'orders.price_positive', bad_price FROM o
      UNION ALL
      SELECT 'lineitem.discount_range', bad_discount FROM l
      UNION ALL
      SELECT 'lineitem.quantity_positive', bad_qty FROM l
      UNION ALL
      SELECT 'orders.fk_customer', orphan_orders FROM fk
    )
    ORDER BY check_name
    """,
)
def dq_check_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite: primary-key uniqueness, domain and
    range predicates, and referential integrity, each reported as a
    (check_name, violations) row. All per-table predicates fold into
    ONE conditional-aggregate pass over that table; the FK check is an
    anti join (none of the keys are null, so NOT IN ≡ anti join). The
    whole suite costs one scan per table + one join — it does not grow
    with the number of rules."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")

    o = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dup"),
        F.sum(
            (~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")
        ).alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
    )
    l = li.agg(
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("bad_discount"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_qty"),
    )
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )

    def row(src: DataFrame, name: str, col: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("check_name"), F.col(col).alias("violations")
        )

    return (
        row(o, "orders.pk_unique", "pk_dup")
        .unionAll(row(o, "orders.status_domain", "bad_status"))
        .unionAll(row(o, "orders.price_positive", "bad_price"))
        .unionAll(row(l, "lineitem.discount_range", "bad_discount"))
        .unionAll(row(l, "lineitem.quantity_positive", "bad_qty"))
        .unionAll(row(orphans, "orders.fk_customer", "orphan_orders"))
        .orderBy("check_name")
    )


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH snap_old AS ({SNAP_OLD_SQL}),
    snap_new AS ({SNAP_NEW_SQL})
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS old_price_cents,
           CAST(round(n.o_totalprice * 100) AS BIGINT) AS new_price_cents
    FROM snap_old o
    FULL OUTER JOIN snap_new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two table snapshots: full outer
    join on the primary key, classifying each key as insert / delete /
    update (unchanged rows are dropped). The "new" snapshot is derived
    deterministically from orders (a later date cut, +10% price on
    keys ≡ 0 mod 13, keys ≡ 0 mod 97 deleted) so both engines build
    identical inputs. Update detection compares the two prices exactly
    — both sides compute the same IEEE product; prices are emitted as
    cent integers (round at the integer level, where both engines
    round the same double identically — fractional-digit rounding
    goes through an internal re-multiply in DuckDB that can cross a
    tie boundary the exact decimal expansion does not). At scale both
    snapshots shuffle once on the key; bucketed snapshot tables make
    the diff shuffle-free."""
    orders = table(spark, sf_dir, "orders")
    o = snapshot_old(orders).alias("o")
    n = snapshot_new(orders).alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    return (
        joined.filter(
            F.col("o.o_orderkey").isNull()
            | F.col("n.o_orderkey").isNull()
            | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
        )
        .select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("o.o_orderkey").isNull(), "insert")
            .when(F.col("n.o_orderkey").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.round(F.col("o.o_totalprice") * 100, 0)
            .cast("long")
            .alias("old_price_cents"),
            F.round(F.col("n.o_totalprice") * 100, 0)
            .cast("long")
            .alias("new_price_cents"),
        )
    )


@query(
    "ivm_orders_by_status",
    oracle=f"""
    WITH snap_new AS ({SNAP_NEW_SQL})
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM snap_new
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def ivm_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status (count, sum)
    aggregate of the NEW snapshot is produced WITHOUT scanning it —
    the old snapshot's aggregate is merged with signed delta
    contributions from the CDC diff (insert: +1/+new, delete:
    -1/-old, update: 0/new-old; unchanged rows cancel and never
    appear). The oracle recomputes the view directly from the new
    snapshot, so the check proves the IVM algebra end-to-end. At
    100 TB this is THE pattern that turns a daily full-table
    re-aggregation into work proportional to the day's changes.
    Status is immutable in this snapshot pair; a general key-status
    change shows up as a delete+insert pair in the same algebra.
    Sums ride on exact cent integers."""
    orders = table(spark, sf_dir, "orders")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731

    old_agg = (
        snapshot_old(orders)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("d_n"),
            F.sum(cents("o_totalprice")).alias("d_cents"),
        )
    )
    o = snapshot_old(orders).alias("o")
    n = snapshot_new(orders).alias("n")
    delta = (
        o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
        .filter(
            F.col("o.o_orderkey").isNull()
            | F.col("n.o_orderkey").isNull()
            | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
        )
        .select(
            F.coalesce(F.col("n.o_orderstatus"), F.col("o.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(F.col("o.o_orderkey").isNull(), F.lit(1))
            .when(F.col("n.o_orderkey").isNull(), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d_n"),
            (
                F.coalesce(cents("n.o_totalprice"), F.lit(0))
                - F.coalesce(cents("o.o_totalprice"), F.lit(0))
            ).alias("d_cents"),
        )
    )
    return (
        old_agg.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("d_n").alias("n_orders"),
            F.sum("d_cents").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
    ORDER BY event_type
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``): per-event-type user sketches, PLUS a global
    row whose estimate comes from ``hll_union_agg`` over the per-type
    sketches — never from re-scanning the events. Mergeability is the
    property that makes 100 TB distinct counts cheap: daily/partition
    sketch tables union in milliseconds where exact distinct would
    re-shuffle history. The differential check is a derived property
    (estimate within 5% of exact -> TRUE), since sketch internals are
    engine-specific; the exact counts anchor the comparison."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    ok = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
        <= 0.05 * F.col("n_exact")
    )
    per_out = per.select("event_type", "n_exact", ok.alias("approx_ok"))
    merged = per.agg(F.hll_union_agg("sk").alias("sk_all"))
    glob_exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    glob = (
        glob_exact.crossJoin(F.broadcast(merged))
        .select(
            F.lit("ALL").alias("event_type"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk_all") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )
    return per_out.unionByName(glob).orderBy("event_type")


@query(
    "agg_kll_quantiles",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             quantile_cont(value, 0.45) AS lo50, quantile_cont(value, 0.55) AS hi50,
             quantile_cont(value, 0.93) AS lo95, quantile_cont(value, 0.97) AS hi95
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, TRUE AS p50_ok, TRUE AS p95_ok FROM g
    UNION ALL
    SELECT 'ALL', count(*), TRUE, TRUE FROM events
    ORDER BY event_type
    """,
)
def agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (Apache DataSketches KLL via
    ``kll_sketch_agg_double``): per-event-type value sketches PLUS a
    global row whose quantiles come from ``kll_merge_agg_double`` over
    the per-type sketches — never from re-scanning events. The
    quantile twin of the HLL pattern: daily sketch tables merge in
    milliseconds where exact percentiles would re-shuffle history
    (KLL rank error at default k is ~1.7%, far inside the +-5% rank
    envelope asserted here). Derived-property oracle: the sketch
    median lies within the exact p45..p55 value envelope and the
    sketch p95 within p93..p97 -> booleans DuckDB reproduces as
    TRUE."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.kll_sketch_agg_double("value").alias("sk"),
        F.expr("percentile(value, 0.45)").alias("lo50"),
        F.expr("percentile(value, 0.55)").alias("hi50"),
        F.expr("percentile(value, 0.93)").alias("lo95"),
        F.expr("percentile(value, 0.97)").alias("hi95"),
    )

    def oks(df):
        p50 = F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5))
        p95 = F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.95))
        return (
            p50.between(F.col("lo50"), F.col("hi50")).alias("p50_ok"),
            p95.between(F.col("lo95"), F.col("hi95")).alias("p95_ok"),
        )

    per_out = per.select("event_type", "n", *oks(per))
    merged = per.agg(F.kll_merge_agg_double("sk").alias("sk"))
    glob = (
        ev.agg(
            F.count("*").alias("n"),
            F.expr("percentile(value, 0.45)").alias("lo50"),
            F.expr("percentile(value, 0.55)").alias("hi50"),
            F.expr("percentile(value, 0.93)").alias("lo95"),
            F.expr("percentile(value, 0.97)").alias("hi95"),
        )
        .crossJoin(F.broadcast(merged))
    )
    glob_out = glob.select(F.lit("ALL").alias("event_type"), "n", *oks(glob))
    return per_out.unionByName(glob_out).orderBy("event_type")


@query(
    "agg_theta_audience_overlap",
    oracle="""
    WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM p) AS n_purchase,
           (SELECT count(*) FROM s JOIN p USING (user_id)) AS n_both,
           TRUE AS union_ok, TRUE AS intersect_ok
    """,
)
def agg_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA on sketches (Apache DataSketches Theta):
    audience-overlap analysis — how many users both signed up AND
    purchased — from two theta sketches via ``theta_intersection`` /
    ``theta_union``, the operation HLL cannot do (HLL unions only;
    theta supports intersection and difference). At 100 TB the
    per-segment sketches are built once and every pairwise overlap is
    sketch algebra, not a re-scan + self-join of the fact table.
    Derived-property oracle: union and intersection estimates within
    5% (plus a small absolute floor for tiny intersections) of the
    exact set sizes -> booleans."""
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "signup", F.col("user_id"))
        ).alias("sk_s"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sk_p"),
    )
    s = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
        .crossJoin(s.join(p, "user_id").agg(F.count("*").alias("n_both")))
    )
    j = exact.crossJoin(F.broadcast(sk))
    u_est = F.theta_sketch_estimate(F.theta_union(F.col("sk_s"), F.col("sk_p")))
    i_est = F.theta_sketch_estimate(
        F.theta_intersection(F.col("sk_s"), F.col("sk_p"))
    )
    n_union = F.col("n_signup") + F.col("n_purchase") - F.col("n_both")
    return j.select(
        "n_signup",
        "n_purchase",
        "n_both",
        (F.abs(u_est - n_union) <= 0.05 * n_union + 2).alias("union_ok"),
        (F.abs(i_est - F.col("n_both")) <= 0.05 * F.col("n_both") + 2).alias(
            "intersect_ok"
        ),
    )


def wau_sketch_frame(ev: DataFrame) -> DataFrame:
    """The scale path of events_rolling_wau over any events-shaped
    frame: one mergeable HLL sketch per day, 7-sketch union per
    calendar RANGE window -> (day, est). Shared with
    tools/scale_probe.py events so the scaling probe measures exactly
    the registered query's sketch plan (the exact-distinct checker
    half stays in the registered query — it exists to gate the
    estimate, not to run at scale)."""
    from pyspark.sql import Window as W

    day = F.date_trunc("day", "ts").cast("date")
    daily = ev.select(day.alias("day"), "user_id").groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    w = W.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01"))).rangeBetween(-6, 0)
    return daily.select(
        "day", F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est")
    )


@query(
    "events_rolling_wau",
    oracle="""
    WITH d AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    ),
    u AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    )
    SELECT d.day,
           count(DISTINCT u.user_id) AS exact_wau,
           TRUE AS wau_ok
    FROM d JOIN u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) the way it is actually
    computable at 100 TB: EXACT windowed distinct needs a 7-way
    re-scan self-join per day (the oracle does exactly that — fine at
    test scale, ruinous at petabyte scale); the engine instead builds
    ONE HLL sketch per day and merges 7 tiny sketches per window
    (``hll_union_agg`` over a calendar RANGE frame) — daily sketch
    state is KBs, the merge is milliseconds, and history is never
    re-scanned. Derived-property oracle: the sketch estimate must sit
    within 5% of the exact windowed distinct (computed engine-side by
    the same self-join as the oracle), per day."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    est = wau_sketch_frame(ev)
    u = ev.select(day.alias("uday"), "user_id").distinct()
    d = est.select("day")
    exact = (
        d.join(u, (F.col("uday") >= F.date_sub("day", 6)) & (F.col("uday") <= F.col("day")))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        est.join(exact, "day")
        .select(
            "day",
            "exact_wau",
            (F.abs(F.col("est") - F.col("exact_wau")) <= 0.05 * F.col("exact_wau"))
            .alias("wau_ok"),
        )
        .orderBy("day")
    )


@query(
    "dq_benford_totalprice",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    dig AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM cents
    ),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dig GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs)
    SELECT obs.digit, obs.n,
           obs.n * 1000000 // tot.total AS obs_ppm,
           CAST(round(ln(1.0e0 + 1.0e0 / obs.digit) / ln(10.0e0) * 1.0e6)
                AS BIGINT) AS benford_ppm,
           obs.n * 1000000 // tot.total
             - CAST(round(ln(1.0e0 + 1.0e0 / obs.digit) / ln(10.0e0) * 1.0e6)
                    AS BIGINT) AS dev_ppm
    FROM obs CROSS JOIN tot
    ORDER BY obs.digit
    """,
)
def dq_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic data-quality test (fabricated or re-binned monetary data
    drifts from the log distribution; this generator's uniform-ish
    totals SHOULD deviate, which is exactly what the audit reports).
    The first significant digit is extracted EXACTLY via the cents
    integer's decimal string — never floor(log10(x)), whose last-ulp
    error flips the digit at power-of-ten boundaries. Expected Benford
    shares quantize ln-ratios to integer ppm with one identical
    expression per engine; observed shares are integer ppm.

    Scale shape: one projection + one 9-row aggregate + a 1-row total
    broadcast. Free at any scale.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    dig = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    obs = dig.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    benford = (
        "CAST(round(ln(1.0e0 + 1.0e0 / digit) / ln(10.0e0) * 1.0e6) AS BIGINT)"
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div total").alias("obs_ppm"),
            F.expr(benford).alias("benford_ppm"),
            F.expr(f"n * 1000000 div total - {benford}").alias("dev_ppm"),
        )
        .orderBy("digit")
    )
