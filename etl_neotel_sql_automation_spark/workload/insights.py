"""Behavioral / content insight operators: Markov journey transitions,
market-basket co-occurrence, and readability scoring — the analytics
passes that sit downstream of the ETL core in a warehouse like the
reference's (its t_diario_* report tables are the same genre: derived
behavioral aggregates; reference main.py builds them with pandas
groupbys, re-expressed here as single-pass Spark aggregations).

Determinism rules: every probability/ratio is integer ppm arithmetic
(``x * 1000000 div n`` on BIGINT — no float division), every window
order carries a unique tiebreak, every top-k ORDER BY is fully keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops.hashing import md5_long, sql_md5_long


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           t.n * 1000000 // tot.n_from AS p_ppm
    FROM trans t JOIN tot ON t.prev_type = tot.prev_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams —
    the user-journey model behind next-action prediction and funnel
    diagnosis (which steps leak where). One lag window per user (ts +
    event_id unique tiebreak), one combinable count aggregate, and the
    per-source row normalization joins against the |event_types|²-sized
    transition table — dimension-sized, broadcast for free.

    Scale shape: the window shuffles on user_id (bounded per-key
    state), the transition count combines map-side to at most
    |types|² rows. Probabilities are integer ppm (BIGINT multiply +
    ``div``), never float division.
    """
    return markov_frame(table(spark, sf_dir, "events"))


def markov_frame(ev: DataFrame) -> DataFrame:
    """The transition matrix over any events-shaped frame — shared by
    the registered query and tools/scale_probe.py events."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return trans.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.expr("n * 1000000 div n_from").alias("p_ppm"),
    )


@query(
    "orders_market_basket",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS support
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    ),
    freq AS (
      SELECT l_partkey, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.part_a, p.part_b, p.support, f.n_orders AS n_a,
           p.support * 1000000 // f.n_orders AS conf_ppm
    FROM pairs p JOIN freq f ON p.part_a = f.l_partkey
    ORDER BY p.support DESC, p.part_a, p.part_b
    LIMIT 100
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same
    order, with support and confidence(a→b) — the association-rule
    primitive behind cross-sell analytics. Confidence is integer ppm
    (support × 1e6 div orders-containing-a); lift derives downstream
    from the same columns without risking BIGINT overflow at extreme
    corpus sizes (support × total_orders × 1e6 can exceed 2^63 where
    support × 1e6 cannot).

    Scale shape: the pair self-join is keyed on l_orderkey, so pair
    expansion is bounded by order SIZE squared (TPC-H ≤ 7 lines/order
    — a per-key constant), never corpus-quadratic; support counting
    and part frequencies combine map-side; the top-100 sort runs on
    the support-filtered pair table (TakeOrderedAndProject), fully
    tiebroken for determinism.
    """
    li = table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    freq = li.groupBy(F.col("l_partkey").alias("part_a")).agg(
        F.countDistinct("l_orderkey").alias("n_a")
    )
    return (
        pairs.join(freq, "part_a")
        .select(
            "part_a",
            "part_b",
            "support",
            "n_a",
            F.expr("support * 1000000 div n_a").alias("conf_ppm"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(100)
    )


@query(
    "text_readability_scores",
    oracle=f"""
    WITH feat AS (SELECT doc_id, {_SQL_TOKS} AS toks, text FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
               AS n_sentences,
             CAST(list_sum(list_transform(toks,
                   t -> greatest(len(regexp_extract_all(lower(t), '[aeiouy]+')),
                                 1))) AS BIGINT) AS n_syllables
      FROM feat
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           n_words * 1000000 // n_sentences     AS wps_ppm,
           n_syllables * 1000000 // n_words     AS spw_ppm,
           (n_syllables * 2 <= n_words * 3)     AS flag_easy
    FROM m
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (the Flesch-Kincaid feature family):
    words/sentence and syllables/word per document, with syllables
    approximated as vowel-group count (the standard heuristic) and a
    boolean easy-text flag at 1.5 syllables/word — a curation signal
    complementary to the Gopher gate (structural complexity rather
    than junk detection).

    Everything is one codegen'd projection: sentence and vowel-group
    counts via regexp_extract_all, per-token syllables via an array
    HOF, ratios as integer ppm and the flag as an integer
    cross-multiplication (``2 × syllables <= 3 × words``) — no float
    anywhere, no shuffle, no Python.
    """
    from ..ops import text as X

    docs = table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_words = F.size(toks).cast("long")
    n_sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")), F.lit(1)
    ).cast("long")
    feat = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        F.expr(
            "aggregate(transform("
            "filter(split(trim(text), '\\\\s+'), t -> t != ''), "
            "t -> CAST(greatest(size(regexp_extract_all(lower(t), '[aeiouy]+', 0)), 1) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("n_syllables"),
    )
    return feat.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr("n_words * 1000000 div n_sentences").alias("wps_ppm"),
        F.expr("n_syllables * 1000000 div n_words").alias("spw_ppm"),
        (F.col("n_syllables") * 2 <= F.col("n_words") * 3).alias("flag_easy"),
    )


@query(
    "events_user_lifecycle",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ),
    seq AS (
      SELECT user_id, week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
      FROM act
    ),
    cls AS (
      SELECT week,
             CASE WHEN prev_week IS NULL THEN 'new'
                  WHEN week - prev_week = 1 THEN 'retained'
                  ELSE 'resurrected' END AS lifecycle
      FROM seq
    )
    SELECT week, lifecycle, CAST(count(*) AS BIGINT) AS n_users
    FROM cls GROUP BY week, lifecycle
    """,
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting lifecycle classification: per active week,
    every user is new (first activity), retained (active the previous
    week too) or resurrected (returned after a gap) — the standard
    weekly growth decomposition (churn is the retained-complement,
    derivable from these counts). Week ids are integer epoch-weeks
    (``epoch div 604800``), so the classification is pure integer
    arithmetic on both engines.

    Scale shape: DISTINCT (user, week) combines map-side to bounded
    per-user state, the lag window shuffles once on user_id, the final
    count is dimension-sized (weeks × 3). Nothing scans history twice.
    """
    return lifecycle_frame(table(spark, sf_dir, "events"))


def lifecycle_frame(ev: DataFrame) -> DataFrame:
    """The weekly lifecycle classification over any events-shaped
    frame — shared by the registered query and the scaling probe."""
    act = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 604800) AS BIGINT)").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    seq = act.withColumn("prev_week", F.lag("week").over(w))
    cls = seq.select(
        "week",
        F.when(F.col("prev_week").isNull(), "new")
        .when(F.col("week") - F.col("prev_week") == 1, "retained")
        .otherwise("resurrected")
        .alias("lifecycle"),
    )
    return cls.groupBy("week", "lifecycle").agg(F.count("*").alias("n_users"))


@query(
    "sample_stratified_exact_k",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             {sql_md5_long("concat('topk:', CAST(doc_id AS VARCHAR))")} AS hk
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
                  AS INTEGER) AS rk
      FROM keyed
    )
    SELECT doc_id, source, rk FROM ranked WHERE rk <= 10
    """,
)
def sample_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k-per-stratum deterministic sampling — the eval-set /
    inspection-sample shape (rate-based ``sample_hash_stratified``
    keeps a proportional share; this keeps exactly k per source
    regardless of stratum size): rank rows inside each stratum by a
    salted md5 of their id and keep the first k. The hash order is a
    pure function of (id, salt), so re-runs, retried tasks, appends
    and other engines pick the IDENTICAL k rows — and because the hash
    is uniform, the k rows are a uniform draw from the stratum.

    Scale shape: one per-stratum top-k window (rank streams through
    the sort, no full materialization); at extreme stratum sizes the
    same semantics can pre-prune with an approximate hash threshold
    before ranking — the window stays the canonical form.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        md5_long(F.concat(F.lit("topk:"), F.col("doc_id").cast("string"))).alias("hk"),
    )
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "rk")
    )


@query(
    "scalar_struct_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus                                     AS status_field,
           (o_totalprice >= 100000.0)                        AS big_struct_flag,
           concat(o_orderstatus, '|', o_orderpriority)       AS packed,
           CAST(2 AS INTEGER)                                AS n_fields
    FROM orders WHERE o_orderkey < 200
    """,
)
def scalar_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-typed scalar surface: struct construction, dotted field
    access, struct comparison (field-by-field ordering), a
    struct-array fold, and field counting — exercised Spark-side while
    the oracle states the expected scalars from the base columns
    (structs never cross the comparison boundary, same stance as
    scalar_map_funcs). The comparison struct carries a tie field that
    makes (price, 'x') > (100000.0, '') equivalent to price >= 1e5 —
    exercising the field-by-field tie rule ON the cent-grid boundary
    rather than dodging it."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    s = F.struct(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("prio")
    )
    threshold = F.struct(
        F.lit(100000.0).alias("price"), F.lit("").alias("tie")
    )
    probe = F.struct(
        F.col("o_totalprice").cast("double").alias("price"), F.lit("x").alias("tie")
    )
    packed = F.aggregate(
        F.array(s),
        F.lit("").cast("string"),
        lambda acc, e: F.concat(acc, e["status"], F.lit("|"), e["prio"]),
    )
    return o.select(
        "o_orderkey",
        s["status"].alias("status_field"),
        (probe > threshold).alias("big_struct_flag"),
        packed.alias("packed"),
        F.size(F.json_object_keys(F.to_json(s))).alias("n_fields"),
    )


@query(
    "orders_repeat_purchase_curve",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    gap AS (
      SELECT CAST(datediff('day', f.o_orderdate, s.o_orderdate) AS BIGINT)
               AS gap_days
      FROM r f JOIN r s ON f.o_custkey = s.o_custkey AND f.rn = 1 AND s.rn = 2
    ),
    b AS (
      SELECT CAST(least(gap_days // 30, 12) AS BIGINT) AS bucket_30d
      FROM gap
    )
    SELECT bucket_30d, CAST(count(*) AS BIGINT) AS n_customers
    FROM b GROUP BY bucket_30d
    """,
)
def orders_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-second-purchase curve: for every customer with 2+
    orders, the day gap between first and second order, bucketed into
    30-day bins (capped at 12 = one year+) — the repeat-purchase
    distribution behind retention and reorder-window decisions.

    Scale shape: one customer-keyed rank window (unique tiebreak
    o_orderkey), a self-equi-join on (custkey, fixed rn) — at most one
    row per side per customer — and a dimension-sized histogram. Day
    gaps and buckets are pure integer date arithmetic on both engines.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    )
    first = r.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("d1")
    )
    second = r.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("o_orderdate").alias("d2")
    )
    gap = first.join(second, "o_custkey").select(
        F.datediff("d2", "d1").cast("long").alias("gap_days")
    )
    return (
        gap.select(
            F.least(F.expr("gap_days div 30"), F.lit(12).cast("long")).alias(
                "bucket_30d"
            )
        )
        .groupBy("bucket_30d")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "emb_quantile_clip_bounds",
    oracle="""
    WITH x AS (
      SELECT unnest(range(1, len(embedding)+1)) AS d,
             unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                   v -> CAST(round(v * 1000000) AS BIGINT))) AS val
      FROM embeddings
    ),
    s AS (
      SELECT d,
             CAST(quantile_disc(val, 0.01) AS BIGINT) AS lo_micro,
             CAST(quantile_disc(val, 0.99) AS BIGINT) AS hi_micro,
             CAST(count(*) AS BIGINT) AS n
      FROM x GROUP BY d
    )
    SELECT CAST(s.d AS INTEGER) AS d, s.lo_micro, s.hi_micro,
           CAST((SELECT count(*) FROM x
                 WHERE x.d = s.d AND (x.val < s.lo_micro OR x.val > s.hi_micro))
                AS BIGINT) AS n_clipped
    FROM s
    """,
)
def emb_quantile_clip_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension p1/p99 clipping bounds for embedding
    preprocessing (outlier winsorization before quantization or
    indexing), plus how many values each bound would clip. Quantiles
    are DISCRETE (an actual data value, computed on integer micro-unit
    values) so both engines pick the identical element — interpolated
    percentiles of floats are a cross-engine tie bomb, discrete ones
    are not.

    Scale shape: posexplode -> one (dim)-keyed exact percentile
    aggregate (64 groups — dimension-sized), then the clip count joins
    the tiny bounds table back to the exploded values as one more
    combinable aggregate. Two passes over rows x dims, no window over
    the full corpus.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    x = emb.select(F.posexplode(q).alias("d0", "val")).select(
        (F.col("d0") + 1).cast("int").alias("d"), "val"
    )
    s = x.groupBy("d").agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY val)")
        .cast("long")
        .alias("lo_micro"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY val)")
        .cast("long")
        .alias("hi_micro"),
        F.count("*").alias("n"),
    )
    clipped = (
        x.join(F.broadcast(s.select("d", "lo_micro", "hi_micro")), "d")
        .filter((F.col("val") < F.col("lo_micro")) | (F.col("val") > F.col("hi_micro")))
        .groupBy("d")
        .agg(F.count("*").alias("n_clipped"))
    )
    return (
        s.join(clipped, "d", "left")
        .select(
            "d",
            "lo_micro",
            "hi_micro",
            F.coalesce("n_clipped", F.lit(0).cast("long")).alias("n_clipped"),
        )
    )


@query(
    "dq_order_reconciliation",
    oracle="""
    WITH d AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(38, 6))
                 * (1 + CAST(l_tax AS DECIMAL(38, 6)))
                 * (1 - CAST(l_discount AS DECIMAL(38, 6)))) AS calc
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderstatus,
             (d.l_orderkey IS NULL) AS no_lines,
             CASE WHEN d.l_orderkey IS NULL THEN CAST(0 AS BIGINT)
                  ELSE CAST(abs(round((CAST(o.o_totalprice AS DECIMAL(38, 6))
                                       - d.calc) * 100, 0)) AS BIGINT)
             END AS diff_cents
      FROM orders o LEFT JOIN d ON o.o_orderkey = d.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)                                AS n_orders,
           CAST(sum(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
           CAST(sum(CASE WHEN NOT no_lines AND diff_cents = 0
                         THEN 1 ELSE 0 END) AS BIGINT)             AS n_reconciled,
           CAST(sum(diff_cents) AS BIGINT)                         AS total_abs_diff_cents
    FROM j GROUP BY o_orderstatus
    """,
)
def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-detail reconciliation audit: does each order's header
    total equal the sum of its line amounts (extendedprice × (1+tax) ×
    (1−discount))? Emits, per order status, the order count, orders
    with NO lines at all (referential gap), orders that reconcile to
    the cent, and the total absolute drift in cents — the classic
    warehouse closing-the-books check (and on this synthetic data a
    deliberate red: the generator does not enforce the identity, which
    is exactly what the audit exists to catch).

    Determinism: line amounts are summed in DECIMAL(38,6) (the
    products live on a 6-decimal grid, so the cast is lossless and the
    sum is exact in any order — float summation here would be a
    cross-engine tie bomb); diffs are integer cents. One lineitem
    aggregate (combines map-side), one orderkey equi-join, one
    status rollup.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    dec = "decimal(38,6)"
    d = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast(dec)
            * (F.lit(1).cast(dec) + F.col("l_tax").cast(dec))
            * (F.lit(1).cast(dec) - F.col("l_discount").cast(dec))
        ).alias("calc")
    )
    j = o.join(d, o.o_orderkey == d.l_orderkey, "left").select(
        "o_orderstatus",
        F.col("l_orderkey").isNull().alias("no_lines"),
        F.when(F.col("l_orderkey").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.abs(
                F.round(
                    (F.col("o_totalprice").cast(dec) - F.col("calc")) * 100, 0
                )
            ).cast("long")
        )
        .alias("diff_cents"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("no_lines"), 1).otherwise(0)).cast("long").alias("n_no_lines"),
        F.sum(
            F.when(~F.col("no_lines") & (F.col("diff_cents") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_reconciled"),
        F.sum("diff_cents").cast("long").alias("total_abs_diff_cents"),
    )


@query(
    "events_seasonality_profile",
    oracle="""
    WITH base AS (
      SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
             CAST(dayofweek(ts) + 1 AS INTEGER) AS day_of_week,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM base)
    SELECT hour_of_day, day_of_week, n,
           n * 1000000 // tot.total AS share_ppm
    FROM base, tot
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity seasonality profile: the hour-of-day × day-of-week
    event matrix with integer-ppm shares — the baseline load shape
    behind capacity planning and anomaly baselining (events_anomaly_mad
    flags deviations; this is the calendar structure they deviate
    from). Sunday-based day numbering pinned to Spark's dayofweek
    (1=Sunday; the oracle shifts DuckDB's 0-based to match), hours in
    the session's pinned UTC.

    Scale shape: one combinable count to at most 168 cells, then the
    1-row total broadcast back — dimension-sized end to end.
    """
    ev = table(spark, sf_dir, "events")
    base = ev.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.dayofweek("ts").cast("int").alias("day_of_week"),
    ).agg(F.count("*").alias("n"))
    tot = base.agg(F.sum("n").alias("total"))
    return base.crossJoin(F.broadcast(tot)).select(
        "hour_of_day",
        "day_of_week",
        "n",
        F.expr("n * 1000000 div total").alias("share_ppm"),
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_month, CAST(count(*) AS BIGINT) AS n_customers
      FROM first_order GROUP BY cohort_month
    ),
    rev AS (
      SELECT f.cohort_month,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))
               - (year(f.cohort_month) * 12 + month(f.cohort_month)) AS age_months,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS revenue
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    curve AS (
      SELECT cohort_month, age_months, revenue,
             CAST(sum(revenue) OVER (PARTITION BY cohort_month
                                     ORDER BY age_months) AS DECIMAL(38,2))
               AS cum_revenue
      FROM rev
    )
    SELECT c.cohort_month, c.age_months, s.n_customers, c.revenue,
           c.cum_revenue,
           CAST(c.cum_revenue * 100 AS BIGINT) // s.n_customers
             AS ltv_cents_per_customer
    FROM curve c JOIN sizes s ON c.cohort_month = s.cohort_month
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by order age in months, normalized to
    cents per cohort member — the cohorted-LTV report subscription
    and retention teams read (events_retention_cohorts counts
    presence; this accumulates VALUE). Money stays on the exact
    DECIMAL(18,2) grid through every sum (the house rule from
    q1_pricing_summary) so cumulative windows are order-free, and
    the per-customer normalization is integer cents.

    Scale shape: one customer-keyed min aggregate, one
    customer-keyed join (AQE-planned; cohort table is
    customer-sized), one (cohort, age) aggregate — at most
    months x months cells — and a window over that dimension-sized
    curve. Nothing here grows faster than the customer table.
    """
    orders = table(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort_month")
    )
    sizes = first_order.groupBy("cohort_month").agg(
        F.count("*").alias("n_customers")
    )
    age = (
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).alias("age_months")
    rev = (
        orders.join(first_order, "o_custkey")
        .groupBy("cohort_month", age)
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("cohort_month").orderBy("age_months")
    curve = rev.withColumn(
        "cum_revenue", F.sum("revenue").over(w).cast("decimal(38,2)")
    )
    return curve.join(sizes, "cohort_month").select(
        "cohort_month",
        "age_months",
        "n_customers",
        "revenue",
        "cum_revenue",
        F.expr("CAST(cum_revenue * 100 AS BIGINT) div n_customers").alias(
            "ltv_cents_per_customer"
        ),
    )


@query(
    "orders_survival_curve",
    oracle="""
    WITH span AS (
      SELECT o_custkey,
             (year(max(o_orderdate)) * 12 + month(max(o_orderdate)))
               - (year(min(o_orderdate)) * 12 + month(min(o_orderdate)))
               AS tenure_months
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT tenure_months, CAST(count(*) AS BIGINT) AS n_churned
      FROM span GROUP BY tenure_months
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM span),
    curve AS (
      SELECT d.tenure_months, d.n_churned,
             CAST(sum(d.n_churned) OVER (ORDER BY d.tenure_months DESC
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk,
             tot.n_total
      FROM d CROSS JOIN tot
    )
    SELECT tenure_months, n_churned, n_at_risk,
           n_churned * 1000000 // n_at_risk AS hazard_ppm,
           n_at_risk * 1000000 // n_total AS surv_ppm
    FROM curve
    """,
)
def orders_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-tenure survival and hazard curve: tenure = months
    between a customer's first and last order; per tenure month, the
    at-risk population (reverse cumulative count), discrete hazard
    (churners / at-risk, ppm), and the survival function (at-risk /
    total, ppm). With full observation the Kaplan-Meier product
    telescopes to this complementary CDF, so the curve is pure
    integer arithmetic — no float products to drift between engines.
    The retention-team companion to orders_cohort_ltv (value) and
    events_retention_cohorts (presence).

    Scale shape: one customer-keyed min/max aggregate, one count to
    at most months-of-history rows, then a window over that
    dimension-sized curve. The reverse running sum orders by tenure
    DESC so n_at_risk(t) = sum of churners at >= t in one pass.
    """
    orders = table(spark, sf_dir, "orders")
    span = orders.groupBy("o_custkey").agg(
        (
            (F.year(F.max("o_orderdate")) * 12 + F.month(F.max("o_orderdate")))
            - (F.year(F.min("o_orderdate")) * 12 + F.month(F.min("o_orderdate")))
        ).alias("tenure_months")
    )
    d = span.groupBy("tenure_months").agg(F.count("*").alias("n_churned"))
    tot = span.agg(F.count("*").alias("n_total"))
    w = (
        Window.orderBy(F.desc("tenure_months"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = d.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk", F.sum("n_churned").over(w).cast("long")
    )
    return curve.select(
        "tenure_months",
        "n_churned",
        "n_at_risk",
        F.expr("n_churned * 1000000 div n_at_risk").alias("hazard_ppm"),
        F.expr("n_at_risk * 1000000 div n_total").alias("surv_ppm"),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS k
      FROM daily
    ),
    c AS (
      SELECT d.day, d.n,
             CAST(sum(d.n * t.k - t.total)
                  OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cusum_scaled
      FROM daily d CROSS JOIN tot t
    ),
    mx AS (
      SELECT max(abs(cusum_scaled)) AS peak,
             min(CASE WHEN abs(cusum_scaled) =
                        (SELECT max(abs(cusum_scaled)) FROM c)
                      THEN day END) AS peak_day
      FROM c
    )
    SELECT c.day, c.n, c.cusum_scaled,
           c.day = mx.peak_day AS is_changepoint
    FROM c CROSS JOIN mx
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-volume series:
    the running sum of deviations from the overall mean peaks at the
    most likely level-shift point (Page 1954 — the monitoring
    companion to events_anomaly_mad, which flags outlier DAYS; CUSUM
    finds the REGIME boundary). The mean is never materialized as a
    float: deviations are cross-multiplied (n_day*K - total), so the
    whole statistic — including the argmax flag with min-day
    tiebreak — is exact BIGINT arithmetic.

    Scale shape: one date-keyed count (combinable), then windows over
    the days-of-history-sized series — dimension-sized no matter the
    corpus.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    tot = daily.agg(
        F.sum("n").cast("long").alias("total"), F.count("*").alias("k")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = daily.crossJoin(F.broadcast(tot)).withColumn(
        "cusum_scaled", F.sum(F.expr("n * k - total")).over(w).cast("long")
    )
    mx = c.agg(
        F.max(F.abs(F.col("cusum_scaled"))).alias("peak"),
    )
    peak_day = (
        c.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("cusum_scaled")) == F.col("peak"))
        .agg(F.min("day").alias("peak_day"))
    )
    return (
        c.crossJoin(F.broadcast(peak_day))
        .select(
            "day",
            "n",
            "cusum_scaled",
            (F.col("day") == F.col("peak_day")).alias("is_changepoint"),
        )
    )


@query(
    "orders_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT n.n_name, o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cust_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, o.o_custkey
    ),
    tot AS (
      SELECT n_name, CAST(sum(cust_cents) AS BIGINT) AS nat_cents,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM rev GROUP BY n_name
    )
    SELECT t.n_name, t.n_customers, t.nat_cents,
           CAST(sum((r.cust_cents * 1000000 // t.nat_cents)
                    * (r.cust_cents * 1000000 // t.nat_cents)) // 1000000
                AS BIGINT) AS hhi_ppm
    FROM rev r JOIN tot t ON r.n_name = t.n_name
    GROUP BY t.n_name, t.n_customers, t.nat_cents
    """,
)
def orders_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per nation:
    each customer's ppm revenue share squared and summed — the
    antitrust-style concentration number completing the inequality
    family (orders_gini_concentration measures dispersion,
    orders_pareto_customers the top-heavy tail, HHI the
    monopolization). Shares floor to ppm BEFORE squaring on both
    engines, so the whole statistic is exact BIGINT arithmetic
    (shares <= 1e6, squares <= 1e12, the sum bounded by 1e12).

    Scale shape: customer-keyed revenue aggregate, nation-sized
    totals broadcast back, one more combinable aggregate. The
    dimension tables broadcast; the only big shuffle is the
    (nation, customer) revenue aggregate.
    """
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cust_cents")
        )
    )
    tot = rev.groupBy("n_name").agg(
        F.sum("cust_cents").cast("long").alias("nat_cents"),
        F.count("*").alias("n_customers"),
    )
    return (
        rev.join(F.broadcast(tot), "n_name")
        .groupBy("n_name", "n_customers", "nat_cents")
        .agg(
            F.expr(
                "CAST(sum((cust_cents * 1000000 div nat_cents)"
                " * (cust_cents * 1000000 div nat_cents)) div 1000000 AS BIGINT)"
            ).alias("hhi_ppm")
        )
        .select("n_name", "n_customers", "nat_cents", "hhi_ppm")
    )


@query(
    "events_entropy_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    ),
    term AS (
      SELECT c.user_id,
             c.n * CAST(round(ln(tot.nt * 1.0e0 / c.n) * 1.0e6) AS BIGINT)
               AS contrib_unats
      FROM c JOIN tot ON c.user_id = tot.user_id
    ),
    ent AS (
      SELECT user_id, CAST(sum(contrib_unats) AS BIGINT) AS sum_unats
      FROM term GROUP BY user_id
    )
    SELECT t.user_id, t.n_types, t.nt AS n_events,
           e.sum_unats // t.nt AS entropy_unats
    FROM tot t JOIN ent e ON t.user_id = e.user_id
    """,
)
def events_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: the Shannon entropy of each
    user's event-type distribution in integer micro-nats — H = sum
    over types of (n_i/N)*ln(N/n_i), computed as an order-free BIGINT
    sum of n_i * round(ln(N/n_i)*1e6) floor-divided by N (n_i and N
    exact; one ln per (user, type) row quantized BEFORE any
    aggregation). Near-zero entropy = single-action bots; maximal
    entropy = uniform explorers — the segmentation feature beside RFM
    (value) and lifecycle (tenure).

    Scale shape: one (user, type) count — combinable, bounded by
    users x |types| — and two user-keyed joins of dimension-bounded
    frames. ln(N/n_i) >= 0 always, so the floor division is
    sign-safe on both engines.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("nt"), F.count("*").alias("n_types")
    )
    term = c.join(tot, "user_id").select(
        "user_id",
        F.expr("n * CAST(round(ln(nt * 1.0e0 / n) * 1.0e6) AS BIGINT)").alias(
            "contrib_unats"
        ),
    )
    ent = term.groupBy("user_id").agg(
        F.sum("contrib_unats").cast("long").alias("sum_unats")
    )
    return tot.join(ent, "user_id").select(
        "user_id",
        "n_types",
        F.col("nt").alias("n_events"),
        F.expr("sum_unats div nt").alias("entropy_unats"),
    )
