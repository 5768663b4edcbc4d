"""Streaming landing-dir ingestion and windowed event aggregation.

Parity map (reference -> Structured Streaming):

- ST-1 adaptive polling loop w/ temp-file filtering (main.py:295-347)
  -> file source discovers *complete* files per micro-batch;
  ``pathGlobFilter`` excludes in-flight ``.crdownload``/``.part``.
- ST-2 new-file detection by directory-listing set difference
  (main.py:280-292) -> the checkpoint's seen-files log, exactly-once.
- ST-3 late data handled by full-date delete+insert re-run
  (main.py:1534-1537) -> ``withWatermark`` + idempotent
  ``foreachBatch`` date overwrite: a late row re-emits its date
  partition; the overwrite keeps the sink correct.
- ST-4 landing-dir hygiene (main.py:212-232) -> ``cleanSource``
  archive/delete: processed files are moved out of (or removed from)
  the landing dir so it never accumulates. Spark performs the cleanup
  when the *next* micro-batch commits the previous one, so with
  ``availableNow`` one-shot runs, files land in the archive on the
  following run — same steady-state as the reference's post-load
  cleanup, verified in tests/test_streaming.py.

Every finite stream runs through :func:`run_available_now`, and every
testdata stream is read through :func:`table_stream`.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..conform import conform
from ..io_sinks import load_partitioned
from ..io_sources import header_schema, sniff_csv_dialect
from ..ops.hashing import BLOOM_K, TABLE_BITS, WORD_BITS, bit_cell, bit_words, bloom_probes
from ..schema import ConformSpec
from ..workload import cents, read_events, read_parquet


def infer_landing_schema(spark: SparkSession, landing_dir: str | Path) -> tuple[T.StructType, str, str]:
    """Streaming file sources need a schema up front. Sample one
    existing file driver-side: sniff dialect, take its header as an
    all-string schema named as the batch read names it
    (:func:`~etl_neotel_sql_automation_spark.io_sources.header_schema`;
    conformance owns typing downstream)."""
    files = [p for p in sorted(Path(landing_dir).glob("*.csv")) if p.is_file()]
    if not files:
        raise FileNotFoundError(f"no csv in {landing_dir} to infer header from")
    encoding, sep = sniff_csv_dialect(files[0])
    return header_schema(files[0], encoding, sep), encoding, sep


def stream_landing_csv(
    spark: SparkSession,
    landing_dir: str | Path,
    spec: ConformSpec,
    output_path: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    clean_source: str = "off",
    archive_dir: str | Path | None = None,
):
    """Continuously conform + load every completed CSV that appears in
    ``landing_dir``. Idempotent per date partition via foreachBatch ->
    dynamic partition overwrite, so re-delivered or late files converge
    instead of duplicating.

    ``clean_source`` (ST-4): "archive" moves processed files under
    ``archive_dir``, "delete" removes them, "off" leaves them (the
    checkpoint log alone prevents re-reads). Archival is applied by
    Spark when the following batch commits.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    if clean_source == "archive" and archive_dir is None:
        raise ValueError("clean_source='archive' requires archive_dir")
    options = {"cleanSource": clean_source}  # ST-4 landing hygiene
    if archive_dir is not None:
        options["sourceArchiveDir"] = str(archive_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        load_partitioned(conform(batch_df, spec), str(output_path))

    src = _landing_csv_stream(spark, landing_dir, **options)
    return _start_foreach_batch(src, sink, checkpoint_dir, available_now)


def _landing_csv_stream(spark: SparkSession, landing_dir: str | Path, **options) -> DataFrame:
    """File stream of the completed CSVs in ``landing_dir``, read with the
    dialect and header of an existing file (:func:`infer_landing_schema`)."""
    schema, encoding, sep = infer_landing_schema(spark, landing_dir)
    return (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("encoding", encoding)
        .option("sep", sep)
        .option("pathGlobFilter", "*.csv")  # ST-1: never read in-flight temp files
        .option("maxFilesPerTrigger", 16)
        .options(**options)
        .csv(str(landing_dir))
    )


def _start_foreach_batch(src: DataFrame, sink, checkpoint_dir, available_now: bool) -> StreamingQuery:
    """Start ``src`` into the ``sink(batch_df, epoch_id)`` callback:
    one availableNow run, or a 30-second processing-time loop."""
    trigger = {"availableNow": True} if available_now else {"processingTime": "30 seconds"}
    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))  # ST-2 seen-file log
        .trigger(**trigger)
        .start()
    )


def run_available_now(
    df: DataFrame, mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Run the streaming frame ``df`` to completion and return its result:
    start it into a uniquely named memory sink in output ``mode`` with an
    availableNow trigger (finite input -> finite run), await it, stop it
    if it is still active, and return the memory table.

    ``state_partitions`` pins spark.sql.shuffle.partitions — the
    streaming STATE partition count — for this query's lifetime and
    restores the previous value afterwards. Each stateful operator opens
    its state stores per partition, and each store pays checkpoint-dir
    setup plus a commit per batch: a fixed cost blind to data volume (a
    stream-stream join opens FOUR per partition; 32 partitions cost ~7 s
    for one 100k-row availableNow batch vs ~2.3 s at 8, measured warm at
    sf0.1). State partitioning is frozen into the checkpoint at first
    start anyway, so it is a per-query deploy knob sized to sustained
    input volume. The default (None) inherits the session value — a
    hardcoded count would bottleneck cluster runs; the registered faces
    pin their measured local-mode optimum at the call site."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    name = f"stream_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set(key, old)
    return spark.table(name)


def table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File stream over the testdata table ``<sf_dir>/<name>.parquet``.
    Streaming file sources need the schema up front: it comes from the
    batch ``table()``'s cache (:func:`~..workload.read_parquet`).
    ``pathGlobFilter`` keeps the stream off the table's siblings in
    ``sf_dir``."""
    schema = read_parquet(spark, f"{sf_dir}/{name}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive streaming source for the testdata events table:
    :func:`table_stream` under the shared events ``ts`` rule
    (:func:`~..workload.read_events`). Pins the session TZ to UTC, as
    the batch ``table()`` does, so either physical ``ts`` form becomes
    a UTC timestamp and window boundaries are deterministic."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_events(spark, lambda: table_stream(spark, sf_dir, "events"))


def windowed_event_agg(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums with a watermark bounding state.

    The watermark is the streaming twin of the reference's "re-run
    yesterday wholesale" policy: rows later than ``watermark`` stop
    updating state (batch parity: none dropped on finite availableNow
    input emitted in complete mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` with a watermark —
    state holds one entry per key and the watermark bounds how long a
    key is remembered (the at-scale answer to "don't train on the same
    event twice" for infinite streams). Run as a real streaming query
    (availableNow -> finite); the emitted distinct key set must equal
    the batch DISTINCT oracle. Only the key columns are returned:
    which physical row arrives first is scheduler-dependent, the key
    set is not."""
    events = events_stream(spark, sf_dir)
    dedup = (
        events.withWatermark("ts", "24 hours")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(dedup, "append")


def stream_stream_signup_purchase(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Stream-stream inner join: each signup event joined to the same
    user's purchase events within the following hour. Both sides carry
    watermarks and the join condition is time-bounded, so Spark can
    expire join state (unbounded stream-stream joins would hold state
    forever — the watermark + range predicate IS the 100 TB design).
    availableNow -> finite; result must equal the batch theta-join
    oracle.

    ``state_partitions`` pins the join's state partition count for this
    query (r10 VERDICT #6; see :func:`run_available_now`): a
    stream-stream join opens FOUR state stores per partition (two sides
    x two join-state stores). The bench's registered face pins 8, the
    measured local-mode optimum for one availableNow batch at sf0.1."""
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        F.expr(
            "s_user = p_user AND p_ts > s_ts AND p_ts <= s_ts + interval 1 hour"
        ),
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("s_ts")).alias("us_between"),
    )
    return run_available_now(joined, "append", state_partitions)


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed aggregation as a real streaming query over the
    events parquet (availableNow -> finite), returning the final result
    from the memory sink. Registered as a driver query: its output must
    match the batch/DuckDB tumbling-window oracle exactly."""
    events = events_stream(spark, sf_dir)
    agg = windowed_event_agg(events)
    return run_available_now(agg, "complete")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with the static
    customer dimension (user_id = c_custkey). The static side is a
    plain batch DataFrame — Spark re-plans it per micro-batch (picking
    up dimension updates between batches) and, being dimension-sized,
    it broadcasts; no state is kept for the join at all, which is why
    stream-static enrichment is the cheapest join flavor at 100 TB.
    availableNow -> finite; must equal the batch inner join."""
    events = events_stream(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    enriched = events.join(cust, events.user_id == cust.c_custkey).select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment", "c_nationkey"
    )
    return run_available_now(enriched, "append")


def stream_landing_to_jdbc(
    spark: SparkSession,
    landing_dir: str | Path,
    spec: ConformSpec,
    writer,
    table: str,
    checkpoint_dir: str | Path,
    available_now: bool = True,
):
    """Streaming landing -> conform -> WAREHOUSE: each micro-batch is
    conformed and loaded through the transactional
    :class:`~..io_sinks.JdbcStagingWriter`, one staging-transaction per
    (batch, date). Composed with the writer's date-overwrite semantics
    this is exactly-once per date at the warehouse: a re-delivered file
    re-runs its date's DELETE+INSERT inside one DB transaction, so late
    data CONVERGES in SQL Server just as it does in the parquet sink.
    The checkpoint log provides the only other state — no dedup tables,
    no manual bookkeeping. Returns the started StreamingQuery."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # an empty batch has no dates; the writer guards each date itself
        out = conform(batch_df, spec)
        for r in out.select("fecha").distinct().collect():
            fecha = str(r["fecha"])
            writer.write(out.filter(F.col("fecha") == fecha), table, fecha)

    src = _landing_csv_stream(spark, landing_dir)
    return _start_foreach_batch(src, sink, checkpoint_dir, available_now)


def stream_anti_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join — the incremental-ingestion dedup
    shape at 100 TB: each arriving micro-batch keeps only rows whose
    key is absent from a static reference set (here: the
    positive-balance customer keys; in a training pipeline: documents
    whose fingerprint is not already in the corpus index). Stateless for the
    join — the static side is re-planned (and, being key-only,
    broadcast) per micro-batch, so arbitrarily long streams hold ZERO
    join state, unlike stream-stream dedup which must watermark.
    availableNow -> finite; must equal the batch anti join.

    The reference set here is the positive-balance customer keys (a
    set that genuinely excludes some event traffic in the testdata);
    in a training pipeline the same plan filters documents whose
    fingerprint already sits in the corpus index."""
    events = events_stream(spark, sf_dir)
    seen = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_acctbal") > 0
    ).select(F.col("c_custkey").alias("user_id")).distinct()
    fresh = events.join(seen, "user_id", "left_anti").select(
        "event_id", "user_id", "event_type", "value"
    )
    return run_available_now(fresh, "append")


def stream_append_lsh_index(
    spark: SparkSession,
    landing_dir: str,
    table: str,
    checkpoint_dir: str,
    schema: T.StructType,
    available_now: bool = True,
):
    """Streaming maintenance of the persisted LSH index: each arriving
    parquet batch of (vec_id, embedding) rows is bucket-encoded with
    the SAME deterministic hyperplane family and appended to the
    bucketed index table (ops.similarity.append_lsh_index) inside
    foreachBatch. The index therefore stays query-ready and
    shuffle-free-joinable as the corpus streams in — no rebuild, no
    compaction job in the loop. Exactly-once per file via the
    checkpointed source log; appends are idempotent at the file level,
    not the row level (re-delivered FILES are deduped by the log)."""
    from ..ops.similarity import append_lsh_index

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            append_lsh_index(batch_df, table)

    src = spark.readStream.schema(schema).parquet(landing_dir)
    return _start_foreach_batch(src, sink, checkpoint_dir, available_now)


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation as a real streaming query
    (file source -> session merge state -> memory sink, availableNow).
    Complete output mode makes the finite run exactly equal the batch
    session_window aggregation — the differential proof that the
    STREAMING session-merge state machine computes the same sessions
    as the batch operator. Production streams use a watermark with
    append mode instead (state for open sessions only, closed sessions
    emitted once the watermark passes their end — the pattern
    streaming.stateful demonstrates); complete mode here would be
    unbounded state at 100 TB and exists for the finite equivalence
    check."""
    events = events_stream(spark, sf_dir)
    agg = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")


def _eval_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static side of both contamination guards: the distinct
    4-grams of the eval slice (doc_id ≡ 0 mod 50), materialized ONCE
    before the stream starts. A batch subtree inside a streaming plan is
    re-derived (tokenize + explode + distinct) on EVERY micro-batch
    re-plan otherwise; the deployed shape recomputes it only when the
    blocklist updates between batches, which is exactly what an
    explicit materialization point models (r11 VERDICT #4)."""
    from ..workload.corpus_mining import _CONTAM_N, _windows_frame

    ev = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") % 50 == 0)
    return (
        _windows_frame(ev, span_n=_CONTAM_N)
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _train_grams(src: DataFrame) -> DataFrame:
    """(doc_id, gram) of the streamed training docs (doc_id ≢ 0 mod 50)."""
    from ..workload.corpus_mining import _CONTAM_N, _windows_frame

    return _windows_frame(
        src.filter(F.col("doc_id") % 50 != 0), span_n=_CONTAM_N
    ).select("doc_id", "gram")


def stream_contamination_guard(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Streaming ingestion guard: documents stream in and any doc
    sharing a 4-gram window with the STATIC eval slice (doc_id ≡ 0
    mod 50 — the split decontaminate_span_stats reports on) is
    flagged before it ever reaches the corpus. Stream-static LEFT
    SEMI join — stateless on the join itself (the static gram set is
    benchmark-sized and re-planned per micro-batch, broadcasting at
    scale) — followed by a stateful ``dropDuplicates`` on doc_id so a
    document exploding into many contaminated windows emits once.
    availableNow -> finite; must equal the batch semi-join.

    This is the shape a pretraining intake actually deploys: the
    gram blocklist updates between micro-batches (new benchmarks
    land), and contaminated docs divert to quarantine instead of the
    training corpus.
    """
    src = table_stream(spark, sf_dir, "documents")
    flagged = (
        _train_grams(src)
        .join(_eval_grams(spark, sf_dir), "gram", "left_semi")
        .dropDuplicates(["doc_id"])
        .select("doc_id")
    )
    return run_available_now(flagged, "append", state_partitions)


def stream_contamination_guard_bloom(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """The BLOOM-PREFILTERED streaming twin of
    :func:`stream_contamination_guard` — completing the batch/stream
    pairing of decontam_bloom_prefilter: the static eval gram set
    builds the fixed-size 60-bit-word Bloom table ONCE (<= 1093 words
    by modulus, the construction bound that makes it legitimate to
    collect at any corpus size), every streamed gram is screened
    scan-side against that table inlined as a literal array (one
    stateless filter — no explode+groupBy, which would be a stateful
    streaming aggregation), and only the surviving candidates reach
    the exact stream-static semi-join. A Bloom filter has no false
    negatives, so the flagged doc set is IDENTICAL to the unfiltered
    guard's — same oracle, the same output-invariance argument as the
    batch twin (whose FP rate decontam_bloom_quality meters
    differentially every round).

    Scale: at 100 TB the ~100% of clean streamed grams stop at the
    screen and never reach the semi-join's exchange; the word table
    rebuilds between micro-batches when the blocklist updates, exactly
    like the gram set it summarizes.
    """
    src = table_stream(spark, sf_dir, "documents")
    # the gram set feeds BOTH the Bloom word table and the exact
    # semi-join; without the materialization the distinct-gram build ran
    # (2 consumers) x (per-batch re-plan) times (r11 VERDICT #4)
    static_eval = _eval_grams(spark, sf_dir)
    words = bit_words(static_eval, F.explode(bloom_probes("gram")))
    flagged = (
        _train_grams(src)
        .filter(_bloom_literal_hit(words))
        .join(static_eval, "gram", "left_semi")
        .dropDuplicates(["doc_id"])
        .select("doc_id")
    )
    return run_available_now(flagged, "append", state_partitions)


def _bloom_literal_hit(words: DataFrame) -> Column:
    """True iff all ``BLOOM_K`` probes of ``gram`` hit a set bit of the
    word table ``words``, collected once and inlined as a literal long
    array (the sign-matrix pattern; unset words read 0).

    r12 (guide §2.4): the K probe screens become ONE stateless codegen'd
    filter in the streamed scan instead of K broadcast-join stages per
    micro-batch (each stage cost ~0.5-2 s of fixed latency; measured
    7.9 -> ~4.5 s warm at sf0.1). The batch twins keep the join screen
    (corpus_mining._bloom_legs), where the literal measured slower."""
    arr = [0] * -(-TABLE_BITS // WORD_BITS)
    for r in words.collect():
        arr[int(r["w"])] = int(r["bits"])
    warr = F.expr("array(" + ",".join(f"{v}L" for v in arr) + ")")
    probes = bloom_probes("gram")
    hit = F.lit(True)
    for i in range(BLOOM_K):
        w, mask = bit_cell(probes[i])
        hit = hit & (F.element_at(warr, (w + 1).cast("int")).bitwiseAND(mask) != 0)
    return hit


def stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch as a STREAMING aggregation — the bounded-
    state form of corpus_stats.text_heavy_hitters_cms's build pass:
    tokens stream in, each sets its 4 md5-salted (row, bucket) cells,
    and the running cell counts are a streaming groupBy whose state is
    <= 4 x 1024 rows BY MODULUS — the rare aggregation that needs no
    watermark to stay bounded, because the key domain (not time)
    bounds it. Complete-mode to a memory table; availableNow makes the
    run finite and the final cells must equal the batch sketch
    bit-for-bit (the shared DuckDB oracle proves it).

    This is how the production frequency store actually ingests: the
    sketch absorbs the stream at O(cells) memory per executor forever,
    cells merge across shards/streams by sum, and point queries hit
    the store without replaying history.
    """
    from ..workload.corpus_stats import _cms_buckets
    from ..ops.text import tokens

    src = table_stream(spark, sf_dir, "documents")
    tok = src.select(F.explode(tokens(F.col("text"))).alias("term"))
    cells = (
        tok.select(F.posexplode(_cms_buckets()).alias("r", "b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )
    return run_available_now(cells, "complete")


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap ``session_window`` as a real streaming query — the
    streaming twin of the batch events_session_dynamic_gap: the
    session-merge state machine must honor PER-EVENT timeouts
    (purchase 1 hour, else 15 minutes) identically to the batch
    operator and to the first-principles running-max oracle. Complete
    output mode on the finite availableNow run for exact equality;
    production uses watermark + append (see stream_session_windows'
    caveat)."""
    events = events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", "1 hour").otherwise("15 minutes")
    agg = (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")


def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tick-to-bar resampling: hourly OHLC + volume over the
    events stream as ONE windowed aggregation. Open/close cannot use
    row_number in a streaming agg, so the within-window total order is
    packed into a single BIGINT key (offset_us_from_hour_start * 2^24
    + event_id — exact while event_id < 2^24 and the bar is <= 1 h)
    and min_by/max_by extract the first/last tick's price; both are
    declarative aggregates, so the whole bar is incremental per-window
    state — the shape a market-data pipeline keeps over an infinite
    feed. availableNow -> finite, complete mode; must equal the batch
    arg_min/arg_max oracle exactly (prices in integer cents)."""
    events = events_stream(spark, sf_dir)
    priced = events.select(
        "ts",
        cents().alias("cents"),
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.date_trunc("hour", F.col("ts")))
            )
            * F.lit(16777216)
            + F.col("event_id")
        ).alias("k"),
    )
    agg = (
        priced.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.expr("min_by(cents, k)").cast("bigint").alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.expr("max_by(cents, k)").cast("bigint").alias("close_cents"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("vol_cents"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
            "vol_cents",
        )
    )
    return run_available_now(agg, "complete")


def stream_type_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming feed-freshness: per-event-type max(ts) maintained as
    streaming state (complete mode — the monitor table a runbook
    polls), then the type-cardinality final frame is lagged against
    its own watermark and flagged at the 24 h SLA. The heavy part
    (the max over the stream) is streaming; the 5-row post-processing
    is batch on the sink table. Must equal the batch freshness
    oracle."""
    events = events_stream(spark, sf_dir)
    agg = events.groupBy("event_type").agg(F.max("ts").alias("latest"))
    final = run_available_now(agg, "complete")
    lagged = final.select(
        "event_type",
        F.expr(
            "CAST(unix_seconds(max(latest) OVER ()) - unix_seconds(latest)"
            " AS BIGINT)"
        ).alias("lag_seconds"),
    )
    return lagged.select(
        "event_type",
        "lag_seconds",
        (F.col("lag_seconds") > 86400).alias("sla_breach"),
    ).orderBy("event_type")


def stream_oov_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary-drift alarm as a REAL streaming query — the
    streaming twin of workload.wave15.text_oov_rate: the top-K token
    vocabulary is built BATCH-side from the train sources (the
    K-bounded static table a live intake broadcasts and refreshes
    between micro-batches), eval documents stream in (availableNow),
    each token screens against the static vocab via a stream-static
    LEFT join, and per-source (n_tokens, n_oov) is a genuine streaming
    aggregation emitted in complete mode. Must equal the batch meter —
    the registered query carries text_oov_rate's oracle verbatim.

    Scale: the vocab side is bounded by K (1000 rows) at ANY corpus
    size — the broadcast is construction-bounded; the per-source
    aggregation state is bounded by the source population.
    """
    from ..ops import text as X
    from ..workload.wave15 import _OOV_K, _OOV_TRAIN
    from pyspark.sql import Window as W

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train_tok = (
        batch_docs.filter(F.col("source").isin(*_OOV_TRAIN))
        .select(F.explode(X.tokens(F.col("text"))).alias("t"))
    )
    vocab = (
        train_tok.groupBy("t")
        .agg(F.count("*").alias("n"))
        .select(
            "t", F.row_number().over(W.orderBy(F.desc("n"), "t")).alias("rn")
        )
        .filter(F.col("rn") <= _OOV_K)
        .select("t", F.lit(1).alias("_inv"))
    )

    src = table_stream(spark, sf_dir, "documents")
    ev_tok = (
        src.filter(~F.col("source").isin(*_OOV_TRAIN))
        .select("source", F.explode(X.tokens(F.col("text"))).alias("t"))
    )
    agg = (
        ev_tok.join(vocab, "t", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return run_available_now(agg, "complete").select(
        "source",
        "n_tokens",
        "n_oov",
        F.expr("CAST((1000000 * n_oov) div n_tokens AS BIGINT)").alias("oov_ppm"),
    ).orderBy("source")


def stream_pchart_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wave-21 SPC p-chart as a REAL streaming query — the
    streaming twin of workload.wave21.quality_pchart_returns: lineitem
    rows stream in (availableNow), weekly (n, r) return counts are
    genuine streaming aggregation state emitted in complete mode, and
    the pooled p-bar / size-aware 3-sigma limits are derived
    display-side from the emitted weekly table (exactly how a live SPC
    dashboard works: the stream maintains counts, the chart layer
    derives limits). Must equal the batch chart row-for-row — the
    registered query carries PCHART_ORACLE verbatim.

    Scale: streaming state is one row per (week) — bounded by the
    calendar, not the row count.
    """
    src = table_stream(spark, sf_dir, "lineitem")
    weekly = (
        src.select(
            F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
        )
        .groupBy("week")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("is_r").cast("bigint").alias("r"),
        )
    )
    w = run_available_now(weekly, "complete")
    pool = w.agg(
        F.sum("r").cast("bigint").alias("rt"),
        F.sum("n").cast("bigint").alias("nt"),
    )
    pbar = "(rt * 1.0e0 / nt)"
    sig = f"sqrt({pbar} * (1.0e0 - {pbar}) / n)"
    return (
        w.crossJoin(F.broadcast(pool))  # 1-row pooled rate
        .select(
            "week",
            "n",
            "r",
            F.expr("CAST((1000000 * r) div n AS BIGINT)").alias("rate_ppm"),
            F.expr("CAST((1000000 * rt) div nt AS BIGINT)").alias("pbar_ppm"),
            F.expr(f"round({pbar} + 3.0e0 * {sig}, 6)").alias("ucl"),
            F.expr(
                f"round(greatest({pbar} - 3.0e0 * {sig}, 0.0e0), 6)"
            ).alias("lcl"),
            F.expr(
                f"CASE WHEN r * 1.0e0 / n > {pbar} + 3.0e0 * {sig}"
                f" OR r * 1.0e0 / n < {pbar} - 3.0e0 * {sig}"
                " THEN 1 ELSE 0 END"
            ).alias("out_of_control"),
        )
        .orderBy("week")
    )


def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample-ratio-mismatch guardrail as a REAL streaming
    monitor — the shape it runs in production, where assignment health
    must alarm DURING the experiment, not at readout: events stream in
    (availableNow), per-user dedup is genuine streaming state
    (dropDuplicates on the assignment unit), the per-arm distinct-user
    counts are a streaming aggregation in complete mode, and the
    chi-square + verdict layer is applied display-side to the emitted
    2-row table (workload.experiments.srm_readout — shared verbatim
    with the batch query). Must equal events_srm_check row-for-row; the
    registered query carries SRM_ORACLE verbatim (policy test:
    tests/test_wave42.py::test_streaming_srm_equals_batch).

    Scale: dedup state is one row per user (the assignment-unit
    cardinality every SRM monitor inherently tracks); the arm
    aggregate is 2 rows.
    """
    from ..workload.experiments import arm, srm_readout

    src = events_stream(spark, sf_dir)
    arms = (
        src.select("user_id", arm(2).alias("arm"))
        .dropDuplicates(["user_id"])
        .groupBy("arm")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    return srm_readout(run_available_now(arms, "complete"))


def stream_welch_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Welch t readout as a REAL streaming monitor — the
    continuous-metric sibling of stream_srm_monitor: per-user value
    sums are genuine streaming state (a user-keyed streaming
    aggregation in complete mode — updatable as late events arrive,
    unlike the SRM monitor's insert-only dedup), built by the batch
    query's own workload.experiments.user_cents, and the Welch
    arm/moment/t layer is applied display-side to the emitted per-user
    table (workload.experiments.welch_readout — shared verbatim with
    the batch query). Must equal events_welch_ttest row-for-row (policy
    test: tests/test_wave61.py::test_streaming_welch_equals_batch).

    Scale: state is one (user_id, sum) row per user — the assignment
    unit every per-user experiment metric inherently tracks; the arm
    readout runs over 2 rows.
    """
    from ..workload.experiments import user_cents, welch_readout

    u = user_cents(events_stream(spark, sf_dir))
    return welch_readout(run_available_now(u, "complete"))
