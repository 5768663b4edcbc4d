"""Plan-shape regression tests: the scale properties claimed in the
docstrings must be visible in the physical plans — conformance stays
narrow, dims broadcast, as-of does not join, hot paths stay JVM-side.

These guard against quiet plan regressions (a lost broadcast hint, an
accidental Python UDF) that correctness tests cannot see.
"""

from __future__ import annotations

import pytest

from etl_neotel_sql_automation_spark.workload import queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_conform_is_single_projection(spark):
    plan = _plan(spark, "etl_conform_conducta")
    # the conformance itself adds no shuffle beyond the source join's
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    ["q3_top_unshipped", "q5_region_volume", "flagship_region_revenue",
     "scalar_string_funcs", "join_anti_no_recent_orders"],
)
def test_dimension_joins_are_broadcast(spark, name):
    assert "BroadcastHashJoin" in _plan(spark, name)


def test_asof_join_has_no_join_node(spark):
    plan = _plan(spark, "asof_events_orders")
    assert "Join" not in plan
    assert "Window" in plan


def test_no_python_in_relational_paths(spark):
    for name in [
        "q1_pricing_summary", "etl_time_to_minutes", "dedup_minhash_candidates",
        "text_analyze_docs", "sim_cosine_topk", "sessionize_events",
    ]:
        assert "EvalPython" not in _plan(spark, name), name


# Queries too expensive to plan-check in the registry-wide tripwire:
# streaming_* execute a stream to a memory table when called (their
# result plan is a table scan; stateful-op policy is covered by
# dedicated streaming tests), and the k-means-trained ANN queries run
# driver-side training jobs at call time (their plan policy has
# dedicated tests in test_ops/test_plans). This set is EXACT names, not
# patterns — see test_tripwire_exclusions_are_exact below.
TRIPWIRE_EXCLUDED = frozenset({
    "dedup_embedding_indexed",
    "sim_ivf_pq_sampled",
    "sim_ivf_pq_topk",
    "sim_ivf_topk",
    "sim_pq_topk",
    "streaming_anti_join_new_users",
    "streaming_cms_sketch",
    "streaming_contam_guard",
    "streaming_contam_guard_bloom",
    "streaming_dedup_events",
    "streaming_events_hourly",
    "streaming_session_dynamic",
    "streaming_session_window",
    "streaming_stateful_sessionize",
    "streaming_static_enrich",
    "streaming_stream_stream_join",
    # r6 wave 10 — policy tests: tests/test_wave10.py
    # test_streaming_ohlc_matches_batch_formula (streaming == batch of
    # the same packed-key formula) and tests/test_plans.py
    # test_streaming_freshness_matches_batch_twin
    "streaming_hourly_ohlc",
    "streaming_type_freshness",
    # r6 wave 16 — policy test: tests/test_wave16.py
    # test_streaming_oov_equals_batch_meter (streaming == batch
    # text_oov_rate row-for-row; same oracle verbatim)
    "streaming_oov_monitor",
    # r6 wave 23 — policy test: tests/test_wave23.py
    # test_streaming_pchart_equals_batch (streaming == batch
    # quality_pchart_returns row-for-row; PCHART_ORACLE verbatim)
    "streaming_pchart_returns",
    # experiments — policy test: tests/test_wave42.py
    # test_streaming_srm_equals_batch (streaming == batch
    # events_srm_check row-for-row; SRM_ORACLE verbatim)
    "streaming_srm_monitor",
    # experiments — policy test: tests/test_wave61.py
    # test_streaming_welch_equals_batch (streaming == batch
    # events_welch_ttest row-for-row; WELCH_ORACLE verbatim)
    "streaming_welch_monitor",
})
# The families the exclusions come from; used only by the meta-guard.
TRIPWIRE_HEAVY_PATTERNS = ("streaming_", "sim_ivf", "sim_pq", "dedup_embedding_indexed")


def test_tripwire_exclusions_are_exact():
    """Meta-guard on the exclusion list itself: every excluded name must
    exist in the registry (no stale entries), and every registry name
    matching a heavy-family pattern must be in the exact set — so a new
    sim_pq_* / streaming_* query cannot silently dodge the row-UDF
    tripwire; its author must consciously add it here AND give it a
    dedicated plan/policy test in the same commit."""
    from etl_neotel_sql_automation_spark.workload import queries as qreg

    names = set(qreg())
    stale = TRIPWIRE_EXCLUDED - names
    assert not stale, f"excluded names not in registry: {sorted(stale)}"
    pattern_matched = {
        n for n in names
        if n.startswith(TRIPWIRE_HEAVY_PATTERNS[0])
        or any(h in n for h in TRIPWIRE_HEAVY_PATTERNS[1:])
    }
    undocumented = pattern_matched - TRIPWIRE_EXCLUDED
    assert not undocumented, (
        f"heavy-family queries missing from TRIPWIRE_EXCLUDED (add them "
        f"explicitly with a dedicated plan test): {sorted(undocumented)}"
    )


def _tripwire_frames(registry_sf0001) -> dict:
    """The session's sf0.001 registry build outside TRIPWIRE_EXCLUDED:
    name -> frame. A query whose build raised fails the caller."""
    frames = {n: df for n, df in registry_sf0001.items() if n not in TRIPWIRE_EXCLUDED}
    failed = {n: repr(df) for n, df in frames.items() if isinstance(df, Exception)}
    assert not failed, failed
    return frames


def test_no_row_udfs_anywhere_in_registry(registry_sf0001):
    """REGISTRY-WIDE tripwire: no registered query may plan a
    row-at-a-time Python UDF (BatchEvalPython) — the §2.10 policy,
    enforced for every current and FUTURE query. Only the EXACT names
    in TRIPWIRE_EXCLUDED are skipped (guarded by
    test_tripwire_exclusions_are_exact)."""
    offenders = []
    for name, df in _tripwire_frames(registry_sf0001).items():
        if "BatchEvalPython" in df._jdf.queryExecution().executedPlan().toString():
            offenders.append(name)
    assert not offenders, offenders


def test_multimodal_is_arrow_not_rowudf(spark):
    plan = _plan(spark, "multimodal_features")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time would be the bug


@pytest.mark.parametrize("name", ["dedup_embedding_cosine", "sim_lsh_topk"])
def test_embedding_ops_have_no_allpairs_join(spark, name):
    """The registered embedding near-dup/ANN queries must go through
    LSH bucket equi-joins — an all-pairs (broadcast nested loop /
    cartesian) join is the 100 TB scale-killer the LSH path exists to
    avoid."""
    plan = _plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_margin_indexed_candidates_have_no_allpairs_join(spark):
    """Same no-all-pairs policy for the indexed margin miner, asserted
    on the PRE-checkpoint candidate frame (the registered query
    localCheckpoints it, which would hide the join shape behind a
    LogicalRDD scan)."""
    from etl_neotel_sql_automation_spark.workload.corpus_mining import (
        _margin_cand_frame,
    )

    plan = (
        _margin_cand_frame(spark, SF, materialize=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_near_dup_recall_vs_allpairs(spark):
    """Multi-table LSH candidates must recover ~all all-pairs near-dups
    (16 tables x 4 planes => expected recall ~0.92+ at threshold 0.35)
    and never invent a pair (exact-cosine filter => precision 1)."""
    from etl_neotel_sql_automation_spark.ops import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in S.cosine_near_dup_pairs(emb, 0.35).collect()}
    lsh = {(r.id_a, r.id_b) for r in S.lsh_near_dup_pairs(emb, 0.35).collect()}
    assert lsh <= exact  # precision 1.0: every emitted pair is a true pair
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.85


def test_range_join_is_equi_not_nlj(spark):
    """The banded range join must plan as an equi-join on (type, bucket);
    a BroadcastNestedLoopJoin would mean the banding got lost and the
    O(n^2) theta join came back."""
    plan = _plan(spark, "range_join_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_bench_headline_subset_of_registry(spark):
    import bench

    from etl_neotel_sql_automation_spark.workload import queries as qreg

    assert set(bench.HEADLINE) <= set(qreg()) | set(bench.EXTRA_QUERIES)
    assert len(qreg()) >= 77


def test_bench_ab_sets_take_query_names():
    """``bench.py --ab-sets`` takes a frozen-set name or a query name
    registered on either side (a one-query set); any other name raises
    instead of being skipped."""
    import bench

    old, new = {"q_old": None, "q_both": None}, {"q_both": None, "q_new": None}
    got = bench._ab_members(["stable27", "q_old", "q_new"], old, new)
    assert got == {
        "stable27": bench.FROZEN_SETS["stable27"], "q_old": ["q_old"], "q_new": ["q_new"],
    }
    with pytest.raises(ValueError, match="q_typo"):
        bench._ab_members(["q_both", "q_typo"], old, new)


@pytest.mark.parametrize(
    ("name", "n_pinned_dims"),
    [
        ("q3_top_unshipped", 0),          # no fixed dim in the query
        ("q5_region_volume", 2),          # nation + region
        ("q7_nation_volume", 2),          # nation x2
        ("q10_returned_items", 1),        # nation
        ("flagship_region_revenue", 2),   # nation + region
        ("q19_disjunctive_join", 0),      # part scales with SF -> unpinned
        ("q14_promo_share", 0),           # part scales with SF -> unpinned
        ("text_tfidf_top_terms", 0),      # vocab table grows at web scale
        ("events_retention_cohorts", 0),  # first_seen is user-sized
    ],
)
def test_no_forced_broadcast_of_scaling_tables(spark, name, n_pinned_dims):
    """With autoBroadcastJoinThreshold=-1 the optimizer never broadcasts
    on size, so any BroadcastExchange left in the initial plan is a
    pinned hint. Only fixed-cardinality dims (nation: 25 rows, region:
    5) may be pinned — customer/supplier/part grow with the scale
    factor and a pinned broadcast of them OOMs at 100 TB."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert plan.count("BroadcastExchange") == n_pinned_dims, plan


@pytest.mark.parametrize(
    ("name", "n_pinned_dims"),
    [
        ("q2_min_cost_supplier", 2),   # nation + region
        ("q9_product_profit", 1),      # nation
        # nation appears twice (the grouping-sets agg subtree is
        # duplicated across the per-part/total slices until runtime
        # stage reuse dedups it) + the 1-row global total
        ("q11_important_parts", 3),
        ("q16_supplier_cnt", 0),       # anti side scales with SF -> unpinned
        ("q20_excess_suppliers", 2),   # nation + region
    ],
)
def test_wave5_pinned_broadcasts_are_fixed_size_only(spark, name, n_pinned_dims):
    """Wave-5 queries pin broadcasts only on fixed-cardinality sides:
    nation/region, and q11's global total, which is 1 row by
    construction (an ungrouped aggregate slice of the grouping sets)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert plan.count("BroadcastExchange") == n_pinned_dims, plan


def test_wave5_join_shapes(spark):
    """The decorrelated shapes must survive planning: q16's NOT IN is an
    anti join, q20's nested INs are two semi joins, and neither falls
    back to a cartesian/nested-loop product. q11's only nested-loop is
    the intentional 1-row scalar-total cross join."""
    p16 = _plan(spark, "q16_supplier_cnt")
    assert "LeftAnti" in p16 and "CartesianProduct" not in p16
    p20 = _plan(spark, "q20_excess_suppliers")
    assert p20.count("LeftSemi") == 2 and "CartesianProduct" not in p20
    p11 = _plan(spark, "q11_important_parts")
    assert p11.count("BroadcastNestedLoopJoin") <= 1


# ---------------------------------------------------------------------------
# Registry-wide corpus-broadcast tripwire: no query may PIN a broadcast
# hint on a frame that scales with the corpus (documents / embeddings /
# events). Pinned hints defeat AQE's size-based fallback — the one
# remaining 100 TB scale-killer class per the r4 verdict.
# ---------------------------------------------------------------------------

_CORPUS_FILES = ("documents.parquet", "embeddings.parquet", "events.parquet")

# Queries allowed exactly N broadcast hints whose subtree reaches a
# corpus scan WITHOUT a structural bound the checker can see (ungrouped
# 1-row aggregate or a limit). Every entry must state why the hinted
# frame is bounded by CONSTRUCTION, not by luck:
CORPUS_HINT_ALLOWED = {
    # sample side is `vec_id < 1000` — bounded by the literal filter,
    # independent of corpus size (the estimator is a sample statistic)
    "emb_intrinsic_dim_two_nn": 1,
    # JL distortion meter: the pair self-join's right side is the
    # literal `vec_id < 40` sample (780 pairs at any corpus size)
    "emb_jl_distortion": 1,
    # centroid table is |label classes| x 64 dims — the label set is a
    # closed class vocabulary fixed by the labeling scheme, not data
    "emb_label_outliers": 1,
    # the direction vector is dim-sized (64 rows, keyed by component);
    # the 3 unrolled power-iteration steps NEST the per-step direction
    # hints (step k's plan contains steps 1..k-1), so the walker counts
    # each dim-sized hint at every nesting level it appears
    "emb_pca_power_iteration": 14,
    # per-dimension clip bounds: dim-sized (64 rows)
    "emb_quantile_clip_bounds": 1,
    # query-set side, bounded by a literal vec_id filter
    "sim_cosine_topk": 1,
    "sim_lsh_topk": 1,
    "sim_sq8_topk": 1,
    # df/idf table bounded by the |query|-term IN filter (3 rows)
    "text_bm25_topk": 1,
    # inherits both allowlisted shapes it composes: the bm25 df table
    # (3-row IN filter) and the dense probe side (vec_id = 0 literal)
    "sim_rrf_fusion": 2,
    # two brute-force legs, each broadcasting the literal-filtered
    # probe set (vec_id < 10) — the sim_cosine_topk shape twice
    "emb_matryoshka_recall": 2,
    # the Hamming scan broadcasts the literal-filtered packed query
    # set (vec_id < 5, two BIGINT words per row) — without the hint
    # the cross join planned as a 32x32 CartesianProduct that re-read
    # the corpus-side packing per partition pair (380 s -> 59 s at the
    # 100x probe)
    "emb_binary_hamming_topk": 1,
    "emb_binary_rerank_topk": 1,
    # the meters carry that Hamming-scan hint PLUS the brute-force
    # exact leg's query broadcast (also vec_id < 5), once each — the
    # pooled recall is an unpartitioned window over the per-query
    # frame (r7: the 1-row recall-pool subtree recomputed the whole
    # retrieval branch; the window is one pass)
    "emb_binary_quality": 2,
    "emb_binary_rerank_quality": 2,
    # the rank-metric layer and PR curve compose the same two
    # literal-bounded (vec_id < 5) hints — rerank's Hamming scan +
    # the exact leg — once each (pooled means are an unpartitioned
    # window over the per-query frame, not a 1-row-aggregate subtree)
    "emb_rerank_rank_metrics": 2,
    "emb_rerank_pr_curve": 2,
    # the sampled twins compose the same two hints over the md5-sampled
    # corpus (the sample filter sits under both scans — asserted by
    # test_rerank_sampled_filter_below_exact_leg)
    "emb_rerank_rank_metrics_sampled": 2,
    "emb_rerank_pr_curve_sampled": 2,
    # hashing-trick weight tables: <= 4096 rows by modulus, at any
    # corpus size (the whole point of the hashed production twin) —
    # the lookup join plus the target-count side of the lr build
    "quality_dsir_weights_hashed": 2,
    # hashed LM tables: <= 2048 (context) and <= 8192 (pair) rows by
    # moduli, at any corpus size
    "text_bigram_lm_hashed": 2,
    # Bloom word table: <= ceil(65536/60) = 1093 rows by modulus, at
    # any corpus size (the whole point of the bloom pre-filter)
    "decontam_bloom_prefilter": 1,
    "decontam_bloom_quality": 1,
    # count-min sketch: <= 4 x 1024 (r, b) cells by moduli, at any
    # corpus size (the whole point of the sketch)
    "text_heavy_hitters_cms": 1,
    # arm-total frame grouped by user_id % 2 — TWO rows by modulus at
    # any corpus size; joined back so the cluster sandwich terms see
    # their arm's (N, S) without a per-arm window over all users
    "events_cluster_robust_se": 1,
    # Rocchio feedback: three pins, all bounded by the literal
    # vec_id < 5 query set — the re-retrieval's 5-row updated-query
    # frame (rank <= 10 x 5 queries -> 64-dim rebuild), the initial
    # query broadcast NESTED inside it (the walker counts hints at
    # every nesting level, the emb_pca precedent), and the overlap
    # flag's second read of the initial list
    "sim_rocchio_feedback": 3,
}


def _is_corpus_scan(node, cls: str) -> bool:
    if cls != "LogicalRelation":
        return False
    try:
        paths = node.relation().location().rootPaths()
    except Exception:
        return False
    return any(
        any(c in paths.apply(i).toString() for c in _CORPUS_FILES)
        for i in range(paths.size())
    )


def _subtree_unbounded(node) -> bool:
    """True iff some path from node reaches a corpus scan without
    passing an ungrouped (1-row) Aggregate or a Limit."""
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate" and node.groupingExpressions().isEmpty():
        return False
    if cls in ("GlobalLimit", "LocalLimit"):
        return False
    if _is_corpus_scan(node, cls):
        return True
    ch = node.children()
    return any(_subtree_unbounded(ch.apply(i)) for i in range(ch.size()))


def count_corpus_pinned_broadcasts(df) -> int:
    """Number of broadcast ResolvedHints in the ANALYZED plan whose
    subtree scans a corpus-scaled table with no structural bound."""
    n = 0

    def rec(node):
        nonlocal n
        cls = node.getClass().getSimpleName()
        if cls == "ResolvedHint" and "broadcast" in node.hints().toString():
            ch = node.children()
            if any(_subtree_unbounded(ch.apply(i)) for i in range(ch.size())):
                n += 1
            # fall through: a hint nested under another hint is still
            # its own runtime broadcast — never mask it
        ch = node.children()
        for i in range(ch.size()):
            rec(ch.apply(i))

    rec(df._jdf.queryExecution().analyzed())
    return n


def test_corpus_broadcast_checker_detects_the_bug(spark):
    """Self-test of the checker: a DELIBERATELY pinned vocabulary
    broadcast (the exact bug class the r4 verdict flagged) must be
    caught, while the two legitimate pin shapes — a 1-row scalar
    aggregate and a limit-bounded top-k — must pass."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    vocab = tok.groupBy("term").agg(F.count("*").alias("n"))
    bad = tok.join(F.broadcast(vocab), "term")  # the r4 weak-set shape
    assert count_corpus_pinned_broadcasts(bad) == 1
    scal = docs.agg(F.count("*").alias("n_docs"))
    good1 = docs.crossJoin(F.broadcast(scal))  # 1-row scalar: fine
    assert count_corpus_pinned_broadcasts(good1) == 0
    topk = vocab.orderBy(F.desc("n"), "term").limit(10)
    good2 = tok.join(F.broadcast(topk), "term")  # k-bounded: fine
    assert count_corpus_pinned_broadcasts(good2) == 0


def test_no_pinned_corpus_broadcasts_registry_wide(registry_sf0001):
    """REGISTRY-WIDE: every registered query (current and future) is
    checked for pinned broadcasts of corpus-scaled frames. Only the
    EXACT names in CORPUS_HINT_ALLOWED may pin hints on frames the
    checker cannot prove bounded, each with a stated construction-level
    bound; everything else must have zero."""
    offenders = {}
    for name, df in _tripwire_frames(registry_sf0001).items():
        n = count_corpus_pinned_broadcasts(df)
        if n != CORPUS_HINT_ALLOWED.get(name, 0):
            offenders[name] = n
    assert not offenders, (
        f"pinned corpus-scaled broadcasts (got != allowed): {offenders}"
    )


@pytest.mark.parametrize(
    ("name", "n_bounded_lookups"),
    [("quality_dsir_weights_hashed", 1), ("text_bigram_lm_hashed", 2)],
)
def test_hashed_twins_have_no_vocab_shuffle_join(spark, name, n_bounded_lookups):
    """The hashing-trick twins' weight lookups must be broadcast joins
    of the modulus-bounded tables — with size-based broadcast disabled,
    any SortMergeJoin would mean a vocabulary-sized shuffle join crept
    back in (the exact-twin shape these queries exist to avoid)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= n_bounded_lookups


def test_corpus_hint_allowlist_is_exact():
    """Meta-guard: every allowlisted name must exist in the registry,
    so a renamed/removed query cannot leave a stale allowance behind."""
    from etl_neotel_sql_automation_spark.workload import queries as qreg

    stale = set(CORPUS_HINT_ALLOWED) - set(qreg())
    assert not stale, f"allowlisted names not in registry: {sorted(stale)}"


def test_grouped_map_shuffle_is_aqe_coalesce_exempt(spark):
    """The grouped-map Pandas stage must keep its parallelism: AQE's
    byte-based coalescing would serialize all groups through one
    Python worker (bytes are blind to Python-per-row cost), so the op
    pins a user-numbered keyed repartition — which AQE never
    coalesces — and the groupBy must reuse it (exactly one
    exchange)."""
    plan = _plan(spark, "pandas_grouped_outliers")
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Spark's runtime bloom-filter join pruning (on by default in this
    build) must inject a ``bloom_filter_agg``/``might_contain`` pair for
    a selective filtered-side join once the application-side scan
    crosses its size threshold. The thresholds default to 10 GB scans —
    exactly the 100 TB case — so the test scales them to the local
    fixture's bytes to prove the mechanism fires; production conf is
    untouched."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan or "PushedFilters: [" in scan
    # column pruning: the 4 unused lineitem columns must not be read
    read_schema = scan[scan.index("ReadSchema") :][:400]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema

def test_spread_if_starved_noop_on_multi_split_scan(spark, tmp_path):
    """The at-scale no-op claim of :func:`ops.dedup.fan_out`: when the
    corpus scan already yields >=
    defaultParallelism input partitions — the 100 TB case, where the
    file layout has thousands of splits — table() must add NO
    repartition exchange. Emulated locally by writing a >=cores-file
    parquet and pinning openCostInBytes high enough that split
    planning keeps one file per partition."""
    from etl_neotel_sql_automation_spark import workload as W

    cores = spark.sparkContext.defaultParallelism
    fix = str(tmp_path / "multi")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        cores * 2
    ).write.parquet(f"{fix}/documents.parquet")
    saved = spark.conf.get("spark.sql.files.openCostInBytes", None)
    # one file per split: openCost >> maxPartitionBytes defeats packing
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        df = W.table(spark, fix, "documents")
        assert df.rdd.getNumPartitions() >= cores
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "Repartition" not in analyzed, analyzed
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.files.openCostInBytes", saved)
        else:
            spark.conf.unset("spark.sql.files.openCostInBytes")


def test_spread_if_starved_spreads_single_file_scan(spark, tmp_path):
    """The local counterpart: a single-file (single-row-group) corpus
    scan yields one input partition, so table() must insert the
    repartition that un-serializes tokenize/hash pipelines (measured
    8x on the sf0.1 bigram-LM pass; see ops.dedup.fan_out)."""
    from etl_neotel_sql_automation_spark import workload as W

    cores = spark.sparkContext.defaultParallelism
    fix = str(tmp_path / "single")
    spark.read.parquet(f"{SF}/documents.parquet").coalesce(1).write.parquet(
        f"{fix}/documents.parquet"
    )
    df = W.table(spark, fix, "documents")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in analyzed, analyzed
    assert df.rdd.getNumPartitions() == cores


@pytest.mark.parametrize(
    "name", ["sim_margin_quality_sampled", "dedup_semantic_quality_sampled"]
)
def test_sampled_meters_filter_below_the_exact_join(spark, name):
    """The sampled quality meters' 100 TB claim: the md5 hash-sample
    filter must sit BELOW the exact leg's pair join (sample x corpus
    scanned, not corpus x corpus filtered after the fact). Every
    nested-loop/cartesian node in the physical plan must have an
    md5-sample Filter somewhere in its subtree — the deepest one IS
    the exact-leg join, so a filter floating above it fails here."""
    df = queries()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()

    def node_is_md5_filter(node):
        cls = node.getClass().getSimpleName()
        return cls == "Filter" and "md5" in node.simpleString(100)

    def subtree_has_md5_filter(node):
        if node_is_md5_filter(node):
            return True
        ch = node.children()
        return any(subtree_has_md5_filter(ch.apply(i)) for i in range(ch.size()))

    bad, seen = [], [0]

    def walk(node):
        cls = node.getClass().getSimpleName()
        # pair joins are the non-equi ones: Cross, or Inner with an
        # inequality-only condition (the id < id exact self-join)
        if cls == "Join" and " = " not in node.simpleString(100):
            seen[0] += 1
            if not subtree_has_md5_filter(node):
                bad.append(node.simpleString(100))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    assert seen[0] >= 1, "expected an exact-leg pair join in the plan"
    assert not bad, f"pair joins without the sample filter below: {bad}"


@pytest.mark.parametrize(
    "name",
    ["emb_rerank_rank_metrics_sampled", "emb_rerank_pr_curve_sampled"],
)
def test_rerank_sampled_filter_below_exact_leg(spark, name):
    """The rerank sampled twins' 100 TB claim (the r7 VERDICT item):
    the md5 hash-sample filter must sit BELOW every corpus-sized join
    — the exact brute-force leg and the Hamming candidate scan both
    rank only the sample, not the full corpus filtered after the
    fact. Every cross/non-equi join node in the optimized plan must
    have an md5-sample Filter somewhere in its subtree."""
    df = queries()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()

    def subtree_has_md5_filter(node):
        cls = node.getClass().getSimpleName()
        if cls == "Filter" and "md5" in node.simpleString(100):
            return True
        ch = node.children()
        return any(subtree_has_md5_filter(ch.apply(i)) for i in range(ch.size()))

    bad, seen = [], [0]

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "Join" and " = " not in node.simpleString(100):
            seen[0] += 1
            if not subtree_has_md5_filter(node):
                bad.append(node.simpleString(100))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    assert seen[0] >= 1, "expected a corpus-sized cross/theta join"
    assert not bad, f"joins without the sample filter below: {bad}"


def test_streaming_freshness_matches_batch_twin(spark):
    """Policy test for the streaming_type_freshness exclusion: the
    streaming-state freshness monitor must produce exactly the batch
    dq_freshness_sla rows (same feed lags, same SLA flags) — the
    cross-query consistency the oracle differential checks only
    engine-by-engine, not query-by-query."""
    from etl_neotel_sql_automation_spark.workload.wave7 import dq_freshness_sla
    from etl_neotel_sql_automation_spark.workload.wave10 import (
        streaming_type_freshness,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["lag_seconds"], r["sla_breach"])
        for r in streaming_type_freshness(spark, sf).collect()
    }
    want = {
        r["event_type"]: (r["lag_seconds"], r["sla_breach"])
        for r in dq_freshness_sla(spark, sf).collect()
    }
    assert got == want


# The nine analytics_sf01 benchmark queries, two passes in one fresh
# JVM: the compilations the second pass adds.
_WARM_PASS_COMPILES = """
import json, sys
from etl_neotel_sql_automation_spark.session import get_spark
from etl_neotel_sql_automation_spark.workload import queries

spark = get_spark(app_name="warm_mix", master="local[2]", shuffle_partitions=2)
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
qs = queries()
added = []
for _ in range(2):
    before = compiles.getCount()
    for name in sys.argv[2:]:
        qs[name](spark, sys.argv[1]).write.format("noop").mode("overwrite").save()
    added.append(compiles.getCount() - before)
print(json.dumps(added))
"""


def test_analytic_rerun_compiles_no_code(tmp_path):
    """The engine session's generated-code cache holds a warm query mix:
    these nine queries generate over 100 classes, Spark's default cache
    size, so at that size every pass recompiles about half of them. A
    second pass in the same JVM compiles nothing."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    names = [
        "q1_pricing_summary", "q3_top_unshipped", "agg_distinct_priority",
        "window_topk_per_priority", "json_events_extract", "sessionize_events",
        "etl_conform_conducta", "etl_conform_estados", "asof_events_orders",
    ]
    root = Path(__file__).resolve().parents[1]
    env = {**os.environ, "PYTHONPATH": str(root), "SPARK_DRIVER_MEMORY": "1g",
           "SPARK_LOCAL_DIRS": str(tmp_path)}
    proc = subprocess.run(
        [sys.executable, "-c", _WARM_PASS_COMPILES, SF, *names],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first > 100, (first, second)
    assert second == 0, (first, second)
