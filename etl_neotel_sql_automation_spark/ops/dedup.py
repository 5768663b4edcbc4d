"""Deduplication operators: exact, fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design (100 TB):

- exact/fingerprint dedup is a hash groupBy — one shuffle on the hash,
  map-side partial aggregation, no skew (hashes are uniform).
- MinHash-LSH finds near-dup *candidates* without any cross join: the
  only shuffles are the signature groupBy and the band-bucket groupBy;
  pair blowup is bounded by bucket sizes, and buckets are uniform by
  construction.
- exact Jaccard is reserved for verifying candidate pairs (or small
  blocked domains), never all-pairs.

Every variant is candidate generation (blocking, LSH, prefix filter)
followed by exact verification, and only the candidate stage differs.
The shared stages: :func:`shingles` (the distinct word n-grams of
``ops.text.ngrams``), :func:`overlap_pairs` (the exact set-overlap
self-join) and :func:`jaccard6` (the round-6 Jaccard every oracle
replays). One MinHash shape, :data:`NUM_HASHES` hashes in :data:`BANDS`
bands over :data:`SHINGLE_N`-word shingles, serves every LSH operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import HashFn, hash64
from .text import ngrams, normalize_text, tokens

NUM_HASHES = 32
BANDS = 8
SHINGLE_N = 3


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the session's cores when it has fewer
    partitions: size-based split planning cannot see per-row CPU work
    (tokenize, hash, dot products, explode), so one single-row-group
    parquet file would run the pipeline on one core (8x on the sf0.1
    bigram-LM pass). At scale the scan has more splits than cores and
    no exchange is added (tests/test_plans.py test_spread_if_starved_*).
    Uniform, not gated per query: a starved scan pays one extra pass
    over at most one row group (~0.25 s at sf0.1), a skipped one up to
    8x. Counting partitions plans ``df``; above a join AQE runs the
    broadcast stage as a Spark job, so apply it at the scan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by exact text: keeper id + multiplicity."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")
    )


def fingerprint_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup via normalized-text fingerprint."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(c, n: int = SHINGLE_N) -> F.Column:
    """Word n-gram shingle set (distinct) as array<string>."""
    return F.array_distinct(ngrams(tokens(c), n))


def overlap_pairs(elems: DataFrame) -> DataFrame:
    """Exact set overlap of every pair of sets sharing an element.

    Input: one row per distinct ``(id, el)``, plus an optional ``blk``
    column; pairs form only inside a block. Output: ``(id_a, id_b,
    n_inter, sz_a, sz_b)`` with id_a < id_b, the shared-element count
    and both set sizes. This is the uncapped postings self-join: an
    element held by k sets emits k^2/2 rows, so use it only on blocked
    or small domains; at scale the candidates come from LSH or
    :func:`jaccard_prefix_pairs`."""
    sizes = elems.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = elems.alias("a"), elems.alias("b")
    on = F.col("a.el") == F.col("b.el")
    if "blk" in elems.columns:
        on = on & (F.col("a.blk") == F.col("b.blk"))
    inter = (
        a.join(b, on & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a", "id_b", "n_inter", F.col("sa.sz").alias("sz_a"), F.col("sb.sz").alias("sz_b")
        )
    )


def jaccard6(n_inter: str, sz_a: str, sz_b: str) -> F.Column:
    """Jaccard from the named overlap and set-size columns, rounded to
    6 places: the rule ``round(n / (a + b - n), 6)`` every Jaccard
    oracle replays."""
    return F.round(F.col(n_inter) / (F.col(sz_a) + F.col(sz_b) - F.col(n_inter)), 6)


def _token_sets(df: DataFrame, text_col: str, id_col: str, block_col: str) -> DataFrame:
    """(id, blk, el): each document's distinct tokens, for overlap_pairs."""
    return fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.explode(F.array_distinct(tokens(text_col))).alias("el"),
    )


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
) -> DataFrame:
    """Exact token-set Jaccard for every pair *within a block*.

    Blocking keeps the pair count tractable (all-pairs Jaccard at 100 TB
    is impossible; within a block — source, domain, LSH bucket — it is a
    self-equi-join on token). Output: id_a < id_b, jaccard.
    """
    return overlap_pairs(_token_sets(df, text_col, id_col, block_col)).select(
        "id_a", "id_b", jaccard6("n_inter", "sz_a", "sz_b").alias("jaccard")
    )


_MERSENNE_P = (1 << 31) - 1  # prime modulus for the permutation family


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    h_i(x) = (a_i*x + b_i) mod p. Kept under 2^31 so a*x stays below
    2^62: no 64-bit overflow, hence ANSI-mode safe (overflow *throws*
    under ANSI, and without the mod the map would be order-preserving
    and every h_i would pick the same min shingle)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = "xxhash64",
) -> DataFrame:
    """MinHash signature per document. One explode + one groupBy —
    shuffle size is O(docs × NUM_HASHES), independent of pair count.

    Each shingle is hashed ONCE; the ``NUM_HASHES`` hash family is the
    standard linear-permutation trick h_i(x) = a_i*x + b_i over a 2^31
    prime modulus — 32 multiply-adds per shingle instead of 32 string
    hashes. Duplicate shingles are left in (min is
    duplicate-insensitive), saving the per-row array_distinct.

    ``hash_fn="md5"`` makes every signature bit-identical to the
    DuckDB oracle (see ops.hashing); ``xxhash64`` is the faster
    Spark-only production default.
    """
    coeffs = _minhash_coeffs(NUM_HASHES)
    raw_shingles = ngrams(tokens(F.col(text_col)), SHINGLE_N)
    sh = fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(raw_shingles).alias("sh")
    ).select("id", F.pmod(hash64("sh", hash_fn), F.lit(_MERSENNE_P)).alias("h"))
    mins = sh.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return mins.select(
        "id", F.array(*[f"h{s}" for s in range(NUM_HASHES)]).alias("signature")
    )


def banded_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) rows from banded MinHash signatures — the
    join key surface of LSH. Factored out so self-dedup
    (:func:`minhash_lsh_candidates`) and incremental new-vs-corpus
    dedup (:func:`incremental_dedup`) share one signature pipeline."""
    rows_per_band = NUM_HASHES // BANDS
    sig = minhash_signatures(df, text_col, id_col, hash_fn)
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    hash64(
                        F.concat_ws(",", F.slice("signature", b * rows_per_band + 1, rows_per_band)),
                        hash_fn,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    Signature is cut into ``BANDS`` bands of ``NUM_HASHES // BANDS``
    rows; documents sharing any band hash become a candidate pair.
    Output: id_a < id_b, n_bands (how many bands matched).
    """
    banded = banded_buckets(df, text_col, id_col, hash_fn)
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.id") < F.col("y.id")))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    hash_fn: HashFn = "xxhash64",
) -> DataFrame:
    """Dedup a NEW batch against a historical corpus — the production
    shape at 100 TB, where re-deduping the corpus daily is impossible:
    only new-vs-corpus work happens, never corpus-vs-corpus.

    Verdict per new doc, in precedence order:

    - ``exact_dup``  — normalized fingerprint already in the corpus
      (left-semi join on md5; the corpus side reduces to distinct
      fingerprints).
    - ``near_dup``   — a banded-MinHash candidate in the corpus whose
      exact token Jaccard >= ``threshold``; ``match_id``/``jaccard``
      report the best match (highest Jaccard, lowest corpus id).
    - ``unique``     — everything else.

    The LSH bucket join is new-side x corpus-side only; exact Jaccard
    runs on candidate pairs, never all pairs. In a deployed pipeline
    the corpus signatures/buckets are computed once and PERSISTED
    (append-only) — they are recomputed here only so the operator is
    self-contained over the test tables.
    """
    fp_new = new_df.select(
        F.col(id_col).alias("id"), F.md5(normalize_text(text_col)).alias("fp")
    )
    fp_corp = corpus_df.select(F.md5(normalize_text(text_col)).alias("fp")).distinct()
    exact_ids = fp_new.join(fp_corp, "fp", "left_semi").select("id")

    surv = new_df.join(
        exact_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    bn = banded_buckets(surv, text_col, id_col, hash_fn)
    bc = banded_buckets(corpus_df, text_col, id_col, hash_fn)
    cand = (
        bn.alias("x")
        .join(
            bc.alias("y"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(F.col("x.id").alias("new_id"), F.col("y.id").alias("corp_id"))
        .dropDuplicates(["new_id", "corp_id"])
    )

    tok_new = surv.select(
        F.col(id_col).alias("nid"), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    tok_corp = corpus_df.select(
        F.col(id_col).alias("cid"), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    sz_new = tok_new.groupBy("nid").agg(F.count("*").alias("sz_n"))
    sz_corp = tok_corp.groupBy("cid").agg(F.count("*").alias("sz_c"))
    inter = (
        cand.join(tok_new, cand.new_id == tok_new.nid)
        .join(tok_corp, (cand.corp_id == tok_corp.cid) & (tok_new.tok == tok_corp.tok))
        .groupBy("new_id", "corp_id")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sz_new, inter.new_id == sz_new.nid)
        .join(sz_corp, inter.corp_id == sz_corp.cid)
        .select(
            "new_id",
            "corp_id",
            jaccard6("n_inter", "sz_n", "sz_c").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window as W

    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("new_id").orderBy(F.desc("jaccard"), "corp_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    exact_flag = exact_ids.withColumn("is_exact", F.lit(True))
    return (
        new_df.select(F.col(id_col).alias("doc_id"))
        .join(exact_flag.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("corp_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.when(F.col("is_exact").isNull(), F.col("corp_id")).alias("match_id"),
            F.when(F.col("is_exact").isNull(), F.col("jaccard")).alias("jaccard"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, hash_fn: HashFn = "xxhash64") -> DataFrame:
    """SimHash per document from 64-bit token hashes.

    Explodes tokens once, then computes one signed-sum per bit position
    as ``bits`` map-side-combinable aggregates — no per-pair work;
    Hamming distance between signatures is a cheap post-join
    ``bit_count(a ^ b)``. With ``hash_fn="md5"`` use ``bits=60`` (the
    md5-derived value carries 60 bits of entropy; see ops.hashing).
    """
    tok = fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).select("id", hash64("tok", hash_fn).alias("h"))
    aggs = [
        F.sum(
            (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("id").agg(*aggs)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig + term
    return sums.select("id", sig.alias("simhash"))


def token_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    threshold: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC containment dedup: pairs where the SMALLER document's
    token set is (nearly) contained in the larger's —
    |A ∩ B| / |A| >= threshold with |A| <= |B|. Catches the crawl
    shape Jaccard misses: page vs page-with-boilerplate-footer, quote
    vs quoting article, excerpt vs full text — the union-normalized
    Jaccard of a true subset can be arbitrarily low while containment
    is 1.0. Same blocked self-equi-join + per-pair count plan as
    :func:`token_jaccard_pairs` (at 100 TB the block is an LSH bucket);
    output: contained_id, container_id, containment (round 6)."""
    j = overlap_pairs(_token_sets(df, text_col, id_col, block_col))
    # the smaller token set is the contained side; ties -> lower id
    small_first = F.col("sz_a") <= F.col("sz_b")
    contained = F.when(small_first, F.col("id_a")).otherwise(F.col("id_b"))
    container = F.when(small_first, F.col("id_b")).otherwise(F.col("id_a"))
    denom = F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        j.select(
            contained.alias("contained_id"),
            container.alias("container_id"),
            F.round(F.col("n_inter") / denom, 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    num: int = 1,
    den: int = 2,
    gram_n: int = 1,
    materialize: bool = False,
) -> DataFrame:
    """Prefix-filtered exact Jaccard threshold join (AllPairs / PPJoin
    family, Chaudhuri et al. 2006 / Xiao et al. 2008) — the set-
    similarity join that does NOT enumerate every overlapping pair.

    Threshold t = num/den is a rational so every bound below is exact
    integer arithmetic on both engines. The prefix-filtering principle:
    order all tokens by a global total order (ascending document
    frequency, token string tiebreak); if Jaccard(A, B) >= t then
    |A∩B| >= ceil(t*|A|), and the smallest shared token must sit within
    the first |A| - ceil(t*|A|) + 1 tokens of A AND the first
    |B| - ceil(t*|B|) + 1 tokens of B (the elements of A before the
    smallest shared token are all outside A∩B). So the candidate join
    only touches PREFIX rows — with df-ascending order the prefixes are
    the rarest tokens, whose posting lists are shortest, which is why
    the candidate count collapses versus the full inverted-index join
    of :func:`token_jaccard_pairs`.

    NO FALSE NEGATIVES (the lemma is necessary, not heuristic) and the
    verify stage recomputes the exact intersection per candidate from
    the per-document token arrays — so the output provably equals the
    plain exact threshold join, and the registered query shares the
    brute-force oracle verbatim (the decontam_bloom_prefilter precedent:
    the optimization is output-invariant, the differential check proves
    semantics while a Spark-side invariance test pins the equality).

    At 100 TB: the df table is a token-keyed aggregate (combinable),
    the per-document ranking is a doc-partitioned window (no global
    sort — prefix selection needs each document's OWN tokens ordered by
    the global key, not a global dense rank), the candidate join is a
    blocked self-equi-join on (block, token) over prefix rows only, and
    verification joins the candidate list against bounded per-document
    token arrays. A length filter (t*|A| <= |B| <= |A|/t) prunes
    mismatched-size pairs before verification.
    """
    from pyspark.sql import Window as W

    # the set elements: word unigrams (gram_n=1) or word n-gram
    # shingles — shingles are the near-dup domain MinHash estimates,
    # and on a SMALL-vocabulary corpus they are also what keeps prefix
    # filtering effective: unigram posting lists are all hot when the
    # vocabulary is tiny, shingle dfs stay small
    set_expr = (
        F.array_distinct(tokens(text_col))
        if gram_n <= 1
        else shingles(text_col, gram_n)
    )
    # block_col=None runs the join UNBLOCKED — prefix filtering is
    # itself the candidate bound (pairs only form on shared RARE
    # elements), which is the whole point of the AllPairs family:
    # no blocking key needed to stay sub-quadratic
    blk = F.col(block_col) if block_col is not None else F.lit(0)
    # the candidate machinery joins/aggregates on an 8-byte xxhash64
    # of the element, not the string: at 100x the string shuffle was
    # the probe's superlinear term (26M multi-word shingles), and
    # hashing costs nothing semantically — equal strings hash equal
    # (no false negatives), hash collisions only ADD candidates that
    # exact verification removes, and the df-order stays one global
    # total order. The string itself never reaches a shuffle.
    # r12 MEASURED AND DECLINED (guide §1): deriving sz from
    # F.size(set_expr) instead of the count(*)-over-id window looked
    # like a free Window-pass deletion, but it regressed the 3-gram
    # shingle domain 1.71x in a same-session A/B (3.39 -> 5.81 s,
    # dedup_jaccard_prefix) and was flat on the unigram domain (0.99,
    # dedup_token_jaccard): naming the set array forces it to
    # MATERIALIZE as a row value (plus an InferFiltersFromGenerate
    # size()>0 re-evaluation at the scan), where the bare
    # explode(set_expr) form streams the generator output and the
    # second window rides the rn window's existing exchange+sort.
    # The two-window form stays.
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.explode(set_expr).alias("tok_s"),
    ).select("id", "blk", F.xxhash64("tok_s").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("dfreq"))
    order = W.partitionBy("id").orderBy(F.col("dfreq").asc(), F.col("tok").asc())
    whole = W.partitionBy("id")
    pos = (
        tok.join(dfreq, "tok")
        .select(
            "id",
            "blk",
            "tok",
            F.row_number().over(order).alias("rn"),
            F.count("*").over(whole).alias("sz"),
        )
    )
    # prefix length = sz - ceil(t*sz) + 1, ceil exact in integers.
    # The self-join below consumes pref twice; which side of the
    # recompute-vs-materialize trade wins is SHAPE-DEPENDENT, so it is
    # a knob: for the 3-gram shingle domain (dedup_jaccard_prefix) a
    # localCheckpoint measured SLOWER (8.3 s vs 5.5 s at sf0.1 — the
    # two alias subtrees recompute in parallel on idle cores while a
    # checkpoint serializes the pipeline), but for the unigram
    # source-blocked domain the cluster family rides (r10 VERDICT #1)
    # the checkpoint measured ~2x FASTER (6.0 s vs 3.2 s warm at
    # sf0.1: the df-join + double-window subtree is the dominant cost
    # there and is worth materializing once). At cluster scale with
    # busy executors, checkpoint() the prefix frame instead.
    pref = pos.filter(
        F.col("rn")
        <= F.col("sz") - F.expr(f"({num} * sz + {den - 1}) div {den}") + 1
    )
    if materialize:
        pref = pref.localCheckpoint()
    a, b = pref.alias("a"), pref.alias("b")
    # positional filter (PPJoin): Jaccard >= t needs overlap
    # o = ceil(t*(|A|+|B|)/(1+t)); a match at prefix positions (i, j)
    # can be the pair's FIRST shared element only if the elements at
    # or after it could still reach o: 1 + min(|A|-i, |B|-j) >= o.
    # The first shared element always satisfies this when the pair
    # truly qualifies (every shared element sits at or after it in
    # both documents), so dropping occurrences that fail it loses no
    # qualifying pair — but it kills the late-prefix-only matches
    # that dominate the candidate blowup at low thresholds
    # (measured at sf0.1, t=1/2: 310k -> 125k candidates,
    # warm wall 5.5 -> 3.5 s).
    # Integer form of x >= ceil(y/z): x*z >= y.
    positional = (
        (1 + F.least(F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")))
        * (num + den)
        >= num * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: Jaccard >= t forces t <= |A|/|B| <= 1/t
            & (F.col("b.sz") * den >= F.col("a.sz") * num)
            & (F.col("a.sz") * den >= F.col("b.sz") * num)
            & positional,
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = df.select(F.col(id_col).alias("id"), set_expr.alias("toks"))
    va = sets.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    vb = sets.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("toks_a").alias("sza"),
            F.size("toks_b").alias("szb"),
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
        )
    )
    # threshold test in exact integers: n_inter/|union| >= num/den
    return scored.filter(
        F.col("n_inter") * den
        >= num * (F.col("sza") + F.col("szb") - F.col("n_inter"))
    ).select("id_a", "id_b", jaccard6("n_inter", "sza", "szb").alias("jaccard"))
