"""LLM-data-pipeline workloads over ``documents`` / ``embeddings``:
dedup (exact, fingerprint, Jaccard, MinHash-LSH, SimHash), text
analysis, similarity search.

Every registered query here carries a DuckDB oracle. The hash-based
ops (MinHash, SimHash, winnowing, hyperplane LSH) achieve this by
running on the md5-derived cross-engine hash (ops.hashing) instead of
Spark-only xxhash64, so the oracle replays the exact same pipeline —
signatures, buckets, candidate pairs — bit-identically in SQL. The
operators keep ``hash_fn="xxhash64"`` as the faster production default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import dedup as D
from ..ops import similarity as S
from ..ops import text as X
from ..ops.dedup import _MERSENNE_P, _minhash_coeffs
from ..ops.hashing import md5_long, sql_md5_long
from . import _SQL_QV, _SQL_TOKS, query, table


def _minhash_oracle() -> str:
    """DuckDB twin of ops.dedup.minhash_lsh_candidates(hash_fn="md5"):
    same shingles, same md5-derived base hash, same (a,b) permutation
    coefficients (both sides generate them from random.Random(42)),
    same banded bucket hash — candidates match bit-for-bit."""
    return f"""
    WITH {_minhash_band_ctes("doc_id AS id", "documents", "", 12)}
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    GROUP BY a.id, b.id
    """


def _minhash_band_ctes(id_expr: str, src: str, pfx: str, indent: int) -> str:
    """CTE chain (shingle -> md5 hash -> signature -> band rows) over the
    source ``src``, whose row id is ``id_expr``; the DuckDB twin of
    ops.dedup.banded_buckets(hash_fn="md5"), bit for bit. ``pfx``
    prefixes the CTE names so two chains can share one query, and
    ``indent`` is the signature CTE's continuation indent."""
    p = _MERSENNE_P
    r = D.NUM_HASHES // D.BANDS
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(D.NUM_HASHES))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT id, {band} AS band, {bucket} AS bucket FROM {pfx}sig".format(
            band=b,
            pfx=pfx,
            bucket=sql_md5_long(
                "concat_ws(',', " + ", ".join(f"h{b * r + j}" for j in range(r)) + ")"
            ),
        )
        for b in range(D.BANDS)
    )
    return f"""{pfx}t AS (SELECT {id_expr}, {_SQL_TOKS} AS toks FROM {src}),
    {pfx}sh0 AS (
      SELECT id, unnest(CASE WHEN len(toks) >= {D.SHINGLE_N} THEN
          list_transform(range(1, greatest(len(toks) - {D.SHINGLE_N - 1}, 0) + 1),
                         i -> array_to_string(list_slice(toks, i, i + {D.SHINGLE_N - 1}), ' '))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM {pfx}t
    ),
    {pfx}sh AS (SELECT id, {sql_md5_long("sh")} % {p} AS h FROM {pfx}sh0),
    {pfx}sig AS (SELECT id, {mins}
{" " * indent}FROM {pfx}sh GROUP BY id),
    {pfx}bands AS ({band_rows})"""


def _simhash_oracle(bits: int = 60) -> str:
    """DuckDB twin of ops.dedup.simhash(hash_fn="md5", bits=60)."""
    sums = ",\n             ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {i})"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (SELECT doc_id AS id, unnest({_SQL_TOKS}) AS tok FROM documents),
    h AS (SELECT id, {sql_md5_long("tok")} AS h FROM tok),
    sums AS (SELECT id, {sums}
             FROM h GROUP BY id)
    SELECT id, CAST({sig} AS BIGINT) AS simhash FROM sums
    """


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY text
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.exact_groups(docs).select("keep_id", "n_dups")


@query(
    "dedup_fingerprint_docs",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fingerprint_groups(table(spark, sf_dir, "documents"))


@query(
    "dedup_token_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, source AS blk, unnest(list_distinct({_SQL_TOKS})) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.blk = b.blk AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE n_inter * 2 >= (sa.sz + sb.sz - n_inter)
    """,
)
def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-blocked exact token Jaccard at threshold 1/2 via the
    prefix-filtered (AllPairs/PPJoin) candidate path — r10 VERDICT #1:
    the old form enumerated EVERY overlapping pair inside a source
    block through an exact token-postings self-join, and a source
    block grows with the corpus, so head-token candidates grew
    quadratically at 100x. Prefix filtering bounds candidates by the
    threshold structure itself (pairs must share a RARE token inside
    both prefixes, plus positional + length pruning), and the lemma
    has no false negatives, so the output provably equals the brute
    thresholded join the oracle runs. The unthresholded all-pairs
    listing remains available as ops.dedup.token_jaccard_pairs for
    bounded blocks."""
    return D.jaccard_prefix_pairs(
        table(spark, sf_dir, "documents"),
        block_col="source", num=1, den=2, gram_n=1, materialize=True,
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, source AS blk, unnest(list_distinct({_SQL_TOKS})) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
    inter AS (
      SELECT a.id AS id_x, b.id AS id_y, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.blk = b.blk AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    scored AS (
      SELECT CASE WHEN sx.sz <= sy.sz THEN id_x ELSE id_y END AS contained_id,
             CASE WHEN sx.sz <= sy.sz THEN id_y ELSE id_x END AS container_id,
             round(n_inter / least(sx.sz, sy.sz), 6) AS containment
      FROM inter
      JOIN sizes sx ON id_x = sx.id
      JOIN sizes sy ON id_y = sy.id
    )
    SELECT contained_id, container_id, containment
    FROM scored WHERE containment >= 0.7
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup — the crawl shape Jaccard misses:
    an excerpt fully inside a longer page scores containment 1.0 while
    its union-normalized Jaccard can be arbitrarily low. Smaller token
    set is the contained side; blocked self-equi-join, same plan
    family as the Jaccard pairs (see ops.dedup.token_containment_pairs
    for the 100 TB blocking note)."""
    return D.token_containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.7
    )


_FP_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


def _incremental_oracle(threshold: float = 0.5) -> str:
    # each chain opens on a new line, after a blank one
    n_bands, c_bands = (
        f"\n    {_minhash_band_ctes('id', src, pfx, 17)}" for src, pfx in (("surv", "n_"), ("corp", "c_"))
    )
    return f"""
    WITH newd AS (SELECT doc_id AS id, text FROM documents WHERE source = 'src0'),
    corp AS (SELECT doc_id AS id, text FROM documents WHERE source <> 'src0'),
    nfp AS (SELECT id, {_FP_SQL} AS fp FROM newd),
    cfp AS (SELECT DISTINCT {_FP_SQL} AS fp FROM corp),
    exact AS (SELECT id FROM nfp WHERE fp IN (SELECT fp FROM cfp)),
    surv AS (SELECT * FROM newd WHERE id NOT IN (SELECT id FROM exact)),
    {n_bands},
    {c_bands},
    cand AS (
      SELECT DISTINCT a.id AS new_id, b.id AS corp_id
      FROM n_bands a JOIN c_bands b
        ON a.band = b.band AND a.bucket = b.bucket
    ),
    tok_n AS (SELECT id, unnest(list_distinct({_SQL_TOKS})) AS tok FROM surv),
    tok_c AS (SELECT id, unnest(list_distinct({_SQL_TOKS})) AS tok FROM corp),
    szn AS (SELECT id, count(*) AS sz FROM tok_n GROUP BY id),
    szc AS (SELECT id, count(*) AS sz FROM tok_c GROUP BY id),
    inter AS (
      SELECT c.new_id, c.corp_id, count(*) AS n_inter
      FROM cand c
      JOIN tok_n a ON a.id = c.new_id
      JOIN tok_c b ON b.id = c.corp_id AND a.tok = b.tok
      GROUP BY c.new_id, c.corp_id
    ),
    scored0 AS (
      SELECT new_id, corp_id,
             round(n_inter / (szn.sz + szc.sz - n_inter), 6) AS jaccard
      FROM inter
      JOIN szn ON new_id = szn.id
      JOIN szc ON corp_id = szc.id
    ),
    scored AS (SELECT * FROM scored0 WHERE jaccard >= {threshold}),
    best AS (
      SELECT new_id, corp_id, jaccard,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, corp_id) AS rn
      FROM scored
    )
    SELECT n.id AS doc_id,
           CASE WHEN e.id IS NOT NULL THEN 'exact_dup'
                WHEN b.new_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           CASE WHEN e.id IS NULL THEN b.corp_id END AS match_id,
           CASE WHEN e.id IS NULL THEN b.jaccard END AS jaccard
    FROM newd n
    LEFT JOIN exact e ON n.id = e.id
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.id = b.new_id
    """


@query("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch-vs-corpus dedup (src0 plays the daily
    batch; the other sources the historical corpus): fingerprint
    left-semi for exact dups, banded-MinHash bucket join NEW x CORPUS
    only (never corpus x corpus — the property that makes daily dedup
    of a 100 TB corpus feasible), exact-Jaccard verification of
    candidates, best-match verdict per new doc. Runs on the md5
    cross-engine hash; the oracle replays the whole pipeline
    bit-identically."""
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == "src0")
    corp = docs.filter(F.col("source") != "src0")
    return D.incremental_dedup(new, corp, hash_fn="md5")


@query("dedup_minhash_candidates", oracle=_minhash_oracle())
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates on the cross-engine md5 hash —
    the DuckDB oracle replays signatures + banding bit-identically."""
    return D.minhash_lsh_candidates(table(spark, sf_dir, "documents"), hash_fn="md5")


@query(
    "dedup_minhash_quality",
    oracle=f"""
    WITH sh0 AS (
      SELECT doc_id AS id,
             unnest(CASE WHEN len({_SQL_TOKS}) >= 3 THEN
                 list_distinct(list_transform(
                     range(1, greatest(len({_SQL_TOKS}) - 2, 0) + 1),
                     i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 2), ' ')))
                 ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS sz FROM sh0 GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh0 a JOIN sh0 b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    truth AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
      WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
    ),
    cand AS (
      SELECT id_a, id_b FROM ({_minhash_oracle()})
    )
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM truth JOIN cand USING (id_a, id_b)) AS n_hit,
           CAST(floor((SELECT count(*) FROM truth JOIN cand USING (id_a, id_b))
                      * 1000000.0
                      / greatest((SELECT count(*) FROM truth), 1)) AS BIGINT)
             AS recall_ppm
    """,
)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stack's QUALITY METER, itself differentially checked:
    MinHash-LSH candidate pairs scored against exact SHINGLE-Jaccard
    ground truth (>= 0.5, global — matching the sketch's set family
    and bucket scope) — true-pair count,
    candidate count, hits, and recall in floor-ppm. This is the number
    you watch when tuning (num_hashes, bands) on a new corpus; both
    engines replay candidates AND truth bit-identically, so the meter
    itself can't drift. (Precision is intentionally absent: LSH
    candidates are a superset by design; the exact verify stage owns
    precision.)"""
    docs = table(spark, sf_dir, "documents")
    # ground truth in SHINGLE space — the set family MinHash actually
    # sketches (token-set Jaccard is a different, laxer similarity) —
    # and GLOBAL, because the LSH buckets are global (no source blocks)
    sh = docs.select(F.col("doc_id").alias("id"), F.explode(D.shingles("text", 3)).alias("el"))
    truth = (
        D.overlap_pairs(sh)
        .filter(D.jaccard6("n_inter", "sz_a", "sz_b") >= 0.5)
        .select("id_a", "id_b")
    )
    cand = D.minhash_lsh_candidates(docs, hash_fn="md5").select("id_a", "id_b")
    hits = truth.join(cand, ["id_a", "id_b"])
    return (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(cand.agg(F.count("*").alias("n_cand")))
        .crossJoin(hits.agg(F.count("*").alias("n_hit")))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.floor(
                F.col("n_hit") * 1_000_000.0
                / F.greatest(F.col("n_true"), F.lit(1))
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash on the cross-engine md5 hash (differentially
    checked; production default stays 64-bit xxhash64)."""
    return D.simhash(table(spark, sf_dir, "documents"), bits=60, hash_fn="md5")


_CLUSTER_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id AS id, source AS blk, unnest(list_distinct({_SQL_TOKS})) AS tok
  FROM documents
),
sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
),
edges0 AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.id
  JOIN sizes sb ON id_b = sb.id
  WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION ALL SELECT id_b, id_a FROM edges0
),
reach AS (
  SELECT doc_id AS id, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id,
       CAST(id = min(lbl) AS BOOLEAN) AS is_keeper
FROM reach GROUP BY id
"""


@query("dedup_clusters", oracle=_CLUSTER_ORACLE)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — candidate pairs (token-Jaccard >= 0.5
    within source blocks) resolved into connected components via
    iterative min-label propagation (ops.graph), each doc labeled with
    its cluster id (min doc id) and a keeper flag. The oracle computes
    the same components with a recursive CTE — a genuinely iterative,
    non-single-query operator differentially checked end-to-end.

    Candidate pairs come from the prefix-filtered threshold join
    (r10 VERDICT #1): identical output to the brute token-postings
    join at threshold 0.5 (prefix-filtering lemma — no false
    negatives, exact verification), but candidates stay bounded as a
    source block grows with the corpus."""
    from ..ops import graph as G

    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_prefix_pairs(
        docs, block_col="source", num=1, den=2, gram_n=1, materialize=True
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return G.dedup_clusters(nodes, pairs)


_CANONICAL_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id AS id, source AS blk, unnest(list_distinct({_SQL_TOKS})) AS tok
  FROM documents
),
sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
),
edges0 AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.id
  JOIN sizes sb ON id_b = sb.id
  WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION ALL SELECT id_b, id_a FROM edges0
),
reach AS (
  SELECT doc_id AS id, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id
),
clusters AS (
  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
ranked AS (
  SELECT c.doc_id, c.cluster_id,
         CAST(length(d.text) AS INTEGER) AS n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(d.text) DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id, n_chars, CAST(rn = 1 AS BOOLEAN) AS is_canonical
FROM ranked
"""


@query("dedup_canonical_docs", oracle=_CANONICAL_ORACLE)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME: candidate pairs (token-Jaccard >= 0.5 within
    source blocks) -> connected components -> per-cluster survivor
    selection by QUALITY (longest text wins, min doc id tie-break)
    instead of the arbitrary min-id keeper — "among near-dups, keep the
    best copy", the policy production training-data pipelines deploy.
    Differentially checked end-to-end against a recursive-CTE + argmax
    oracle. Candidate pairs ride the prefix-filtered threshold join
    (r10 VERDICT #1) — provably the same pairs as the brute
    token-postings join at 0.5, without its quadratic-in-block
    candidate growth."""
    from ..ops import graph as G

    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_prefix_pairs(
        docs, block_col="source", num=1, den=2, gram_n=1, materialize=True
    )
    nodes = docs.select(
        F.col("doc_id").alias("id"), F.length("text").cast("int").alias("n_chars")
    )
    return G.canonical_docs(nodes, pairs, quality_col="n_chars")


_SQL_STOPS = "('" + "','".join(X.STOPWORDS) + "')"
_SQL_NTOK = f"len({_SQL_TOKS})"
_SQL_NSTOP = f"len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOPS}))"
_SQL_PUNCT = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    " / length(text) ELSE 0.0 END"
)


def _sql_markers(lang: str) -> str:
    return "('" + "','".join(X.LANG_MARKERS[lang]) + "')"


@query(
    "text_analyze_docs",
    oracle=f"""
    SELECT doc_id,
           CAST({_SQL_NTOK} AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{X.BPE_RE}')) AS INTEGER) AS n_bpe_tokens,
           CAST(length(text) AS INTEGER) AS n_chars,
           round(CASE WHEN {_SQL_NTOK} > 0
                      THEN {_SQL_NSTOP} / {_SQL_NTOK} ELSE 0.0 END, 6) AS stopword_ratio,
           round({_SQL_PUNCT}, 6) AS punct_ratio,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def text_analyze_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.round(X.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
        X.fingerprint_md5("text").alias("fingerprint"),
    )


@query(
    "text_normalize_docs",
    oracle=f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 translate(lower(text), '{X._ACCENTS_FROM.lower()}',
                                        '{X._ACCENTS_TO.lower()}'),
                 '[^a-z0-9 ]', '', 'g'),
               '\\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id, md5(norm) AS norm_md5,
           CAST(length(norm) AS INTEGER) AS n_chars_norm
    FROM n
    """,
)
def text_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggressive pre-shingling text canonicalization (lowercase,
    accent fold, punctuation strip, whitespace collapse) — the
    normalizer that makes case/punctuation/accent variants of the same
    text collide in every downstream dedup modality. Pure codegen; the
    oracle replays the identical translate/regexp chain, proving the
    normalized fingerprints are cross-engine stable."""
    docs = table(spark, sf_dir, "documents")
    norm = X.normalize_for_dedup("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("int").alias("n_chars_norm"),
    )


@query(
    "text_langid_docs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})) AS s_en,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})) AS s_es,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})) AS s_fr,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")})) AS s_de
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'en'
                WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                ELSE 'de' END AS lang_pred
    FROM scored
    """,
)
def text_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.lang_id("text").alias("lang_pred"))


@query(
    "text_lang_mismatch",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})) AS s_en,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})) AS s_es,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})) AS s_fr,
             len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")})) AS s_de
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang, source,
             CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'en'
                  WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                  WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                  ELSE 'de' END AS lang_pred
      FROM scored
    )
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch
    FROM pred GROUP BY source, lang
    """,
)
def text_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-label AUDIT: per (source, declared-lang) cell, how many
    documents the n-gram language-ID disagrees with — mislabeled
    language is one of the most common corpus-metadata bugs, and a
    per-source mismatch spike localizes which feed's labeling broke.
    Composes the proven lang_id heuristic with a conditional aggregate;
    one scan, one combinable groupBy."""
    docs = table(spark, sf_dir, "documents")
    pred = docs.select(
        "source", "lang", X.lang_id("text").alias("lang_pred")
    )
    return pred.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("lang_pred") != F.col("lang")).cast("long")).alias("n_mismatch"),
    )


@query(
    "emb_duplicate_vectors",
    oracle="""
    WITH seeded AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    q AS (
      SELECT vec_id,
             md5(array_to_string(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')) AS vh
      FROM seeded
    )
    SELECT vh, count(*) AS n_vecs, min(vec_id) AS keep_id
    FROM q GROUP BY vh HAVING count(*) > 1
    """,
)
def emb_duplicate_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-pipeline collapse detector: EXACT duplicate vectors
    across different rows (an encoder bug, a stuck batch, or a default
    vector leaking through) found by hashing the micro-quantized
    vector — round(x*1e6) integer strings, so float formatting can
    never split a true dup across engines. Groups with n>1 are the
    incident list. One codegen projection + one hash aggregate — the
    same shape (and cost) as exact text dedup. The random testdata has
    no natural dups, so both engines seed the same planted ones
    (every 50th vector re-emitted under a shifted id) — the seeded-
    fixture pattern the PII and URL queries established."""
    emb0 = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = emb0.unionByName(
        emb0.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    vh = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                S._to_double("embedding"),
                lambda x: F.round(x * 1_000_000).cast("long").cast("string"),
            ),
        )
    )
    return (
        emb.select("vec_id", vh.alias("vh"))
        .groupBy("vh")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("keep_id"))
        .filter(F.col("n_vecs") > 1)
    )


@query(
    "sample_hash_stratified",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE {sql_md5_long("concat('sample:', CAST(doc_id AS VARCHAR))")} % 100
          < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 50
                 WHEN source IN ('src3', 'src4') THEN 25 ELSE 10 END
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the reproducible way to
    sample training data at 100 TB: keep a row iff a salted md5 of its
    id falls under the stratum's rate. Unlike rng-based
    ``sample``/``sampleBy``, the decision is a pure function of
    (id, salt), so re-runs, retried tasks, and other engines select
    the IDENTICAL sample (the DuckDB oracle proves it). Zero shuffle:
    the filter runs inside the scan projection."""
    docs = table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 50)
        .when(F.col("source").isin("src3", "src4"), 25)
        .otherwise(10)
    )
    bucket = F.pmod(md5_long(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), F.lit(100))
    return docs.filter(bucket < rate).select("doc_id", "source")


_SQL_QUALITY = (
    f"(least({_SQL_NTOK} / 100.0, 1.0) * 0.4"
    f" + (1.0 - least({_SQL_PUNCT} * 5, 1.0)) * 0.3"
    f" + least(CASE WHEN {_SQL_NTOK} > 0 THEN CAST({_SQL_NSTOP} AS DOUBLE) / {_SQL_NTOK}"
    f"         ELSE 0.0 END * 4, 1.0) * 0.3)"
)


@query(
    "quality_percentile_by_source",
    oracle=f"""
    SELECT doc_id, source,
           round({_SQL_QUALITY}, 6) AS quality,
           round(percent_rank() OVER (PARTITION BY source
                                      ORDER BY round({_SQL_QUALITY}, 6)), 6) AS q_pct
    FROM documents
    """,
)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality CALIBRATION: the raw quality heuristic is
    converted to a percent-rank WITHIN each source, so a single global
    threshold (e.g. keep top 70%) removes the same fraction from every
    domain — absolute quality scores are not comparable across domains
    (code vs prose vs forum text score systematically differently), and
    a global cut would silently drop whole domains. One window per
    source partition; ranking on the round-6 score keeps tie structure
    — and therefore percent_rank — identical across engines."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    q = F.round(X.quality_score("text"), 6)
    w = W.partitionBy("source").orderBy(q)
    return docs.select(
        "doc_id",
        "source",
        q.alias("quality"),
        F.round(F.percent_rank().over(w), 6).alias("q_pct"),
    )


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
          list_distinct(list_transform(
              range(1, greatest(len(toks) - 2, 0) + 1),
              i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
          ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM t
    )
    SELECT sh AS ngram, count(*) AS df
    FROM sh GROUP BY sh HAVING count(*) >= 5
    ORDER BY df DESC, ngram
    LIMIT 50
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (CCNet-style): word 3-grams ranked by
    DOCUMENT frequency — shingles appearing in many distinct documents
    are headers/footers/navigation chrome, the segments line-level
    dedup strips before training. Shape: per-doc DISTINCT shingles
    (dedup inside the doc first, so df counts documents, not
    occurrences), explode, one hash aggregate; the top-50 total sort
    moves only the >=5-df survivors. At 100 TB the shingle strings
    become md5_long keys and df>=K prunes before the sort."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(D.shingles("text", 3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 5)
        .orderBy(F.desc("df"), "ngram")
        .limit(50)
    )


@query(
    "text_segment_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1, 8),
                    i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS seg,
             generate_subscripts(range(1, len(toks) + 1, 8), 1) AS pos
      FROM t
    ),
    common AS (
      SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 5
    ),
    kept AS (
      SELECT doc_id, seg, pos FROM segs
      WHERE seg NOT IN (SELECT seg FROM common)
    )
    SELECT s.doc_id,
           CAST(count(s.pos) AS BIGINT) AS n_segs,
           CAST(count(s.pos) - count(k.pos) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(k.seg, ' ' ORDER BY k.pos), '')) AS clean_md5
    FROM segs s LEFT JOIN kept k ON s.doc_id = k.doc_id AND s.pos = k.pos
    GROUP BY s.doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup, REMOVAL included (the CCNet cleaning step the
    boilerplate DETECTOR feeds): documents are segmented
    deterministically (8-token windows here — real corpora segment on
    newlines; the algorithm is identical), segments appearing in >= 5
    distinct documents are struck, and each document is REASSEMBLED
    from its surviving segments in original order. Output: per doc,
    segment counts, how many were removed, and the md5 of the cleaned
    text — both engines must rebuild byte-identical documents. Shape:
    one explode + one df-aggregate + one anti-join + one ordered
    reassembly groupBy; segment strings become md5_long keys at
    100 TB."""
    docs = table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    # Zero-token guard: an empty/whitespace-only document must produce
    # NO segments (the oracle's range(1, len+1, 8) emits none), not one
    # empty-string segment — the CASE keeps sequence() from seeing an
    # illegal (1, 0) boundary on empty docs.
    starts = F.when(
        F.size(toks) >= 1,
        F.sequence(F.lit(1), F.size(toks), F.lit(8)),
    ).otherwise(F.array().cast("array<int>"))
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, 8)))
        ).alias("pos0", "seg"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "seg")
    common = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
        .select("seg")
    )
    kept = segs.join(common, "seg", "left_anti")
    counts = segs.groupBy("doc_id").agg(F.count("*").alias("n_segs"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text"),
        )
    )
    return (
        counts.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.md5(F.coalesce("clean_text", F.lit(""))).alias("clean_md5"),
        )
    )


@query(
    "pretrain_filter",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
             round({_SQL_QUALITY}, 6) AS quality,
             CASE WHEN greatest(
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")}))) <= 0
                  THEN 'en'
                  WHEN len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})) = greatest(
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")}))) THEN 'en'
                  WHEN len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})) = greatest(
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")}))) THEN 'es'
                  WHEN len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})) = greatest(
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("en")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("es")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("fr")})),
                    len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_sql_markers("de")}))) THEN 'fr'
                  ELSE 'de' END AS lang_pred
      FROM documents
    ),
    k AS (SELECT fingerprint, min(doc_id) AS keeper FROM feat GROUP BY fingerprint)
    SELECT f.doc_id, f.lang_pred, f.quality,
           CAST(f.doc_id = k.keeper AND f.lang_pred = 'en'
                AND f.quality >= 0.55 AS BOOLEAN) AS keep
    FROM feat f JOIN k ON f.fingerprint = k.fingerprint
    """,
)
def pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite pretraining-data filter — the pipeline the
    individual text/dedup ops exist to feed: per-doc quality score,
    language ID, and fingerprint-dedup keeper selection combined into
    one keep/drop verdict. One projection + one fingerprint-keyed
    aggregate; no Python, no extra scans (all features come from the
    same pass over ``text``). The 0.55 quality threshold applies to the
    round-6 value (no doc sits within 1e-4 of the boundary, so the
    rounding cannot flip verdicts between engines)."""
    docs = table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        X.fingerprint_md5("text").alias("fingerprint"),
        F.round(X.quality_score("text"), 6).alias("quality"),
        X.lang_id("text").alias("lang_pred"),
    )
    keepers = feat.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    return feat.join(keepers, "fingerprint").select(
        "doc_id",
        "lang_pred",
        "quality",
        (
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.55)
        ).alias("keep"),
    )


@query(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
    scored AS (
      SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS sim
      FROM q JOIN c ON q_id <> n_id
    ),
    ranked AS (
      SELECT q_id, n_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
                  AS INTEGER) AS rank
      FROM scored
    )
    SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _sql_bucket(sign_rows: list[list[int]]) -> str:
    """DuckDB bucket-id expression over column ``qv`` for the given
    hyperplane sign rows (one bit per row, LSB first) — the literal
    twin of ops.similarity.hyperplane_lsh_buckets."""
    terms = [
        "(CASE WHEN list_dot_product(qv, ["
        + ", ".join(f"{s}.0" for s in srow)
        + "]) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << "
        + f"{j})"
        for j, srow in enumerate(sign_rows)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_topk_oracle(k: int = 5, planes: int = 4, dim: int = 64) -> str:
    bucket = _sql_bucket(S.hyperplane_signs(dim, planes))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS n_id, v AS n_vec, bucket FROM b),
    scored AS (
      SELECT q_id, n_id, round(list_cosine_similarity(q_vec, n_vec), 6) AS sim
      FROM c JOIN q ON c.bucket = q.bucket AND q_id <> n_id
    ),
    ranked AS (
      SELECT q_id, n_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
                  AS INTEGER) AS rank
      FROM scored
    )
    SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= {k}
    """


@query("sim_lsh_topk", oracle=_lsh_topk_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via hyperplane-LSH bucketing. Buckets are computed
    from md5-derived sign literals over quantized embeddings, so the
    DuckDB oracle reproduces bucket assignment — and therefore the ANN
    result — bit-identically (recall < 1 vs exact search by design;
    the differential check is against the same bucketed algorithm)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, planes=4)


@query(
    "sim_sq8_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    stat AS (
      SELECT d, min(val) AS mn, max(val) AS mx
      FROM (SELECT unnest(range(1, len(v)+1)) AS d, unnest(v) AS val FROM e)
      GROUP BY d
    ),
    mnmx AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM stat),
    codes AS (
      SELECT vec_id,
             list_transform(range(1, len(v)+1),
               i -> CASE WHEN mx[i] = mn[i] THEN CAST(0 AS BIGINT)
                         ELSE CAST(floor(((v[i] - mn[i]) * 255.0)
                                         / (mx[i] - mn[i])) AS BIGINT)
                    END - 128) AS c
      FROM e, mnmx
    ),
    q AS (SELECT vec_id AS q_id, c AS qc FROM codes WHERE vec_id < 10),
    scored AS (
      SELECT q_id, vec_id AS n_id,
             CAST(list_dot_product(qc, c) AS BIGINT) AS score
      FROM codes JOIN q ON q_id <> vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, score,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id)
                  AS INTEGER) AS rank
      FROM scored
    )
    SELECT q_id, n_id, rank, score FROM ranked WHERE rank <= 5
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) similarity top-k — the compressed-
    representation ANN modality alongside LSH (bucketing) and IVF
    (coarse quantizer): per-dimension min/max linear map to centered
    int8-range codes, ranked by integer dot product. Quantization and
    scoring are fully deterministic (floor over identical IEEE doubles;
    integer sums exact in any order), so unlike IVF's k-means this
    oracle compares the ranked rows THEMSELVES bit-for-bit, not just a
    quality property. Code lists sort ascending by dim on both sides."""
    emb = table(spark, sf_dir, "embeddings")
    return S.sq8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "sim_ivf_topk",
    oracle="""
    SELECT CAST(count(*) AS INTEGER) AS n_queries,
           TRUE AS results_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) ANN under a derived-property
    oracle: k-means centroids are engine-specific so the ANN rows
    cannot be hash-compared, but their quality can — the query runs
    IVF top-5 AND the exact brute-force top-5 over the same 10 query
    vectors and emits booleans the DuckDB oracle reproduces as TRUE:
    every query returns exactly k results (results_ok) and mean
    recall@5 >= 0.6 (recall_ok; measured 0.84/0.88/0.84 at
    sf0.001/sf0.01/sf0.1 with n_probe=8 on random vectors — the hard
    case). The centroids come from the capped local fit on the full
    corpus, like every other ANN trainer. The row listing itself stays
    available via ops.similarity.ivf_topk."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    ivf = S.ivf_topk(emb, q, k=5)
    exact = S.brute_force_topk(emb, q, k=5)
    return _recall_property(ivf, exact, k=5)


def _exact_ip_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact inner-product top-k over the <10 query slice — the ground
    truth for the PQ-family recall properties (PQ re-ranks by dot)."""
    from pyspark.sql import Window as W

    q = emb.filter(F.col("vec_id") < 10)
    qd = q.select(F.col("vec_id").alias("q_id"), S._to_double("embedding").alias("qv"))
    cd = emb.select(F.col("vec_id").alias("n_id"), S._to_double("embedding").alias("nv"))
    scored = cd.join(F.broadcast(qd), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", S.dot(F.col("qv"), F.col("nv")).alias("ip")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("ip"), "n_id")
    return scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)


def _recall_property(ann: DataFrame, exact: DataFrame, k: int = 5, floor: float = 0.6) -> DataFrame:
    """Fold an ANN result and its exact ground truth into the one-row
    derived-property frame the DuckDB oracle reproduces as constants:
    (n_queries, results_ok = every query returned exactly k rows,
    recall_ok = mean recall@k >= floor)."""
    hits = (
        ann.alias("p")
        .join(
            exact.alias("e"),
            (F.col("p.q_id") == F.col("e.q_id")) & (F.col("p.n_id") == F.col("e.n_id")),
        )
        .groupBy(F.col("p.q_id").alias("q_id"))
        .agg(F.count("*").alias("n_hit"))
    )
    per_q = (
        ann.groupBy("q_id")
        .agg(F.count("*").alias("n_res"))
        .join(hits, "q_id", "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
    )
    return per_q.agg(
        F.count("*").cast("int").alias("n_queries"),
        ((F.min("n_res") == k) & (F.max("n_res") == k)).alias("results_ok"),
        ((F.sum("n_hit") / (float(k) * F.count("*"))) >= floor).alias("recall_ok"),
    )


@query(
    "sim_pq_topk",
    oracle="""
    SELECT CAST(count(*) AS INTEGER) AS n_queries,
           TRUE AS results_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the fifth similarity modality: brute
    force, LSH, IVF, SQ8, PQ) under the same derived-property oracle as
    IVF: k-means codebooks are engine-specific so rows cannot be
    hash-compared, but quality can — the query runs two-stage PQ
    (ADC code-only pre-rank -> exact re-rank of the top 50) AND the
    exact inner-product top-5 over the same 10 queries, emitting
    booleans the oracle reproduces as TRUE: every query returns exactly
    k results and mean recall@5 >= 0.6 (measured 0.72-0.80 on the
    random — worst-case — test embeddings).

    Trainer: full-corpus TRAINING DATA (this is the recall baseline —
    no sample) through the capped LOCAL fit (_kmeans_local; the corpus
    is below _LOCAL_TRAIN_CAP at every test SF, and past it the cap
    deterministically downsamples to the trainer-RAM bound, so the
    query keeps running at any SF). ADC scan and exact re-rank stay
    full-corpus and distributed."""
    emb = table(spark, sf_dir, "embeddings")
    pq = S.pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return _recall_property(pq, _exact_ip_topk(emb, k=5), k=5)


@query(
    "sim_ivf_pq_topk",
    oracle="""
    SELECT CAST(count(*) AS INTEGER) AS n_queries,
           TRUE AS results_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed ANN (ops.similarity.ivf_pq_topk) — the 100 TB
    deploy shape: coarse-quantizer cell equi-join prunes candidates
    BEFORE the ADC code scan, exact re-rank only of the ADC top-50.
    Same derived-property oracle as the single-stage IVF and PQ
    queries: every query returns exactly k rows and mean recall@5 vs
    exact inner-product search >= 0.6. The plan's candidate generation
    is asserted shuffle-shape-correct in tests/test_ops.py (cell
    equi-join feeding the ADC projection, no corpus-wide pair join).

    Trainer: full-corpus TRAINING DATA (the recall baseline — no
    sample, unlike sim_ivf_pq_sampled's 25% hash-sample) through the
    capped LOCAL fit. Cell assignment, ADC scan and exact re-rank stay
    full-corpus and distributed."""
    emb = table(spark, sf_dir, "embeddings")
    ann = S.ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return _recall_property(ann, _exact_ip_topk(emb, k=5), k=5)


@query(
    "sim_ivf_pq_sampled",
    oracle="""
    SELECT CAST(count(*) AS INTEGER) AS n_queries,
           TRUE AS results_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def sim_ivf_pq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with SAMPLED, LOCALLY-FIT quantizer training — the full
    FAISS deploy shape at 100 TB: sample selection is distributed (a
    deterministic 25% hash-sample via ops.similarity.hash_sample —
    reproducible across runs, partitionings, and appends), then all 9
    k-means fits (1 coarse + 8 codebooks) run where the sample fits in
    RAM (ops.similarity._kmeans_local: seeded k-means++, matmul
    Lloyd's, hard row cap guarding the trainer) — one sample collect
    per trainer, not one Spark job per Lloyd iteration. Cell
    ASSIGNMENT and PQ ENCODING stay full-corpus and distributed. Same derived-property oracle as the full-training
    twin (sim_ivf_pq_topk): every query returns exactly k rows and
    mean recall@5 vs exact inner-product search >= 0.6.

    Rerank budget: sampled locally-fit codebooks rank slightly coarser
    under ADC than full-corpus fits, so the exact-rerank budget is
    max(100, corpus/5) rather than the full twin's max(50, corpus/10)
    — measured recall@5 0.74 at sf0.01 / 0.86 at sf0.1 (vs 0.56-0.58
    at corpus/10: the shortlist, not the probe count, was the binding
    loss). The budget-vs-codebook-quality interaction is the same
    class the r3 10x sweep caught (BUILDLOG) — deployment sets it
    from the recall SLO."""
    emb = table(spark, sf_dir, "embeddings")
    ann = S.ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        train_fraction=0.25,
        rerank=max(100, emb.count() // 5),
    )
    return _recall_property(ann, _exact_ip_topk(emb, k=5), k=5)


@query(
    "agg_approx_stats",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           TRUE AS distinct_ok, TRUE AS p50_ok, TRUE AS p95_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale variants of distinct-count and percentile
    (HyperLogLog++ and the GK sketch) under a *derived-property*
    oracle: the sketch estimates themselves are engine-specific, so the
    compared output carries booleans asserting the estimates' accuracy
    bounds (HLL++ within ±10% of exact; approx_percentile inside the
    exact p45..p55 / p90..p99 value envelope — GK rank error at default
    accuracy is n/10000, far tighter). DuckDB reproduces the booleans
    as TRUE, giving the driver a real differential gate on the sketch
    without comparing approximations across engines."""
    li = table(spark, sf_dir, "lineitem")
    # array-argument percentile calls: ONE per-group value map shared
    # by all requested fractions instead of one aggregation buffer per
    # fraction — measured 25 -> 11 s at sf0.1 (the entry was the most
    # expensive thing in every bench sweep; r9 VERDICT #2's warm-up
    # theory explained only part of it)
    #
    # r12 (guide §2.3/§2.4, r11 VERDICT #3): the single mixed
    # distinct + percentile aggregate was STILL the most expensive
    # coverage entry because countDistinct forces the Expand/two-level
    # distinct plan and every percentile buffer rides through it —
    # measured 13.9 s for the combined form vs 2.6 s for the SUM of
    # its aggregates in isolation (a one-off sf0.1 probe). Split
    # into three combinable passes joined on the 3-row group key:
    #   base  — count + HLL + GK sketch on raw rows (one hash agg, no
    #           Expand; the sketches are fed the same row stream, so
    #           their estimates are bit-identical to the old plan's);
    #   ed    — exact distinct as groupBy(flag, okey) -> count, the
    #           two-level form that partial-aggregates map-side;
    #   exact — exact percentiles from the combinable (flag, price,
    #           freq) pre-agg through percentile's frequency argument
    #           (identical interpolation semantics to repeated values).
    # Output equality to the old form verified row-for-row at sf0.1
    # and by the unchanged DuckDB oracle at all SFs. Measured
    # 13.9 -> 1.46 s warm at sf0.1; at 100 TB three column-pruned
    # scans of (flag, okey/price) beat one scan that doubles every
    # row through the Expand and serializes percentile maps through
    # the distinct shuffle.
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("l_orderkey").alias("ad"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95))").alias("ap"),
    )
    ed = (
        li.groupBy("l_returnflag", "l_orderkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("ed"))
    )
    exact = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").alias("freq"))
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.45, 0.55, 0.90, 0.99), freq)"
            ).alias("e")
        )
    )
    return (
        base.join(ed, "l_returnflag")
        .join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            (F.abs(F.col("ad") - F.col("ed")) <= F.col("ed") * 0.1).alias("distinct_ok"),
            F.element_at("ap", 1)
            .between(F.element_at("e", 1), F.element_at("e", 2))
            .alias("p50_ok"),
            F.element_at("ap", 2)
            .between(F.element_at("e", 3), F.element_at("e", 4))
            .alias("p95_ok"),
        )
    )


def _lsh_near_dup_oracle(
    threshold: float = 0.35, tables: int = 16, planes_per_table: int = 4, dim: int = 64
) -> str:
    """DuckDB twin of ops.similarity.lsh_near_dup_pairs: identical
    multi-table buckets (same md5-derived sign literals, same quantized
    projections), identical candidate join, identical exact-cosine
    filter."""
    signs = S.hyperplane_signs(dim, tables * planes_per_table)
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, "
        + _sql_bucket(signs[t * planes_per_table:(t + 1) * planes_per_table])
        + " AS bucket FROM e"
        for t in range(tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_QV} AS qv
               FROM embeddings),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
    FROM cand
    JOIN e ea ON cand.id_a = ea.vec_id
    JOIN e eb ON cand.id_b = eb.vec_id
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
    """


@query("dedup_embedding_cosine", oracle=_lsh_near_dup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup — the fifth dedup modality (exact,
    fingerprint, Jaccard, MinHash, embedding) — in its scale-safe
    form: multi-table hyperplane-LSH candidates (bucket equi-joins
    only, no all-pairs/broadcast-nested-loop join) with an exact
    cosine >= threshold filter inside buckets. The oracle replays the
    same bucketing bit-identically; recall vs the all-pairs baseline
    is asserted in tests (ops.similarity.cosine_near_dup_pairs stays
    as the small-corpus verification helper)."""
    return S.lsh_near_dup_pairs(table(spark, sf_dir, "embeddings"), threshold=0.35)


@query("dedup_embedding_indexed", oracle=_lsh_near_dup_oracle(tables=4))
def dedup_embedding_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs off the PERSISTED multi-table LSH index — the
    flagship 100 TB claim: the index is written once as a bucketed
    table keyed on the composite (table, bucket) id, and the
    corpus×corpus candidate self-join then streams co-located storage
    buckets with ZERO Exchange (asserted in tests/test_bucketing.py).
    Daily batches append under the same deterministic hyperplane
    family. The oracle is the same bit-exact bucket replay as the
    in-memory path (identical pairs by construction — also asserted in
    the bucketing test); scoring is the exact cosine from the index's
    denormalized vectors, so the query never joins back to the
    corpus."""
    from ..io_sinks import drop_managed_table

    idx = "lsh_idx_registered"
    drop_managed_table(spark, idx)
    S.write_lsh_index(
        table(spark, sf_dir, "embeddings"), idx, tables=4, planes_per_table=4
    )
    return S.lsh_near_dup_pairs_indexed(spark, idx, threshold=0.35)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST(ascii(substr(text, 1, 1)) % 480 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas
    plumbing (Arrow-batched Pandas UDF over opaque bytes). The oracle
    recomputes the deterministic fake-decoder features from the text the
    bytes were derived from. checksum (crc32) is not SQL-expressible in
    DuckDB and is dropped from the compared projection."""
    from ..ops import multimodal as M

    docs = table(spark, sf_dir, "documents")
    feats = M.extract_features(M.attach_binary(docs))
    return feats.select("doc_id", "n_bytes", "width", "height")


@query(
    "streaming_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (watermarked dropDuplicates) whose
    emitted key set must equal batch DISTINCT — see
    streaming.landing.stream_dedup_events."""
    from ..streaming.landing import stream_dedup_events

    return stream_dedup_events(spark, sf_dir)


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(s.ts) AS us_between
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (signups x purchases within 1
    hour) run as a real streaming query; must equal the batch
    theta-join — see streaming.landing.stream_stream_signup_purchase.
    state_partitions=8 is the MEASURED local-mode state-store optimum
    for one availableNow batch at sf0.1 (r10 VERDICT #6 / r11 VERDICT
    #4): pinned HERE at the bench-facing call site, not in the op's
    default, so cluster deployments size it to sustained volume."""
    from ..streaming.landing import stream_stream_signup_purchase

    return stream_stream_signup_purchase(spark, sf_dir, state_partitions=8)


@query(
    "streaming_stateful_sessionize",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    s AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    agg AS (
      SELECT user_id, sid, min(us) AS session_start_us,
             max(us) AS session_end_us, count(*) AS n_events
      FROM s GROUP BY user_id, sid
    ),
    last AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
    SELECT a.user_id, a.session_start_us, a.session_end_us, a.n_events
    FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.last_sid
    """,
)
def streaming_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState
    session aggregation — O(1) state per key) run as a real streaming
    query and differentially checked: emitted closed sessions must
    equal the batch lag-gap/cumsum sessionization minus each user's
    trailing (still-open) session. Session-boundary math is pure
    integer microseconds, so the comparison is exact."""
    from ..streaming.stateful import run_sessionize_stream

    return run_sessionize_stream(spark, sf_dir)


@query(
    "streaming_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming query (file source -> watermark ->
    tumbling window -> memory sink, availableNow) whose final result
    must equal the batch tumbling-window SQL."""
    from ..streaming.landing import stream_events_hourly

    return stream_events_hourly(spark, sf_dir)


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           c_mktsegment, CAST(c_nationkey AS INT) AS c_nationkey
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (stateless, static side
    broadcast per micro-batch) run as a real streaming query; must
    equal the batch inner join — see streaming.landing.
    stream_static_enrich."""
    from ..streaming.landing import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


@query(
    "streaming_anti_join_new_users",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """,
)
def streaming_anti_join_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join (incremental-ingestion dedup: keep
    only rows whose key is absent from a static reference set) run as a
    real streaming query; must equal the batch anti join — see
    streaming.landing.stream_anti_new_users."""
    from ..streaming.landing import stream_anti_new_users

    return stream_anti_new_users(spark, sf_dir)


@query(
    "emb_norm_quantiles",
    oracle="""
    WITH n AS (
      SELECT label,
             CAST(floor(sqrt(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> round(x * 1000000) * round(x * 1000000)))))
                  AS BIGINT) AS norm_micro
      FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           round(quantile_cont(norm_micro, 0.50), 4) AS p50_norm,
           round(quantile_cont(norm_micro, 0.90), 4) AS p90_norm,
           min(norm_micro) AS min_norm,
           max(norm_micro) AS max_norm
    FROM n GROUP BY label ORDER BY label
    """,
)
def emb_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution QA per label — degenerate (near-zero
    norm) or exploding vectors poison cosine ANN and signal upstream
    encoder bugs; this is the per-batch health check an embedding
    pipeline gates on. Exactness: norms are computed on round(x*1e6)
    integer-valued doubles (sums of squares exact below 2^53, sqrt
    correctly rounded by IEEE), floored to integer micro-units, and
    only then quantiled — so the heavy math is bit-identical across
    engines and the round-4 on the interpolated quantile matches the
    proven agg_percentiles pattern. One projection + one agg."""
    emb = table(spark, sf_dir, "embeddings")
    q = F.transform(
        S._to_double("embedding"), lambda x: F.round(x * 1_000_000)
    )
    sumsq = F.aggregate(
        F.transform(q, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v
    )
    n = emb.select("label", F.floor(F.sqrt(sumsq)).alias("norm_micro"))
    return (
        n.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.expr("percentile(norm_micro, 0.50)"), 4).alias("p50_norm"),
            F.round(F.expr("percentile(norm_micro, 0.90)"), 4).alias("p90_norm"),
            F.min("norm_micro").alias("min_norm"),
            F.max("norm_micro").alias("max_norm"),
        )
        .orderBy("label")
    )


@query(
    "emb_dim_stats",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding)                    AS val
      FROM embeddings
    )
    SELECT label, dim,
           count(*) AS n_vecs,
           round(CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
                 / count(*)) / 1e6               AS mean_val,
           round(CAST(min(val) AS DOUBLE), 6)    AS min_val,
           round(CAST(max(val) AS DOUBLE), 6)    AS max_val
    FROM e
    GROUP BY label, dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space QA profile: per-(label, dimension) mean/min/max
    over the corpus — the check that catches dead dimensions, scale
    drift between embedding model versions, and per-class mean shift
    before they poison ANN recall. posexplode + one hash aggregate:
    shuffle volume is (labels x dims) partial states, independent of
    corpus size. Means ride on integer micro-units (a float sum across
    partitions is summation-order dependent); min/max pick values, so
    they are exact as-is. Long-form output (one row per label x dim)
    keeps the result scalar-typed for the driver's canonicalizer."""
    emb = table(spark, sf_dir, "embeddings")
    val_d = F.col("val").cast("double")
    micro = F.round(val_d * 1e6, 0).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", (F.col("pos") + 1).alias("dim"), "val")
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            # round at the MICRO-UNIT integer level (micro-sum / n, round
            # to whole micros, then downscale): fractional round(x, 6)
            # ties differently across engines at sf0.1, and round-0 of a
            # possibly-negative mean agrees (HALF_UP == half-away-from-
            # zero for both signs)
            (F.round(F.sum(micro) / F.count("*"), 0) / 1e6).alias("mean_val"),
            F.round(F.min(val_d), 6).alias("min_val"),
            F.round(F.max(val_d), 6).alias("max_val"),
        )
    )
