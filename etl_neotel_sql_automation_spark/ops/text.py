"""Text-analysis operators over a document table: tokenization, token
counting (whitespace + BPE-ish regex), quality scoring, language-ID
heuristic, document fingerprinting.

All pure column expressions — at 100 TB these run inside whole-stage
codegen on the scan projection, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace tokenization; empty/blank text -> empty array (split of ''
# yields [''], which we filter).
_WS = r"\s+"

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the classic GPT-2-style pre-split shape.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("a", "an", "the", "of", "and", "to", "in", "is", "it")

# Characteristic function words per language for the n-gram/stopword
# language-ID heuristic. Scores are hit-counts; argmax wins, English
# default on ties/no-hits.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}


def tokens(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.trim(c), _WS), lambda t: t != "")


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array, repeats kept, in order: each run
    of ``n`` consecutive tokens joined on one space; an empty array
    when there are fewer than ``n`` tokens."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(0)))
    # the bare F.array() keeps the elements non-null: a cast to
    # array<string> makes them nullable, and the isnotnull filter then
    # inferred under an overlap join stops exchange reuse (one more
    # Exchange in corpus_source_minhash)
    return F.when(
        cnt >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array())


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("int")


def bpe_token_count(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0)).cast("int")


def stopword_count(c: Column | str) -> Column:
    return F.size(F.filter(tokens(c), lambda t: F.lower(t).isin(*STOPWORDS))).cast("int")


def stopword_ratio(c: Column | str) -> Column:
    n = token_count(c)
    return F.when(n > 0, stopword_count(c) / n).otherwise(F.lit(0.0))


def punct_ratio(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    n = F.length(c)
    npunct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, npunct.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, has some stopword glue — the standard pretraining-filter trio
    (length/punct/stopword ratios)."""
    n = token_count(c)
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 4, F.lit(1.0))
    return (len_score * 0.4 + punct_penalty * 0.3 + stop_score * 0.3).cast("double")


def lang_id(c: Column | str) -> Column:
    """n-gram (function-word) language-ID heuristic: hit-count argmax
    over LANG_MARKERS, 'en' on ties — deterministic and expressible in
    plain SQL for the oracle."""
    toks = tokens(c)

    def _hits(markers: tuple[str, ...]):
        # closure factory, not a default-arg lambda: PySpark derives HOF
        # arity from the lambda's parameter count, so an extra default
        # parameter would receive a Column.
        return lambda t: F.lower(t).isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, _hits(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("en")
    # iterate in fixed order; earlier languages win ties after 'en'
    for lang in ("de", "fr", "es", "en"):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("en")).otherwise(out)


def normalize_text(c: Column | str) -> Column:
    """Canonical form for fingerprinting: collapse whitespace, lowercase."""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(F.regexp_replace(c, _WS, " ")))


def fingerprint_md5(c: Column | str) -> Column:
    """Deterministic document fingerprint over normalized text."""
    return F.md5(normalize_text(c))


# Latin-1-range accent fold (the range the ETL surface needs; full
# unicode NFKD would require leaving codegen for a pandas_udf).
_ACCENTS_FROM = "áéíóúüñÁÉÍÓÚÜÑàèìòùâêîôûãõçÀÈÌÒÙÂÊÎÔÛÃÕÇ"
_ACCENTS_TO = "aeiouunAEIOUUNaeiouaeiouaocAEIOUAEIOUAOC"


def normalize_for_dedup(c: Column | str) -> Column:
    """Aggressive canonicalization for near-dup robustness (the
    pre-shingling normalizer fuzzy-dedup pipelines run so that case,
    punctuation, and accent variants of the same text collide):
    lowercase -> accent fold -> strip everything but [a-z0-9 ] ->
    collapse whitespace -> trim. Pure codegen (translate +
    regexp_replace); exactly reproducible in SQL engines, so
    normalized fingerprints are cross-engine stable."""
    c = F.col(c) if isinstance(c, str) else c
    s = F.translate(F.lower(c), _ACCENTS_FROM.lower(), _ACCENTS_TO.lower())
    s = F.regexp_replace(s, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(s, _WS, " "))


def rolling_hashes(c: Column | str, window: int = 8, hash_fn: str = "xxhash64") -> Column:
    """Rolling token-window fingerprints: 64-bit hash of each ``window``
    consecutive tokens joined on the \\x01 separator (winnowing-style
    building block). Returns array<bigint>; at scale this is one
    codegen'd projection. ``hash_fn="md5"`` gives DuckDB-reproducible
    hashes (see ops.hashing)."""
    from .hashing import hash64

    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    return F.transform(
        idx,
        lambda i: hash64(F.concat_ws("", F.slice(toks, i + 1, window)), hash_fn),
    )


def analyze(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text-analysis projection: token counts, ratios, quality,
    language, fingerprint."""
    return df.select(
        id_col,
        token_count(text_col).alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        F.length(text_col).cast("int").alias("n_chars"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(quality_score(text_col), 6).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint_md5(text_col).alias("fingerprint"),
    )


# --- PII redaction -----------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def redact_pii(c: Column | str, token: str = "[PII]") -> Column:
    """Replace email addresses and phone-shaped numbers with a fixed
    token. Pure codegen'd regexp_replace — no UDF, scales as a
    projection. Patterns restrict to syntax valid in both Java regex
    and RE2 so oracles can replay them."""
    c = F.col(c) if isinstance(c, str) else c
    out = F.regexp_replace(c, EMAIL_RE, token)
    return F.regexp_replace(out, PHONE_RE, token)


def pii_count(c: Column | str) -> Column:
    """Number of PII matches (emails + phones) in the text."""
    c = F.col(c) if isinstance(c, str) else c
    return (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0))
    ).cast("int")


def sparse_cosine_topk(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 20,
    shingle_n: int = 3,
    k: int = 50,
):
    """Top-k most-cosine-similar document pairs over sparse n-gram tf
    vectors, term-at-a-time through a df-capped inverted index: join on
    gram, sum tf products, normalize by integer squared norms. Posting
    lists longer than ``df_cap`` documents are dropped (df=1 grams
    can't pair; hot grams are boilerplate whose postings dominate the
    join), which bounds candidate pairs by sum(df^2) <= vocab*cap^2 at
    any corpus size. cos^2 is exact integer ppm — no sqrt, so the
    value crosses engines bit-for-bit.

    The capped tf table is localCheckpointed: four consumers (the dot
    product's two aliases + both norm joins) would otherwise re-run
    the tokenize/shingle/groupBy pipeline per subtree scan."""
    sh_arr = ngrams(tokens(F.col(text_col)), shingle_n)
    sh = df.select(F.col(id_col).alias("id"), F.explode(sh_arr).alias("sh"))
    tf = sh.groupBy("id", "sh").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("sh")
        .agg(F.count("*").alias("dfc"))
        .filter((F.col("dfc") >= 2) & (F.col("dfc") <= df_cap))
        .select("sh")
    )
    tff = tf.join(dfreq, "sh").localCheckpoint()
    norms = tff.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nrm"))
    a, b = tff.alias("a"), tff.alias("b")
    dot = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dot.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("dot * dot * 1000000 div (na * nb)")
            .cast("bigint")
            .alias("cos2_ppm"),
        )
        .orderBy(F.desc("cos2_ppm"), "id_a", "id_b")
        .limit(k)
    )
