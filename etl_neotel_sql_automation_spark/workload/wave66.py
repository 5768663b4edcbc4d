"""Round-8 wave-66 workload: text_term_dispersion — per-term corpus
DISPERSION: is a term spread evenly across documents or bursty in a
few? The frequency family (tf-idf, Zipf, heavy hitters) ranks by how
OFTEN a term occurs; dispersion measures WHERE — the corpus-
linguistics readout (Gries' DP) that separates a genuine common word
from a boilerplate artifact concentrated in one source, which is
exactly the distinction a dedup/boilerplate gate needs. Nothing else
in the registry measures occurrence concentration across documents.

Measures, both exact:
- DP (deviation of proportions) = 0.5 * sum_i |v_i - s_i| where v_i
  is the term's occurrence share in doc i and s_i doc i's share of
  corpus tokens. The sum over ALL docs splits exactly into the
  nonzero cells plus a closed form for the zero cells:
  sum_{c_i=0} n_i * C = (N - sum_{c_i>0} n_i) * C, so only the
  term-doc count frame is ever touched. Carried as the integer
  |c_i*N - n_i*C| ladder over the common denominator and emitted in
  floor-div ppm (0 = perfectly even, 1e6 = fully concentrated).
- burstiness: the variance-to-mean ratio of per-doc counts (zero
  cells included via the same split: sum c^2 is over nonzero cells,
  the mean over all docs), round(6) double from exact sums.

Scope: the top-8 terms by document frequency (ties broken by term) —
a limit-bounded output joined back by broadcast, the sanctioned
top-k pin shape.

Scale shape: one tokenize+explode into a (term, doc) count aggregate,
a doc-size aggregate, a 1-row corpus total, the top-8 limit, and
per-term combinable sums — every join side is limit- or 1-row-
bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DEC, _SQL_TOKS, query, table
from ..ops import text as X

_TOP = 8


def dispersion_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_term_dispersion (scaling-probe entry)."""
    toks = X.tokens("text")
    td = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    dsz = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("n_i")
    )
    corp = dsz.agg(
        F.sum("n_i").cast("bigint").alias("n_corpus"),
        F.count("*").cast("bigint").alias("d_docs"),
    )
    top = (
        td.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("c").cast("bigint").alias("c_tot"),
        )
        .orderBy(F.desc("df"), F.desc("c_tot"), "term")
        .limit(_TOP)
    )
    j = (
        td.join(F.broadcast(top), "term")  # limit-bounded top-k pin
        .join(dsz, "doc_id")
        .crossJoin(F.broadcast(corp))  # 1-row corpus totals
    )
    per = j.groupBy("term").agg(
        F.max("df").alias("df"),
        F.max("c_tot").alias("c_tot"),
        F.max("n_corpus").alias("n_corpus"),
        F.max("d_docs").alias("d_docs"),
        F.sum("n_i").cast("bigint").alias("n_in_docs"),
        F.sum(
            F.expr(
                f"abs(CAST(c AS {_DEC}) * n_corpus"
                f" - CAST(n_i AS {_DEC}) * c_tot)"
            )
        ).cast(_DEC).alias("nz_abs"),
        F.sum(F.expr(f"CAST(c AS {_DEC}) * c")).cast(_DEC).alias("c_sq"),
    )
    # zero-cell mass: (N - sum_{c>0} n_i) * C over the same denominator
    dp_num = f"(nz_abs + CAST(n_corpus - n_in_docs AS {_DEC}) * c_tot)"
    dp_den = f"(2 * CAST(c_tot AS {_DEC}) * n_corpus)"
    vmr = (
        "(CAST(d_docs * c_sq - CAST(c_tot AS DECIMAL(38,0)) * c_tot"
        " AS DOUBLE) / (CAST(d_docs AS DOUBLE) * (d_docs - 1.0e0)))"
        " / (c_tot * 1.0e0 / d_docs)"
    )
    return per.select(
        "term",
        "df",
        "c_tot",
        F.expr(
            f"CAST((1000000 * {dp_num}) div {dp_den} AS BIGINT)"
        ).alias("dp_ppm"),
        F.expr(f"round({vmr}, 6)").alias("burstiness_vmr"),
    ).orderBy(F.desc("df"), F.desc("c_tot"), "term")


@query(
    "text_term_dispersion",
    oracle=f"""
    WITH td AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents)
      GROUP BY term, doc_id
    ),
    dsz AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_i
      FROM documents
    ),
    corp AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n_corpus,
             CAST(count(*) AS BIGINT) AS d_docs
      FROM dsz
    ),
    top AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS c_tot
      FROM td GROUP BY term
      ORDER BY df DESC, c_tot DESC, term LIMIT {_TOP}
    ),
    per AS (
      SELECT td.term,
             max(df) AS df, max(c_tot) AS c_tot,
             max(n_corpus) AS n_corpus, max(d_docs) AS d_docs,
             CAST(sum(n_i) AS BIGINT) AS n_in_docs,
             CAST(sum(abs(CAST(c AS HUGEINT) * n_corpus
                          - CAST(n_i AS HUGEINT) * c_tot)) AS HUGEINT)
               AS nz_abs,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c_sq
      FROM td
      JOIN top ON td.term = top.term
      JOIN dsz ON td.doc_id = dsz.doc_id
      CROSS JOIN corp
      GROUP BY td.term
    )
    SELECT term, df, c_tot,
           CAST((1000000 * (nz_abs
                 + CAST(n_corpus - n_in_docs AS HUGEINT) * c_tot))
                // (2 * CAST(c_tot AS HUGEINT) * n_corpus) AS BIGINT)
             AS dp_ppm,
           round((CAST(d_docs * c_sq - CAST(c_tot AS HUGEINT) * c_tot
                       AS DOUBLE)
                  / (CAST(d_docs AS DOUBLE) * (d_docs - 1.0e0)))
                 / (c_tot * 1.0e0 / d_docs), 6) AS burstiness_vmr
    FROM per ORDER BY df DESC, c_tot DESC, term
    """,
)
def text_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dispersion of the top document-frequency terms: Gries'
    DP in exact ppm (zero cells folded in by the closed-form split)
    and the variance-to-mean burstiness over per-doc counts."""
    return dispersion_frame(table(spark, sf_dir, "documents"))
