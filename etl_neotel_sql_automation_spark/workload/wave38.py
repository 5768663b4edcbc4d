"""Round-7 wave-38 workloads: the seasonal member of the forecast
family, and the tokenizer-efficiency audit —

- timeseries_holt_winters — additive Holt-Winters over the daily
  order-count series (weekly seasonality, m=7), completing the ladder
  holt_linear (trend) -> croston (intermittent) -> HW (trend +
  season). Exact dyadic integer recurrence (micro units, alpha=1/2,
  beta=1/4, gamma=1/4, zero-seeded seasonals — the convention is
  pinned here):
    err  = y*S - (l + b + s_head)            (one-step residual)
    l'   = (y*S - s_head + l + b) div 2
    b'   = b + (l' - l - b) div 4
    s_h' = s_head + (y*S - l' - s_head) div 4
    seasonal state rotates: (s2..s7, s_h')
  Output: final level/trend, MAE of one-step residuals, and the
  7-day-ahead forecasts l + h*b + s_h. Spark folds the recurrence
  with ONE F.aggregate over the sorted day support (holt_linear
  precedent); DuckDB replays it as a recursive CTE carrying the seven
  seasonal slots as columns.
- text_tokenizer_fertility — chars-per-token and bytes-per-token by
  language (milli units): the fertility table a tokenizer team reads
  per language/source before committing a vocab (high fertility =
  the tokenizer fragments that slice of the corpus).

Determinism: dyadic divisors only in the recurrence (div truncation
identical on negatives — the holt_linear verification); fertility is
floor-divided milli over exact char/byte/token counts (octet_length /
length agree on UTF-8 between engines).

Scale notes: HW is one (day) aggregate + a date-domain-bounded scalar
fold; fertility is one tokenize pass into a |langs|-key combinable
aggregate. Zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _SQL_TOKS, query, table
from ..ops import text as X

_HW_S = 1_000_000
_M = 7


def holt_winters_frame(orders: DataFrame) -> DataFrame:
    """Frame core of timeseries_holt_winters (scaling-probe entry)."""
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("seq"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    zeros = ", ".join(f"'s{j}', CAST(0 AS BIGINT)" for j in range(1, _M + 1))
    rot = ", ".join(f"'s{j}', acc.s{j + 1}" for j in range(1, _M))
    folded = series.select(
        "n_days",
        F.expr(
            f"""
            aggregate(
              slice(seq, 2, greatest(cast(size(seq) as int) - 1, 0)),
              named_struct(
                'l', seq[0].y * CAST({_HW_S} AS BIGINT),
                'b', CAST(0 AS BIGINT),
                'sae', CAST(0 AS BIGINT), {zeros}),
              (acc, e) -> named_struct(
                'l', (e.y * {_HW_S} - acc.s1 + acc.l + acc.b) div 2,
                'b', acc.b
                     + ((e.y * {_HW_S} - acc.s1 + acc.l + acc.b) div 2
                        - acc.l - acc.b) div 4,
                'sae', acc.sae
                       + abs(e.y * {_HW_S} - (acc.l + acc.b + acc.s1)),
                {rot},
                's{_M}', acc.s1
                       + (e.y * {_HW_S}
                          - (e.y * {_HW_S} - acc.s1 + acc.l + acc.b) div 2
                          - acc.s1) div 4
              )
            )
            """
        ).alias("st"),
    ).filter(F.col("n_days") > 0)
    fc = [
        F.expr(f"CAST(st.l + {h} * st.b + st.s{h} AS BIGINT)").alias(
            f"forecast{h}_micro"
        )
        for h in range(1, _M + 1)
    ]
    return folded.select(
        "n_days",
        F.col("st.l").alias("level_micro"),
        F.col("st.b").alias("trend_micro"),
        F.expr("st.sae div greatest(n_days - 1, 1)")
        .cast("bigint")
        .alias("mae_micro"),
        *fc,
    )


def _hw_oracle() -> str:
    scols = ", ".join(f"s{j}" for j in range(1, _M + 1))
    zero_seeds = ", ".join("CAST(0 AS BIGINT)" for _ in range(_M))
    rot = ", ".join(f"rec.s{j + 1}" for j in range(1, _M))
    fc = ",\n           ".join(
        f"CAST(r.l + {h} * r.b + r.s{h} AS BIGINT) AS forecast{h}_micro"
        for h in range(1, _M + 1)
    )
    lp = f"(seq.y * {_HW_S} - rec.s1 + rec.l + rec.b) // 2"
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT row_number() OVER (ORDER BY day) AS i, y FROM daily
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM seq),
    r AS (
      WITH RECURSIVE rec(i, l, b, sae, {scols}) AS (
        SELECT CAST(1 AS BIGINT), y * {_HW_S}, CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), {zero_seeds}
        FROM seq WHERE i = 1
        UNION ALL
        SELECT rec.i + 1,
               {lp},
               rec.b + ({lp} - rec.l - rec.b) // 4,
               rec.sae + abs(seq.y * {_HW_S}
                             - (rec.l + rec.b + rec.s1)),
               {rot},
               rec.s1 + (seq.y * {_HW_S} - ({lp}) - rec.s1) // 4
        FROM rec JOIN seq ON seq.i = rec.i + 1
      )
      SELECT * FROM rec ORDER BY i DESC LIMIT 1
    )
    SELECT n.n_days,
           r.l AS level_micro,
           r.b AS trend_micro,
           CAST(r.sae // greatest(n.n_days - 1, 1) AS BIGINT) AS mae_micro,
           {fc}
    FROM n CROSS JOIN r WHERE n.n_days > 0
    """


@query("timeseries_holt_winters", oracle=_hw_oracle())
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (weekly season, exact dyadic integer
    recurrence) over the daily order-count series: final level/trend,
    one-step MAE, and the 7-day-ahead forecasts in micro-counts."""
    return holt_winters_frame(table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# text_tokenizer_fertility
# ---------------------------------------------------------------------------


def fertility_frame(docs: DataFrame) -> DataFrame:
    """Frame core of text_tokenizer_fertility (scaling-probe entry)."""
    d = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("chars"),
        F.expr("octet_length(text)").cast("bigint").alias("bytes"),
        X.token_count(F.col("text")).cast("bigint").alias("ntok"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("tokens"),
            F.sum("chars").cast("bigint").alias("chars"),
            F.sum("bytes").cast("bigint").alias("bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens",
            F.expr(
                "CAST((1000 * chars) div greatest(1, tokens) AS BIGINT)"
            ).alias("chars_per_token_milli"),
            F.expr(
                "CAST((1000 * bytes) div greatest(1, tokens) AS BIGINT)"
            ).alias("bytes_per_token_milli"),
            F.expr(
                "CAST((1000 * bytes) div greatest(1, chars) AS BIGINT)"
            ).alias("bytes_per_char_milli"),
        )
        .orderBy("lang")
    )


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS bytes,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS ntok
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens,
           CAST((1000 * sum(chars)) // greatest(1, sum(ntok)) AS BIGINT)
             AS chars_per_token_milli,
           CAST((1000 * sum(bytes)) // greatest(1, sum(ntok)) AS BIGINT)
             AS bytes_per_token_milli,
           CAST((1000 * sum(bytes)) // greatest(1, sum(chars)) AS BIGINT)
             AS bytes_per_char_milli
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: chars/bytes per whitespace
    token and bytes per char (milli) — the per-language efficiency
    table a vocab is tuned against."""
    return fertility_frame(table(spark, sf_dir, "documents"))
