"""Round-67 breadth batch: repeat-purchase curves, token-length
percentiles by language, and weekday-aware forecast error.

- ``agg_repeat_purchase_curve`` — the Nth-purchase survival curve:
  how many customers ever reach purchase #1, #2, ... #k — the
  repeat-rate ladder whose first two steps (1->2 conversion) decide
  most retention economics.
- ``text_token_length_percentiles`` — exact nearest-rank P50/P90/P99
  of token lengths per language — the tokenizer-budget planning
  table (a language whose P99 token length doubles is about to blow
  a context-length assumption somewhere).
- ``ts_forecast_dow_error`` — seasonal-naive forecast error BY
  WEEKDAY: the same-day-last-week forecast scored per weekday with
  exact integer absolute errors — the readout that shows WHERE the
  naive model fails (weekends, usually) and therefore what a better
  model must fix first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_repeat_purchase_curve
# --------------------------------------------------------------------------

_RP_MAX = 10


@query(
    "agg_repeat_purchase_curve",
    oracle=f"""
    WITH pur AS (
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS k
        FROM events WHERE event_type = 'purchase'
    ),
    reach AS (
        SELECT k, count(*) AS n_customers
        FROM pur WHERE k <= {_RP_MAX} GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS purchase_no,
           CAST(n_customers AS BIGINT) AS n_customers,
           (2000000 * n_customers
            + max(n_customers) OVER ())
               // (2 * max(n_customers) OVER ())
               AS share_of_first_micro,
           CASE WHEN lag(n_customers) OVER (ORDER BY k) IS NOT NULL
                THEN (2000000 * n_customers
                      + lag(n_customers) OVER (ORDER BY k))
                     // (2 * lag(n_customers) OVER (ORDER BY k))
           END AS step_conversion_micro
    FROM reach
    """,
)
def agg_repeat_purchase_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The repeat-purchase ladder: customers reaching purchase #k
    (k <= {_RP_MAX}), each step's share of first-time buyers, and
    the step-to-step conversion rate (reach(k)/reach(k-1)) — all
    half-up integral micro units. The 1->2 step is the number
    retention teams live on: it compounds into everything
    downstream, and the ladder makes visible whether drop-off is
    front-loaded (onboarding) or constant (product).

    Scale: one keyed rank window over purchases, a k-grain census,
    windows over {_RP_MAX} rows."""
    pur = (
        io.load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    "ts", "event_id"
                )
            )
            .alias("k"),
        )
        .filter(F.col("k") <= _RP_MAX)
    )
    reach = pur.groupBy("k").agg(F.count("*").alias("n_customers"))
    wt = Window.partitionBy()
    wo = Window.orderBy("k")
    return reach.select(
        F.col("k").cast("long").alias("purchase_no"),
        F.col("n_customers").cast("long").alias("n_customers"),
        F.expr(
            "(2000000 * n_customers + max(n_customers) OVER ())"
            " div (2 * max(n_customers) OVER ())"
        ).alias("share_of_first_micro"),
        F.when(
            F.lag("n_customers").over(wo).isNotNull(),
            F.floor(
                (
                    2000000 * F.col("n_customers")
                    + F.lag("n_customers").over(wo)
                )
                / (2 * F.lag("n_customers").over(wo))
            ).cast("long"),
        ).alias("step_conversion_micro"),
    )


# --------------------------------------------------------------------------
# text_token_length_percentiles
# --------------------------------------------------------------------------


@query(
    "text_token_length_percentiles",
    oracle="""
    WITH tok AS (
        SELECT lang, length(t) AS len
        FROM (
            SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    ranked AS (
        SELECT lang, len,
               row_number() OVER (PARTITION BY lang ORDER BY len)
                   AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM tok
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN len END)
                AS BIGINT) AS p50,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN len END)
                AS BIGINT) AS p90,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN len END)
                AS BIGINT) AS p99,
           CAST(max(len) AS BIGINT) AS max_len
    FROM ranked GROUP BY lang
    """,
)
def text_token_length_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-length distribution per language: exact nearest-rank
    P50/P90/P99 plus the max — the tokenizer-budget planning table.
    Mean token length is useless here (the tail drives subword
    fertility and context-length blowups); a language whose P99
    doubles between snapshots just started shipping URLs, hashes, or
    concatenated junk as 'words', and every byte-level tokenizer
    downstream will pay for it.

    Scale: one token pass; rank selections are keyed windows per
    language (a mergeable quantile sketch at fleet scale — this is
    the correctness anchor, as agg_winsorized_mean documents)."""
    tok = (
        io.load_table(spark, sf_dir, "documents")
        .select(
            "lang", F.explode(F.split("text", " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .select("lang", F.length("t").alias("len"))
    )
    wk = Window.partitionBy("lang").orderBy("len")
    wn = Window.partitionBy("lang")
    ranked = tok.select(
        "lang",
        "len",
        F.row_number().over(wk).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    def _sel(expr):
        return F.max(F.when(expr, F.col("len"))).cast("long")

    return ranked.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_tokens"),
        _sel(
            F.col("rn") == F.floor((F.col("n") + 1) / 2)
        ).alias("p50"),
        _sel(
            F.col("rn") == F.floor((9 * F.col("n") + 9) / 10)
        ).alias("p90"),
        _sel(
            F.col("rn") == F.floor((99 * F.col("n") + 99) / 100)
        ).alias("p99"),
        F.max("len").cast("long").alias("max_len"),
    )


# --------------------------------------------------------------------------
# ts_forecast_dow_error
# --------------------------------------------------------------------------


@query(
    "ts_forecast_dow_error",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               date_diff('day', DATE '1970-01-05',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7
                   AS dow,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT a.dow,
               abs(a.cents - b.cents) AS abs_err,
               a.cents AS actual
        FROM daily a
        JOIN daily b ON b.day = a.day - to_days(7)
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           CAST(sum(abs_err) AS BIGINT) AS abs_err_cents,
           CAST(sum(actual) AS BIGINT) AS actual_cents,
           CAST((2000000 * sum(abs_err) + sum(actual))
               // (2 * sum(actual)) AS BIGINT) AS wape_micro
    FROM scored GROUP BY dow
    """,
)
def ts_forecast_dow_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error BY WEEKDAY: predict each day
    with the same weekday last week (an exact-date equi-join, 7 days
    back), score per weekday with exact integer absolute errors and
    WAPE = Σ|err|/Σactual in integral micro units. The per-weekday
    split is the diagnostic ts_forecast_backtest's single WAPE
    hides: naive models usually fail on exactly one or two weekdays
    (promo days, weekends), and that's the only place a fancier
    model can pay for itself.

    Scale: daily collapse, one self equi-join on shifted dates (per
    series key at fleet scale), a 7-row fold."""
    daily = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            (
                F.datediff(
                    F.col("ts").cast("date"), F.lit("1970-01-05")
                )
                % 7
            ).alias("dow"),
        )
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
    )
    b = daily.select(
        F.col("day").alias("b_day"), F.col("cents").alias("b_cents")
    )
    scored = daily.join(
        b, F.col("b_day") == F.date_sub(F.col("day"), 7)
    ).select(
        "dow",
        F.abs(F.col("cents") - F.col("b_cents")).alias("abs_err"),
        F.col("cents").alias("actual"),
    )
    return scored.groupBy("dow").agg(
        F.count("*").alias("n_forecasts"),
        F.sum("abs_err").cast("long").alias("abs_err_cents"),
        F.sum("actual").cast("long").alias("actual_cents"),
        F.expr(
            "(2000000 * sum(abs_err) + sum(actual))"
            " div (2 * sum(actual))"
        ).alias("wape_micro"),
    ).select(
        F.col("dow").cast("long").alias("dow"),
        "n_forecasts",
        "abs_err_cents",
        "actual_cents",
        "wape_micro",
    )
