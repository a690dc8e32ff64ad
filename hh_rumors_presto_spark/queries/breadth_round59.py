"""Round-59 breadth batch: the CSV NULL contract, Average True
Range, and source-diversity entropy.

- ``scan_csv_null_contract`` — NULLs through CSV, done right: a
  custom null marker distinct from the empty string, written and
  read with matching nullValue options, proven by a census that
  separates NULL from '' — the silent-corruption classic where a
  round trip turns NULL into '' and every IS NULL filter downstream
  quietly changes meaning.
- ``win_atr`` — Average True Range over the daily OHLC series:
  true range = max(H-L, |H - prev_close|, |L - prev_close|) in
  exact cents, 14-day trailing mean as an integral micro division —
  the volatility number position-sizing rules are written against.
- ``corpus_source_entropy`` — Shannon entropy of the corpus'
  source mix in exact micro-nats plus the effective source count
  (exp H): the diversity number that says whether "20 sources"
  means twenty sources or one source plus nineteen rounding
  errors — HHI's information-theoretic sibling at corpus level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# scan_csv_null_contract
# --------------------------------------------------------------------------

_NC_MARK = "\\N"


@query(
    "scan_csv_null_contract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN value IS NOT NULL
                    THEN CAST(floor(CAST(value AS DOUBLE) * 100.0
                                    + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents_sum
    FROM events GROUP BY event_type
    """,
)
def scan_csv_null_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV NULL round trip: values serialize with an explicit
    marker (backslash-N, the classic dump convention) distinct from
    the empty string, and the reader is configured with the SAME
    nullValue — so NULLs come back as NULLs, not as '' or as the
    literal marker string. The census counts NULLs separately from
    the cent sum, which is exactly the split that silently corrupts
    when the contract is broken (every IS NULL filter and COALESCE
    downstream changes meaning). Cents are quantized BEFORE the trip
    so the proof is float-format-independent.

    Scale: scan-contract plumbing; one map-side-combined census
    either way."""
    ev = io.load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.when(
            F.col("value").isNotNull(),
            half_up(F.col("value"), 2),
        ).alias("cents"),
    )
    out_dir = io.scoped_tmp_dir(spark, "csvnull", sf_dir)
    (
        ev.write.mode("overwrite")
        .option("nullValue", _NC_MARK)
        .option("header", "true")
        .csv(out_dir)
    )
    back = (
        spark.read.option("nullValue", _NC_MARK)
        .option("header", "true")
        .option("inferSchema", "false")
        .schema("event_id LONG, event_type STRING, cents LONG")
        .csv(out_dir)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(F.coalesce("cents", F.lit(0)))
        .cast("long")
        .alias("cents_sum"),
    )


# --------------------------------------------------------------------------
# win_atr
# --------------------------------------------------------------------------

_ATR_N = 14


@query(
    "win_atr",
    oracle=f"""
    WITH pur AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS cents,
               CAST(ts AS TIMESTAMP) AS tss, event_id
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    ordered AS (
        SELECT *, row_number() OVER (
                   PARTITION BY day
                   ORDER BY tss DESC, event_id DESC) AS rn_close
        FROM pur
    ),
    ohlc AS (
        SELECT day,
               max(cents) AS h, min(cents) AS l,
               min(CASE WHEN rn_close = 1 THEN cents END) AS c
        FROM ordered GROUP BY day
    ),
    tr AS (
        SELECT day,
               greatest(h - l,
                        abs(h - lag(c) OVER (ORDER BY day)),
                        abs(l - lag(c) OVER (ORDER BY day))) AS tr,
               row_number() OVER (ORDER BY day) AS rn
        FROM ohlc
    ),
    win AS (
        SELECT day, tr,
               sum(tr) OVER (ORDER BY day
                             ROWS BETWEEN {_ATR_N - 1} PRECEDING
                                      AND CURRENT ROW) AS tr_sum,
               count(tr) OVER (ORDER BY day
                               ROWS BETWEEN {_ATR_N - 1} PRECEDING
                                        AND CURRENT ROW) AS n_tr
        FROM tr WHERE tr IS NOT NULL
    )
    SELECT day, CAST(tr AS BIGINT) AS true_range_cents,
           CAST(CASE WHEN n_tr = {_ATR_N}
                     THEN (2000000 * tr_sum + 100 * n_tr)
                          // (200 * n_tr) END AS BIGINT) AS atr_micro
    FROM win
    """,
)
def win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over the daily purchase OHLC: true range =
    max(H-L, |H - prev_close|, |L - prev_close|) — the gap-aware
    range that plain H-L misses when a day opens far from
    yesterday's close — in exact cents (day one falls back to H-L,
    Wilder's convention, because greatest() skips the NULL
    prev-close identically in both engines), with the {_ATR_N}-day
    trailing mean as a half-up integral micro-dollar division (NULL
    until a full window). ATR is what position-sizing and stop-
    distance rules are denominated in; the OHLC collapse reuses
    ts_ohlc's max_by discipline (close = last by (ts, event_id)).

    Scale: fact -> daily OHLC (map-side min/max/max_by partials) ->
    two ordered windows over the calendar-sized series (per
    instrument key at fleet scale)."""
    pur = (
        io.load_events(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            F.col("ts").cast("date").alias("day"),
            half_up(F.col("value"), 2).alias("cents"),
            "ts",
            "event_id",
        )
    )
    ohlc = pur.groupBy("day").agg(
        F.max("cents").alias("h"),
        F.min("cents").alias("l"),
        F.expr("max_by(cents, struct(ts, event_id))").alias("c"),
    )
    wo = Window.orderBy("day")
    tr_col = F.greatest(
        F.col("h") - F.col("l"),
        F.abs(F.col("h") - F.lag("c").over(wo)),
        F.abs(F.col("l") - F.lag("c").over(wo)),
    )
    tr = ohlc.select("day", tr_col.alias("tr")).filter(
        F.col("tr").isNotNull()
    )
    wf = wo.rowsBetween(-(_ATR_N - 1), 0)
    win = tr.select(
        "day",
        "tr",
        F.sum("tr").over(wf).alias("tr_sum"),
        F.count("tr").over(wf).alias("n_tr"),
    )
    return win.select(
        "day",
        F.col("tr").cast("long").alias("true_range_cents"),
        # tr_sum is a CENTS sum — DECIMAL(38,0)-widened numerator
        # (registry.py envelope note; DuckDB side already HUGEINT)
        F.expr(
            f"CASE WHEN n_tr = {_ATR_N}"
            " THEN CAST((2000000 * CAST(tr_sum AS DECIMAL(38,0))"
            " + 100 * n_tr) DIV (200 * n_tr) AS BIGINT) END"
        ).alias("atr_micro"),
    )


# --------------------------------------------------------------------------
# corpus_source_entropy
# --------------------------------------------------------------------------


@query(
    "corpus_source_entropy",
    oracle="""
    WITH src AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS k FROM src),
    terms AS (
        SELECT s.source, s.n, t.total, t.k,
               CAST(floor(1000000.0
                    * (CAST(s.n AS DOUBLE) / t.total)
                    * ln(CAST(t.total AS DOUBLE) / s.n) + 0.5)
                    AS BIGINT) AS h_micro
        FROM src s CROSS JOIN tot t
    )
    SELECT CAST(max(k) AS BIGINT) AS n_sources,
           CAST(max(total) AS BIGINT) AS n_docs,
           CAST(sum(h_micro) AS BIGINT) AS entropy_micro,
           round(exp(sum(h_micro) / 1000000.0), 4)
               AS effective_sources
    FROM terms
    """,
)
def corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix diversity: Shannon entropy of the document-count
    shares per source — each term (n_s/N)·ln(N/n_s) micro-nat
    rounded ONCE so the total is an order-free exact BIGINT — and
    the EFFECTIVE source count exp(H), which is the honest answer to
    "how many sources is this corpus really": twenty equal sources
    give 20.0; one dominant source plus nineteen slivers gives
    barely more than 1. The corpus-level sibling of agg_hhi (which
    weights the head quadratically) and the diversity gate for
    corpus_domain_cap's admission policy.

    Scale: one source-grain count (map-side partials), a one-row
    total broadcast, a |sources|-row term fold."""
    src = (
        io.load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    tot = src.agg(
        F.sum("n").alias("total"), F.count("*").alias("k")
    )
    terms = src.crossJoin(F.broadcast(tot)).select(
        "k",
        "total",
        F.floor(
            1000000.0
            * (F.col("n").cast("double") / F.col("total"))
            * F.log(F.col("total").cast("double") / F.col("n"))
            + 0.5
        )
        .cast("long")
        .alias("h_micro"),
    )
    return terms.agg(
        F.max("k").cast("long").alias("n_sources"),
        F.max("total").cast("long").alias("n_docs"),
        F.sum("h_micro").cast("long").alias("entropy_micro"),
        F.round(
            F.exp(F.sum("h_micro") / 1000000.0), 4
        ).alias("effective_sources"),
    )
