"""Round-46 breadth batch: expected shortfall, a lead-lag
cross-correlation scan, and multi-character-delimiter CSV.

- ``agg_cvar_es`` — VaR95 + expected shortfall (CVaR): the exact
  nearest-rank 95th percentile and the exact mean of the tail at or
  beyond it. ES is the coherent risk measure VaR isn't (VaR says
  "where the tail starts", ES says "how bad it is once you're in
  it") — and the tail mean is where float row-sums go to die, so
  it's integer cents end to end.
- ``ts_xcorr_lead_scan`` — normalized cross-correlation between the
  view and purchase daily series at every lag in [-7, +7]: the
  which-metric-leads-and-by-how-much scan that generalizes
  ts_cross_correlation's single lag and complements ts_granger_lite
  with the full profile.
- ``scan_csv_multichar_delim`` — the '|||'-delimited feed: Spark's
  multi-character sep support round-tripped through a text write,
  proven lossless against the source table — the awkward-vendor-feed
  scan contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_cvar_es
# --------------------------------------------------------------------------


@query(
    "agg_cvar_es",
    oracle="""
    WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               o_orderkey,
               row_number() OVER (
                   ORDER BY floor(o_totalprice * 100.0 + 0.5),
                            o_orderkey) AS rk,
               count(*) OVER () AS n
        FROM orders
    ),
    cut AS (
        SELECT cents AS var_cents, rk AS var_rk, n
        FROM vals WHERE rk = (19 * n + 19) // 20
    )
    SELECT CAST(c.n AS BIGINT) AS n,
           CAST(c.var_cents AS BIGINT) AS var95_cents,
           CAST(count(*) AS BIGINT) AS tail_n,
           CAST((2000000 * sum(v.cents) + 100 * count(*))
               // (200 * count(*)) AS BIGINT) AS es_micro
    FROM vals v CROSS JOIN cut c
    WHERE v.rk >= c.var_rk
    GROUP BY c.n, c.var_cents
    """,
)
def agg_cvar_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk (95%, exact nearest-rank: position ceil(0.95n)
    by integer cross-multiplication) and Expected Shortfall — the
    exact mean of every observation at or beyond the VaR rank — over
    order totals in integer cents. ES is the coherent tail measure:
    two books can share a VaR while one hides a catastrophic tail,
    and only ES tells them apart. The tail mean is a half-up
    integral micro division of exact BIGINT sums, never a float
    row-sum over the tail.

    Scale: ranks come from the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum, rank-only — converted
    round 10), so the fact is never sorted on one task; the operator's
    branches re-read a 2-column pruned parquet scan in parallel, which
    beats a single-partition sort at any scale (a mergeable quantile
    sketch is the even-cheaper cut at fleet scale). The tail fold is
    rank-pruned to 5% of rows."""
    vals = io.load_table(spark, sf_dir, "orders").select(
        half_up(F.col("o_totalprice"), 2).alias("cents"),
        "o_orderkey",
    )
    ranked = bucketed_rank_cumsum(
        vals, order_key="cents", tiebreak="o_orderkey"
    ).select("cents", "rk", "n")
    cut = ranked.filter(
        F.col("rk") == F.floor((19 * F.col("n") + 19) / 20)
    ).select(
        F.col("cents").alias("var_cents"),
        F.col("rk").alias("var_rk"),
        F.col("n").alias("nn"),
    )
    tail = ranked.crossJoin(F.broadcast(cut)).filter(
        F.col("rk") >= F.col("var_rk")
    )
    return (
        tail.groupBy("nn", "var_cents")
        .agg(
            F.count("*").alias("tail_n"),
            F.sum("cents").alias("tail_sum"),
        )
        .select(
            F.col("nn").cast("long").alias("n"),
            F.col("var_cents").cast("long").alias("var95_cents"),
            F.col("tail_n").cast("long").alias("tail_n"),
            # tail_sum is a CENTS sum — DECIMAL(38,0)-widened numerator
            # (registry.py envelope note; DuckDB side already HUGEINT)
            F.expr(
                "CAST((2000000 * CAST(tail_sum AS DECIMAL(38,0))"
                " + 100 * tail_n) DIV (200 * tail_n) AS BIGINT)"
            ).alias("es_micro"),
        )
    )


# --------------------------------------------------------------------------
# ts_xcorr_lead_scan
# --------------------------------------------------------------------------

_XC_MAXLAG = 7


@query(
    "ts_xcorr_lead_scan",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CASE WHEN event_type = 'view'
                   THEN CAST(floor(CAST(value AS DOUBLE) + 0.5)
                             AS BIGINT) ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(CAST(value AS DOUBLE) + 0.5)
                             AS BIGINT) ELSE 0 END) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ),
    bounds AS (
        SELECT count(*) AS d, sum(x) AS sx, sum(y) AS sy FROM daily
    ),
    cen AS (
        SELECT day, x * b.d - b.sx AS xc, y * b.d - b.sy AS yc
        FROM daily CROSS JOIN bounds b
    ),
    den AS (
        SELECT sqrt(CAST(sum(xc * xc) AS DOUBLE)
                    * CAST(sum(yc * yc) AS DOUBLE)) AS dd
        FROM cen
    ),
    lags AS (
        SELECT CAST(range AS BIGINT) - {_XC_MAXLAG} AS lag
        FROM range({2 * _XC_MAXLAG + 1})
    ),
    xr AS (
        SELECT l.lag, count(*) AS n_overlap,
               round(sum(a.xc * b.yc) / max(den.dd), 6) AS r
        FROM lags l
        JOIN cen a ON TRUE
        JOIN cen b ON b.day = a.day + to_days(CAST(l.lag AS INT))
        CROSS JOIN den
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           r,
           CAST(CASE WHEN row_number() OVER (
                         ORDER BY abs(r) DESC, lag) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM xr
    """,
)
def ts_xcorr_lead_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized cross-correlation between daily view and purchase
    totals at every lag in [-{_XC_MAXLAG}, +{_XC_MAXLAG}] (positive
    lag = views LEAD purchases by that many days): exactly-centered
    integer series, exact BIGINT lag numerators via shifted-date
    equi-joins, one shared float denominator. The argmax-|r| row is
    flagged — the metric-causality profile that ts_granger_lite
    tests at one lag and win_rolling_corr tracks at lag zero.

    Scale: the fact collapses to daily rows; each lag is one
    equi-join on a shifted date over the calendar-sized series —
    {2 * _XC_MAXLAG + 1} x series length, never quadratic."""
    daily = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.floor(F.col("value").cast("double") + 0.5).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value").cast("double") + 0.5).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    bounds = daily.agg(
        F.count("*").alias("d"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    cen = daily.crossJoin(F.broadcast(bounds)).select(
        "day",
        (F.col("x") * F.col("d") - F.col("sx")).alias("xc"),
        (F.col("y") * F.col("d") - F.col("sy")).alias("yc"),
    ).localCheckpoint()
    den = cen.agg(
        F.sqrt(
            F.sum(F.col("xc") * F.col("xc")).cast("double")
            * F.sum(F.col("yc") * F.col("yc")).cast("double")
        ).alias("dd")
    )
    lags = spark.range(2 * _XC_MAXLAG + 1).select(
        (F.col("id") - _XC_MAXLAG).alias("lag")
    )
    a = cen.select(F.col("day").alias("a_day"), "xc")
    b = cen.select(F.col("day").alias("b_day"), "yc")
    xr = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b_day")
            == F.date_add(F.col("a_day"), F.col("lag").cast("int")),
        )
        .crossJoin(F.broadcast(den))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_overlap"),
            F.round(
                F.sum(F.col("xc") * F.col("yc")) / F.max("dd"), 6
            ).alias("r"),
        )
    )
    wb = Window.orderBy(F.abs(F.col("r")).desc(), "lag")
    return xr.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "r",
        F.when(F.row_number().over(wb) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# --------------------------------------------------------------------------
# scan_csv_multichar_delim
# --------------------------------------------------------------------------

_MCD_SEP = "|||"


@query(
    "scan_csv_multichar_delim",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_id_sum,
           CAST(sum(event_id) AS BIGINT) AS event_id_sum
    FROM events GROUP BY event_type
    """,
)
def scan_csv_multichar_delim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-character-delimiter feed round trip: events are
    re-serialized as '|||'-separated text lines and read back with
    Spark's multi-char sep support (a 3.x+ capability many engines
    lack — the vendor-feed formats that use '|||' or '~^~' exist
    precisely because their fields contain every single-char
    delimiter). Losslessness is proven by aggregating the re-read
    rows against the source table directly — same discipline as
    scan_log_parse.

    Scale: scan-contract plumbing; the census is one map-side-
    combined groupBy either way."""
    ev = io.load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    out_dir = io.scoped_tmp_dir(spark, "mcd", sf_dir)
    (
        ev.select(
            F.concat_ws(
                _MCD_SEP,
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                F.col("event_type"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(out_dir)
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = (
        spark.read.option("sep", _MCD_SEP)
        .schema(schema)
        .csv(out_dir)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").cast("long").alias("user_id_sum"),
        F.sum("event_id").cast("long").alias("event_id_sum"),
    )
