"""Round-43 breadth batch: session-depth distribution, IN-list
pushdown, and McNemar's paired classifier test.

- ``agg_session_depth`` — the engagement-depth histogram: 30-minute
  inactivity sessions (ts_sessionize's boundary convention), events
  per session, sessions per depth, and the bounce share — the
  product-analytics readout behind every funnel dashboard's first
  row.
- ``scan_pushdown_in`` — the IN-list predicate must reach the
  parquet scan (plan-gated on PushedFilters: In(event_type, ...)) —
  the difference between reading 2 of 5 partitions' worth of rows
  and reading everything then filtering.
- ``eval_mcnemar`` — McNemar's test on paired predictions: two
  deterministic routers score the SAME rows, only the discordant
  pairs (A right/B wrong vs A wrong/B right) carry information, and
  the continuity-corrected chi-square says whether B actually beats
  A — the statistically right way to compare classifiers on one
  test set (two independent accuracy CIs overlap ≠ no difference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_session_depth
# --------------------------------------------------------------------------

_SD_GAP_MIN = 30


@query(
    "agg_session_depth",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    marked AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w
                         > INTERVAL {_SD_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_new,
               ts, event_id
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                   AS session_no
        FROM marked
    ),
    depth AS (
        SELECT user_id, session_no, count(*) AS depth
        FROM numbered GROUP BY user_id, session_no
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST((2000000 * count(*) + sum(count(*)) OVER ())
               // (2 * sum(count(*)) OVER ()) AS BIGINT) AS share_micro
    FROM depth GROUP BY depth
    """,
)
def agg_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram over {_SD_GAP_MIN}-minute inactivity
    sessions (identical boundary semantics to ts_sessionize — strict
    '>' gap, (ts, event_id) tie order): how many sessions contain
    exactly d events, with each depth's share of all sessions in
    half-up micro units (the depth-1 row IS the bounce rate). The
    first-row readout of every engagement dashboard, and the sanity
    gate for the funnel keys built on the same sessionization.

    Scale: the sessionizing windows are keyed by user; depths fold
    per session, the histogram per depth — map-side partials on both
    folds; the share window runs over the |depths|-sized result."""
    base = io.load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = base.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > _SD_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = marked.select(
        "user_id",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    depth = numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("depth")
    )
    hist = depth.groupBy("depth").agg(
        F.count("*").alias("n_sessions")
    )
    wt = Window.partitionBy()
    return hist.withColumn(
        "total", F.sum("n_sessions").over(wt)
    ).select(
        F.col("depth").cast("long").alias("depth"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.expr(
            "(2000000 * n_sessions + total) div (2 * total)"
        ).alias("share_micro"),
    )


# --------------------------------------------------------------------------
# scan_pushdown_in
# --------------------------------------------------------------------------


@query(
    "scan_pushdown_in",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY event_type
    """,
)
def scan_pushdown_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate pushdown: the event_type IN ('view','click')
    filter must appear in the parquet scan's PushedFilters (the plan
    gate asserts In(event_type...)), so row groups whose min/max
    statistics exclude both values are skipped at the reader — the
    filter runs in the format, not in Spark. Paired with a two-column
    projection so ReadSchema stays narrow.

    Scale: pushdown + pruning is the difference between an I/O bill
    proportional to the selected types and one proportional to the
    table; the aggregate itself is a plain map-side-combined
    groupBy."""
    ev = io.load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select("event_type", "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# eval_mcnemar
# --------------------------------------------------------------------------


@query(
    "eval_mcnemar",
    oracle="""
    WITH pts AS (
        SELECT event_type AS actual,
               CASE WHEN cents < 2000 THEN 'view'
                    WHEN cents < 4000 THEN 'click'
                    WHEN cents < 6000 THEN 'signup'
                    WHEN cents < 8000 THEN 'purchase'
                    ELSE 'error' END AS pred_a,
               CASE WHEN cents < 1500 THEN 'view'
                    WHEN cents < 3500 THEN 'click'
                    WHEN cents < 5500 THEN 'signup'
                    WHEN cents < 7500 THEN 'purchase'
                    ELSE 'error' END AS pred_b
        FROM (
            SELECT event_type,
                   CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
        )
    ),
    cm AS (
        SELECT sum(CASE WHEN pred_a = actual AND pred_b = actual
                   THEN 1 ELSE 0 END) AS n11,
               sum(CASE WHEN pred_a = actual AND pred_b <> actual
                   THEN 1 ELSE 0 END) AS b,
               sum(CASE WHEN pred_a <> actual AND pred_b = actual
                   THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN pred_a <> actual AND pred_b <> actual
                   THEN 1 ELSE 0 END) AS n00
        FROM pts
    )
    SELECT CAST(n11 AS BIGINT) AS both_right,
           CAST(b AS BIGINT) AS a_only,
           CAST(c AS BIGINT) AS b_only,
           CAST(n00 AS BIGINT) AS both_wrong,
           round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / (b + c), 6) AS chi2
    FROM cm
    """,
)
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two deterministic value-bucket
    routers scoring the SAME rows: only the discordant cells matter
    (b = A right where B is wrong, c = the reverse), and the
    continuity-corrected chi2 = (|b-c|-1)^2/(b+c) (1 df; > 3.84 =
    the routers genuinely differ at 5%). This is the correct
    comparison on one shared test set — comparing two marginal
    accuracy intervals throws away the pairing and loses power.
    Cell counts are exact BIGINTs; chi2 is one division.

    Scale: one fact pass to a one-row 2x2 fold — map-side partials
    all the way."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("actual"),
            half_up(F.col("value"), 2).alias("cents"),
        )
    )

    def _router(cuts):
        return (
            F.when(F.col("cents") < cuts[0], "view")
            .when(F.col("cents") < cuts[1], "click")
            .when(F.col("cents") < cuts[2], "signup")
            .when(F.col("cents") < cuts[3], "purchase")
            .otherwise("error")
        )

    scored = pts.select(
        "actual",
        _router((2000, 4000, 6000, 8000)).alias("pred_a"),
        _router((1500, 3500, 5500, 7500)).alias("pred_b"),
    )
    a_ok = F.col("pred_a") == F.col("actual")
    b_ok = F.col("pred_b") == F.col("actual")
    cm = scored.agg(
        F.sum(F.when(a_ok & b_ok, 1).otherwise(0)).alias("n11"),
        F.sum(F.when(a_ok & ~b_ok, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~a_ok & b_ok, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~a_ok & ~b_ok, 1).otherwise(0)).alias("n00"),
    )
    d = F.abs(F.col("b") - F.col("c")) - 1
    return cm.select(
        F.col("n11").cast("long").alias("both_right"),
        F.col("b").cast("long").alias("a_only"),
        F.col("c").cast("long").alias("b_only"),
        F.col("n00").cast("long").alias("both_wrong"),
        F.round(
            (d * d).cast("double") / (F.col("b") + F.col("c")), 6
        ).alias("chi2"),
    )
