"""Round-23 breadth batch: Tukey-fence outliers, join-consistent
sampling, and growth accounting.

- ``ts_iqr_fence`` — the boxplot (Tukey) outlier rule per series:
  nearest-rank quartiles SELECTED (never interpolated), integer
  fences at 1.5×IQR, outlier-day counts — the robust complement to
  ``win_anomaly_zscore`` (moment-based) and ``ts_esd_outliers``
  (iterative).
- ``join_sample_consistent`` — JOIN-CONSISTENT sampling: sample both
  fact tables by the SAME key hash so the join of the samples IS a
  sample of the join (referential integrity survives) — the only
  correct way to downsample a multi-table warehouse for dev/test.
- ``agg_growth_accounting`` — the new/retained/resurrected/churned
  decomposition per weekly period — the growth-accounting identity
  every DAU/WAU dashboard is built on, in exact integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ts_iqr_fence
# --------------------------------------------------------------------------

_DAILY_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    )
"""


@query(
    "ts_iqr_fence",
    oracle=_DAILY_SQL
    + """,
    ranked AS (
        SELECT event_type, day, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY cents, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    quart AS (
        SELECT event_type, max(n) AS n_days,
               min(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS q1,
               min(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN cents END) AS q3
        FROM ranked GROUP BY event_type
    ),
    fences AS (
        SELECT event_type, n_days, q1, q3,
               q1 - 3 * (q3 - q1) // 2 AS lo_fence,
               q3 + 3 * (q3 - q1) // 2 AS hi_fence
        FROM quart
    )
    SELECT f.event_type, CAST(f.n_days AS BIGINT) AS n_days,
           CAST(f.q1 AS BIGINT) AS q1, CAST(f.q3 AS BIGINT) AS q3,
           CAST(f.lo_fence AS BIGINT) AS lo_fence,
           CAST(f.hi_fence AS BIGINT) AS hi_fence,
           CAST(count(CASE WHEN d.cents < f.lo_fence
                           OR d.cents > f.hi_fence THEN 1 END)
                AS BIGINT) AS n_outliers
    FROM fences f JOIN daily d ON d.event_type = f.event_type
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def ts_iqr_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per event-type daily series: nearest-rank
    quartiles are SELECTED rows (row_number = (n-1)//4+1 and
    3(n-1)//4+1 under the (cents, day) total order — no interpolation,
    no floats), fences sit 1.5×IQR out in exact integer arithmetic
    (3·IQR DIV 2), and days beyond a fence are counted. The robust
    outlier rule that needs no distributional assumption.

    Scale: the fact collapses to daily partials once; the quartile
    window and fence counts run on the calendar-sized daily table,
    keyed by event_type throughout."""
    daily = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
        .localCheckpoint()
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "day")
    wc = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    quart = ranked.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(n - 1) DIV 4 + 1"), F.col("cents")
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("rn") == F.expr("3 * (n - 1) DIV 4 + 1"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    fences = quart.select(
        "event_type",
        "n_days",
        "q1",
        "q3",
        F.expr("q1 - 3 * (q3 - q1) DIV 2").alias("lo_fence"),
        F.expr("q3 + 3 * (q3 - q1) DIV 2").alias("hi_fence"),
    )
    return (
        daily.select("event_type", "cents")
        .join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "n_days", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.count(
                F.when(
                    (F.col("cents") < F.col("lo_fence"))
                    | (F.col("cents") > F.col("hi_fence")),
                    1,
                )
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("q1").cast("long").alias("q1"),
            F.col("q3").cast("long").alias("q3"),
            F.col("lo_fence").cast("long").alias("lo_fence"),
            F.col("hi_fence").cast("long").alias("hi_fence"),
            "n_outliers",
        )
    )


# --------------------------------------------------------------------------
# join_sample_consistent
# --------------------------------------------------------------------------

_JS_PCT = 20  # keep ~20% of order keys


def _keep_sql(col: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) % 100 < {_JS_PCT}"
    )


@query(
    "join_sample_consistent",
    oracle=f"""
    WITH so AS (
        SELECT * FROM orders WHERE {_keep_sql("o_orderkey")}
    ),
    sl AS (
        SELECT * FROM lineitem WHERE {_keep_sql("l_orderkey")}
    )
    SELECT o.o_orderpriority AS priority,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(floor(CAST(l.l_extendedprice AS DOUBLE) * 100.0
                                + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM so o JOIN sl l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_sample_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-CONSISTENT sampling (a.k.a. correlated / universe
    sampling): both tables keep a row iff the SAME deterministic hash
    of the JOIN KEY falls under {_JS_PCT}% — so the join of the two
    samples is exactly the {_JS_PCT}% key-universe sample of the full
    join, referential integrity intact. Independent per-table Bernoulli
    sampling would keep only ~{_JS_PCT}%² of joined pairs and orphan
    the rest; key-hash sampling is the only way to build a small but
    JOINABLE dev warehouse. Same md5 idiom as sample_hash.

    Scale: the hash predicate is a pure narrow filter on each scan
    (no coordination between tables needed — that's the point); the
    join then runs on the reduced tables."""
    def keep(col: str) -> F.Column:
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        ).cast("long")
        return h % 100 < _JS_PCT

    orders = io.load_table(spark, sf_dir, "orders").filter(
        keep("o_orderkey")
    )
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        keep("l_orderkey")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
            F.count("*").cast("long").alias("n_lineitems"),
            F.sum(
                half_up(F.col("l_extendedprice"), 2)
            )
            .cast("long")
            .alias("revenue_c"),
        )
    )


# --------------------------------------------------------------------------
# agg_growth_accounting
# --------------------------------------------------------------------------


@query(
    "agg_growth_accounting",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    base AS (SELECT min(day) AS d0 FROM ev),
    up AS (
        SELECT DISTINCT e.user_id,
               date_diff('day', b.d0, e.day) // 7 AS period
        FROM ev e CROSS JOIN base b
    ),
    flags AS (
        SELECT user_id, period,
               min(period) OVER (PARTITION BY user_id) AS first_period,
               lag(period) OVER (
                   PARTITION BY user_id ORDER BY period) AS prev_period
        FROM up
    ),
    states AS (
        SELECT period,
               CASE WHEN period = first_period THEN 'new'
                    WHEN prev_period = period - 1 THEN 'retained'
                    ELSE 'resurrected' END AS state
        FROM flags
    ),
    churn AS (
        SELECT period + 1 AS period, count(*) AS churned
        FROM flags f
        WHERE NOT EXISTS (
            SELECT 1 FROM up u
            WHERE u.user_id = f.user_id AND u.period = f.period + 1
        )
        GROUP BY period + 1
    ),
    act AS (
        SELECT period,
               count(CASE WHEN state = 'new' THEN 1 END) AS new_users,
               count(CASE WHEN state = 'retained' THEN 1 END) AS retained,
               count(CASE WHEN state = 'resurrected' THEN 1 END)
                   AS resurrected
        FROM states GROUP BY period
    )
    SELECT CAST(a.period AS BIGINT) AS period,
           CAST(a.new_users AS BIGINT) AS new_users,
           CAST(a.retained AS BIGINT) AS retained,
           CAST(a.resurrected AS BIGINT) AS resurrected,
           CAST(coalesce(c.churned, 0) AS BIGINT) AS churned
    FROM act a LEFT JOIN churn c ON c.period = a.period
    """,
)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the new / retained / resurrected / churned
    decomposition per weekly period (periods indexed relative to the
    stream start, so the key is timezone-invariant): new = first-ever
    period, retained = also active the period before, resurrected =
    returning after a gap, churned = active last period but absent
    this one (attributed to the period they went missing). The
    identity active(p) = new + retained + resurrected and the DAU/WAU
    ledger every growth dashboard decomposes.

    Scale: the fact collapses to DISTINCT (user, period) first (one
    map-side-combinable aggregate); the lag/min windows are keyed by
    user; churn is a self anti-join on (user, period+1) — all
    user-period-sized, never event-sized."""
    ev = io.load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    base = ev.agg(F.min("day").alias("d0"))
    up = (
        ev.crossJoin(F.broadcast(base))
        .select(
            "user_id",
            F.expr("datediff(day, d0) DIV 7").alias("period"),
        )
        .distinct()
        .localCheckpoint()
    )
    wu = Window.partitionBy("user_id")
    wlag = Window.partitionBy("user_id").orderBy("period")
    flags = up.select(
        "user_id",
        "period",
        F.min("period").over(wu).alias("first_period"),
        F.lag("period").over(wlag).alias("prev_period"),
    )
    states = flags.select(
        "period",
        F.when(F.col("period") == F.col("first_period"), "new")
        .when(F.col("prev_period") == F.col("period") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    act = states.groupBy("period").agg(
        F.count(F.when(F.col("state") == "new", 1)).alias("new_users"),
        F.count(F.when(F.col("state") == "retained", 1)).alias("retained"),
        F.count(F.when(F.col("state") == "resurrected", 1)).alias(
            "resurrected"
        ),
    )
    churn = (
        flags.select("user_id", (F.col("period") + 1).alias("period"))
        .join(up, ["user_id", "period"], "left_anti")
        .groupBy("period")
        .agg(F.count("*").alias("churned"))
    )
    return (
        act.join(churn, "period", "left")
        .select(
            F.col("period").cast("long").alias("period"),
            F.col("new_users").cast("long").alias("new_users"),
            F.col("retained").cast("long").alias("retained"),
            F.col("resurrected").cast("long").alias("resurrected"),
            F.coalesce(F.col("churned"), F.lit(0))
            .cast("long")
            .alias("churned"),
        )
    )
