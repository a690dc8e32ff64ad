"""Window-function operators (SURVEY.md §2.B "Window functions";
generalizes the reference's forward-fill #7, per-page cap #12, offset
window #17).

Every window here is keyed (partitionBy a real column) — never an
unpartitioned global window, which would shuffle the whole table into one
partition. Order specs always include a unique tiebreaker so results are
deterministic under the driver's value-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.operators import forward_fill, per_group_top_k
from hh_rumors_presto_spark.registry import query


@query(
    "win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over a per-nation window."""
    cust = io.load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_laglead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)        OVER w AS prev_value,
           lead(value)       OVER w AS next_value,
           lag(value, 2, -1.0) OVER w AS prev2_value,
           first_value(value) OVER w AS first_val
    FROM (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_laglead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead/first_value per user in event-time order."""
    ev = io.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
        F.first("value").over(wf).alias("first_val"),
    )


@query(
    "win_ffill",
    oracle="""
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    """,
)
def win_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF forward-fill (ref #7 date forward-fill, fetchRumors.js:96-100):
    error events carry no value and inherit the previous one."""
    ev = io.load_table(spark, sf_dir, "events")
    nulled = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    out = forward_fill(
        nulled,
        "v",
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        out_col="filled_value",
    )
    return out.select("event_id", "user_id", "filled_value")


@query(
    "win_frames",
    oracle="""
    WITH t AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(o_orderdate AS DATE) AS od
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
               PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total,
           count(*) OVER (
               PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS cnt3,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
               PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS sum3,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS near_sum
    FROM t
    """,
)
def win_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregates: running total, 3-row sliding sum/count, numeric
    RANGE frame. Sums over DECIMAL so sliding-window arithmetic is exact and
    order-insensitive in both engines."""
    orders = io.load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("od"),
        dec(F.col("o_totalprice"), 2).alias("tp_dec"),
    )
    w_time = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    w_run = w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_3 = w_time.rowsBetween(-2, Window.currentRow)
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return t.select(
        "o_custkey",
        "o_orderkey",
        F.sum("tp_dec").over(w_run).cast("double").alias("running_total"),
        F.count("*").over(w_3).alias("cnt3"),
        F.sum("tp_dec").over(w_3).cast("double").alias("sum3"),
        F.sum("tp_dec").over(w_range).cast("double").alias("near_sum"),
    )


@query(
    "win_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def win_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (ref #12 per-page cap / #13 per-tag cap). Catalyst
    rewrites rank<=k filters into per-partition top-k (WindowGroupLimit), so
    no group ever materializes fully.  The orders scan is spread on
    ``o_custkey`` (``io.load_spread``), the window's own clustering, so
    that one exchange both feeds every core and serves the window."""
    orders = io.load_spread(spark, sf_dir, "orders", "o_custkey")
    out = per_group_top_k(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "rn")


@query(
    "win_time_range",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE user_id < 20
    )
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(round(sum(CAST(value AS DECIMAL(28,2))) OVER w, 2) AS DOUBLE)
               AS sum_last_hour
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per-user trailing-1-hour count and sum at
    every event (the sliding-lookback metric shape). Spark's rangeBetween
    needs a numeric ordering column, so the frame orders by unix_micros
    with a 3600e6-microsecond lookback — exactly the oracle's INTERVAL 1
    HOUR frame at the µs precision both engines store (sums in decimal,
    rounded once)."""
    ev = io.load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum(dec(F.col("value"), 2)).over(w), 2)
        .cast("double")
        .alias("sum_last_hour"),
    )
