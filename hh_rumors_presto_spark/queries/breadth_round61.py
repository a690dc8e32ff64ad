"""Round-61 breadth batch: the records test, role-playing dimension
joins, and the ABC-XYZ planning matrix.

- ``ts_records_test`` — the records test for trend: in an i.i.d.
  series the expected number of running-maximum records after n
  observations is the harmonic number H_n ≈ ln n; materially more
  records means upward trend, fewer means decline — a trend test
  that needs NO magnitudes at all, just argmax structure.
- ``join_role_playing`` — the star-schema role-playing pattern: ONE
  conformed calendar dimension joined twice under different roles
  (order date and ship date) — the BI-modeling contract that
  avoids maintaining two copies of the same dimension.
- ``agg_abc_xyz`` — the inventory-planning matrix: ABC by revenue
  concentration x XYZ by demand variability (weekly CV), censused
  into the 9 cells that decide stocking policy — AX items get
  automated replenishment, CZ items get made to order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ts_records_test
# --------------------------------------------------------------------------


@query(
    "ts_records_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    marked AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY day) AS t,
               CASE WHEN cents > coalesce(max(cents) OVER (
                        ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS is_record
        FROM daily
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(is_record) AS n_records,
               sum(CAST(floor(1000000.0 / t + 0.5) AS BIGINT))
                   AS harmonic_micro
        FROM marked
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n_records AS BIGINT) AS n_records,
           CAST(harmonic_micro AS BIGINT) AS expected_micro,
           CAST(1000000 * n_records - harmonic_micro AS BIGINT)
               AS excess_micro
    FROM agg
    """,
)
def ts_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The records test on daily purchase totals: count the days that
    set a new running maximum and compare against the i.i.d.
    expectation H_n = Σ 1/t (each term micro-rounded once, so the
    expectation is an exact BIGINT like the count). More records
    than H_n means the series trends up; far fewer means decline —
    and because only the ARGMAX structure matters, the test is
    immune to any monotone transformation of the values, a
    robustness even ts_mann_kendall (which uses pairwise signs)
    can't claim for its variance term.

    Scale: daily collapse, one running-max window over the calendar
    series (per key at fleet scale), a one-row fold."""
    daily = (
        io.load_events(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
    )
    wo = Window.orderBy("day")
    marked = daily.select(
        "cents",
        F.row_number().over(wo).alias("t"),
        F.when(
            F.col("cents")
            > F.coalesce(
                F.max("cents").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1),
            ),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    agg = marked.agg(
        F.count("*").alias("n"),
        F.sum("is_record").alias("n_records"),
        F.sum(
            F.floor(1000000.0 / F.col("t") + 0.5).cast("long")
        ).alias("harmonic_micro"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("n_records").cast("long").alias("n_records"),
        F.col("harmonic_micro").cast("long").alias("expected_micro"),
        (1000000 * F.col("n_records") - F.col("harmonic_micro"))
        .cast("long")
        .alias("excess_micro"),
    )


# --------------------------------------------------------------------------
# join_role_playing
# --------------------------------------------------------------------------


@query(
    "join_role_playing",
    oracle="""
    WITH cal AS (
        SELECT DISTINCT CAST(d AS DATE) AS day,
               date_diff('day', DATE '1970-01-05', CAST(d AS DATE))
                   % 7 AS dow
        FROM (
            SELECT CAST(o_orderdate AS DATE) AS d FROM orders
            UNION ALL
            SELECT CAST(l_shipdate AS DATE) FROM lineitem
        )
    )
    SELECT CAST(co.dow AS BIGINT) AS order_dow,
           CAST(cs.dow AS BIGINT) AS ship_dow,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS cents_sum
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN cal co ON co.day = CAST(o.o_orderdate AS DATE)
    JOIN cal cs ON cs.day = CAST(l.l_shipdate AS DATE)
    GROUP BY co.dow, cs.dow
    """,
)
def join_role_playing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing dimension: ONE conformed calendar dim (derived
    from the union of every date the facts reference, with an
    epoch-anchored weekday attribute) joined TWICE under different
    roles — order date and ship date — to produce the
    ordered-on-weekday x shipped-on-weekday matrix. The star-schema
    contract this pins: the same physical dimension serves every
    date role via aliasing, so its attributes can never drift apart
    between roles the way duplicated dimension tables do.

    Scale: the calendar dim is tiny and broadcast for both roles;
    one fact pass, map-side partials on the 49-cell census."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_shipdate").cast("date").alias("sd"),
        "l_extendedprice",
    )
    cal = (
        orders.select(F.col("od").alias("day"))
        .unionAll(li.select(F.col("sd").alias("day")))
        .distinct()
        .select(
            "day",
            (
                F.datediff(F.col("day"), F.lit("1970-01-05")) % 7
            ).alias("dow"),
        )
    )
    co = cal.select(
        F.col("day").alias("co_day"), F.col("dow").alias("order_dow")
    )
    cs = cal.select(
        F.col("day").alias("cs_day"), F.col("dow").alias("ship_dow")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(co), F.col("od") == F.col("co_day"))
        .join(F.broadcast(cs), F.col("sd") == F.col("cs_day"))
        .groupBy("order_dow", "ship_dow")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                half_up(F.col("l_extendedprice"), 2)
            )
            .cast("long")
            .alias("cents_sum"),
        )
        .select(
            F.col("order_dow").cast("long").alias("order_dow"),
            F.col("ship_dow").cast("long").alias("ship_dow"),
            "n_lines",
            "cents_sum",
        )
    )


# --------------------------------------------------------------------------
# agg_abc_xyz
# --------------------------------------------------------------------------


@query(
    "agg_abc_xyz",
    oracle="""
    WITH li AS (
        SELECT l_partkey AS part,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
               date_diff('day', DATE '1970-01-05',
                         CAST(l_shipdate AS DATE)) // 7 AS wk
        FROM lineitem
    ),
    rev AS (
        SELECT part, sum(cents) AS cents FROM li GROUP BY part
    ),
    abc AS (
        SELECT part,
               CASE WHEN 5 * cum <= 4 * total THEN 'A'
                    WHEN 20 * cum <= 19 * total THEN 'B'
                    ELSE 'C' END AS abc
        FROM (
            SELECT part, cents,
                   sum(cents) OVER (ORDER BY cents DESC, part)
                       AS cum,
                   sum(cents) OVER () AS total
            FROM rev
        )
    ),
    wk_demand AS (
        SELECT part, wk, sum(qty) AS q FROM li GROUP BY part, wk
    ),
    xyz AS (
        SELECT part,
               CASE WHEN 4 * (n * sq - s * s) <= s * s THEN 'X'
                    WHEN n * sq - s * s <= s * s THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM (
            SELECT part, count(*) AS n, sum(q) AS s,
                   sum(q * q) AS sq
            FROM wk_demand GROUP BY part
        )
    )
    SELECT a.abc, x.xyz,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM abc a JOIN xyz x ON x.part = a.part
    GROUP BY a.abc, x.xyz
    """,
)
def agg_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC-XYZ planning matrix: parts classed A/B/C by exact
    cumulative revenue share (agg_abc_analysis' integer boundaries)
    and X/Y/Z by weekly-demand variability via the CV-squared test
    in pure integers — n*Σq² - S² <= S²/4 is CV <= 0.5 (X, steady),
    <= S² is CV <= 1 (Y), else Z (erratic) — censused into 9 cells.
    AX cells (high value, steady demand) get automated
    replenishment; CZ cells get made to order; the matrix IS the
    stocking policy. Every comparison is a cross-multiplied exact
    integer — no float CV anywhere.

    Scale: two part-grain folds (revenue, weekly demand moments);
    the ABC running share uses the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum on negated cents —
    converted round 10, no data-scaled single-partition window);
    a 9-cell census."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        half_up(F.col("l_extendedprice"), 2).alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
        F.floor(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-05")
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
    )
    rev = (
        li.groupBy("part")
        .agg(F.sum("cents").alias("cents"))
        .withColumn("neg", -F.col("cents"))
        .localCheckpoint()
    )
    abc = bucketed_rank_cumsum(
        rev, order_key="neg", tiebreak="part", value_col="cents"
    ).select(
        "part",
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    wk_demand = li.groupBy("part", "wk").agg(F.sum("qty").alias("q"))
    mom = wk_demand.groupBy("part").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    var_n = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    xyz = mom.select(
        F.col("part").alias("xpart"),
        F.when(4 * var_n <= F.col("s") * F.col("s"), "X")
        .when(var_n <= F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, F.col("part") == F.col("xpart"))
        .groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"))
    )
