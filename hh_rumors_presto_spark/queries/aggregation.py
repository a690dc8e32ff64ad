"""Aggregation operators (SURVEY.md §2.B "Aggregation"; generalizes the
reference's debug counters #22 and the group-all fold #25).

Money sums are exact DECIMAL sums (the parity rule is in
``functions.exact``); averages are derived as double(sum_dec)/count, an
identical IEEE division in both engines, so hashes match exactly.

Scale note: all of these are hash aggregates with automatic partial+final
(map-side combine), so the shuffle carries one row per (group, partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, revenue
from hh_rumors_presto_spark.registry import query


@query(
    "agg_basic",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_linestatus,
               sum(CAST(l_quantity AS DECIMAL(28,2))) AS sum_qty,
               sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS sum_base_price,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS sum_disc_price,
               sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS sum_charge,
               sum(CAST(l_discount AS DECIMAL(28,2))) AS sum_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum_qty AS DOUBLE) AS sum_qty,
           CAST(sum_base_price AS DOUBLE) AS sum_base_price,
           CAST(round(sum_disc_price, 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum_charge, 2) AS DOUBLE) AS sum_charge,
           CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
           CAST(sum_base_price AS DOUBLE) / count_order AS avg_price,
           CAST(sum_disc AS DOUBLE) / count_order AS avg_disc,
           count_order
    FROM g
    """,
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan -> 2-key hash agg, 8 aggregates.

    Sums follow ``functions.exact``: exact DECIMAL per row, cast to DOUBLE
    in the FINAL projection (the driver's canonicalizer stringifies Spark
    decimal.Decimal and DuckDB DECIMAL->float64 differently), the
    high-scale product sums round(x, 2)-ed first. ``sum_charge`` casts the
    raw double product price x (1-disc) x (1+tax) at scale 6, not the
    scale-4 revenue.  The lineitem scan is spread on ``l_orderkey``
    (``io.load_spread``), so the per-row DECIMAL sums of the partial
    aggregate run on every core, not in the one task of a one-row-group
    scan."""
    li = io.load_spread(spark, sf_dir, "lineitem", "l_orderkey")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    g = (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"), 2)).alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"), 2)).alias("sum_base_price"),
            F.sum(revenue()).alias("sum_disc_price"),
            F.sum(dec(charge, 6)).alias("sum_charge"),
            F.sum(dec(F.col("l_discount"), 2)).alias("sum_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.round("sum_disc_price", 2).cast("double").alias("sum_disc_price"),
        F.round("sum_charge", 2).cast("double").alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price").cast("double") / F.col("count_order")).alias("avg_price"),
        (F.col("sum_disc").cast("double") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT (expands to per-distinct-key
    partial aggregation under Catalyst)."""
    orders = io.load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(1 AS BIGINT) AS within_rsd
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). At 100 TB this replaces exact
    distinct wherever a ±2% answer is acceptable — no per-distinct-value
    shuffle.

    The raw sketch estimate is engine-specific, so instead of emitting it
    (which forced a rows-only driver check through round 3) the query
    emits the QUALITY CONTRACT as a value: ``within_rsd`` = 1 iff the
    HLL++ estimate sits within 3x the requested 2% relative standard
    deviation of the exact count (computed in the same plan). The oracle
    side states the contract as a literal, so an estimator regression —
    wrong rsd plumbing, a broken hash — flips a value-hashed column
    instead of hiding behind rows-only. Same pattern as sketch_hll_det /
    aqp_sample_mean."""
    orders = io.load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.02)
                - F.countDistinct("o_custkey")
            )
            <= 0.06 * F.countDistinct("o_custkey")
        )
        .cast("bigint")
        .alias("within_rsd"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy with grouping_id disambiguating subtotal rows."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum(dec(F.col("l_quantity"), 2)).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load_table(spark, sf_dir, "orders")
    return li.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.sum(dec(F.col("o_totalprice"), 2)).cast("double").alias("sum_price"),
        F.count("*").alias("n"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "sum_price", "n")


@query(
    "agg_string",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_custkey) AS names,
           count(*) AS n
    FROM customer
    WHERE c_custkey % 50 = 0
    GROUP BY c_nationkey
    """,
)
def agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ref #25's buildPrestoHTML fold,
    index.html:63-80): collect_list is unordered across partitions, so the
    deterministic form is sort_array over (key, value) structs, then join."""
    cust = io.load_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") % 50 == 0)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("c_custkey", "c_name"))),
                    lambda s: s["c_name"],
                ),
            ).alias("names"),
            F.count("*").alias("n"),
        )
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT l_linestatus,
           CAST(round(sum(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
                    ELSE CAST(0 AS DECIMAL(28,4)) END), 2) AS DOUBLE) AS returned_revenue,
           count(CASE WHEN l_quantity > 40 THEN 1 END) AS n_bulk,
           CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation: sum(CASE WHEN ...)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(
            F.sum(
                F.when(F.col("l_returnflag") == "R", revenue()).otherwise(
                    dec(F.lit(0), 4)
                )
            ),
            2,
        ).cast("double").alias("returned_revenue"),
        F.count(F.when(F.col("l_quantity") > 40, F.lit(1))).alias("n_bulk"),
        F.sum(F.when(F.col("l_discount") == 0, 1).otherwise(0)).alias("n_full_price"),
    )


@query(
    "agg_argmax",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    )
    WHERE rn = 1
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max per group via max_by with a struct tiebreaker — one hash agg,
    no window/sort (the oracle uses a window because DuckDB's arg_max can't
    take a composite value; semantics identical)."""
    orders = io.load_table(spark, sf_dir, "orders")
    tie = F.struct("o_totalprice", "o_orderkey")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", tie).alias("best_order"),
        F.max_by("o_totalprice", tie).alias("best_price"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           median(l_quantity) AS med_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics: min/max/median (exact interpolated median matches
    DuckDB bit-for-bit on doubles — verified)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.median("l_quantity").alias("med_qty"),
        F.count("*").alias("n"),
    )


@query(
    "agg_mom_change",
    oracle="""
    WITH monthly AS (
        SELECT o_orderstatus,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               sum(CAST(o_totalprice AS DECIMAL(28,10))) AS tot
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           CAST(month AS DATE) AS month,
           CAST(round(tot, 2) AS DOUBLE) AS total,
           round(CAST(tot - lag(tot) OVER w AS DOUBLE)
                 / CAST(lag(tot) OVER w AS DOUBLE), 6) AS mom_change
    FROM monthly
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY month)
    """,
)
def agg_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth per order status — the BI metrics-layer
    staple: monthly DECIMAL totals (exact under any partitioning), then
    a lag ratio over the AGGREGATED series. First month per status is
    NULL (no prior), both engines. The ratio divides two doubles cast
    from the same exact decimals, so it is bit-identical.

    Scale: the corpus-touching work is one keyed aggregate; the window
    runs over |status x months| rows only."""
    orders = io.load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderstatus",
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
    ).agg(F.sum(dec(F.col("o_totalprice"), 10)).alias("tot"))
    w = Window.partitionBy("o_orderstatus").orderBy("m")
    prev = F.lag("tot").over(w)
    return monthly.select(
        "o_orderstatus",
        F.col("m").cast("date").alias("month"),
        F.round("tot", 2).cast("double").alias("total"),
        F.round(
            (F.col("tot") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_change"),
    )
