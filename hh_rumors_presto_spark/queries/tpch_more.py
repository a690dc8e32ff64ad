"""Additional TPC-H-shaped composite queries (Q10/Q14/Q18 analogs adapted
to the fixture schema) — multi-operator plans that exercise join + agg +
having + disjunctive predicates through a single Catalyst pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, revenue
from hh_rumors_presto_spark.registry import query


@query(
    "sql_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name, n_name, CAST(round(revenue, 2) AS DOUBLE) AS revenue
    FROM (
        SELECT c.c_custkey, c.c_name, n.n_name,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    )
    """,
)
def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 (returned-item revenue): fact spine join + two broadcast dims +
    4-key agg + top-20. One lineitem shuffle."""
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date")
    )
    cust = io.load_table(spark, sf_dir, "customer")
    nation = io.load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("revenue", 2).cast("double").alias("revenue"),
        )
    )


@query(
    "sql_tpch_q14",
    oracle="""
    SELECT
        CAST(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
        * 100.0
        / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE)
            AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-09-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1995-10-01'
    """,
)
def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 (promo revenue share): broadcast part join + conditional/total
    decimal sums -> one exact double division."""
    li = io.load_table(spark, sf_dir, "lineitem")
    part = io.load_table(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    rev = revenue()
    zero = dec(F.lit(0), 4)
    agg = (
        li.filter(
            (sd >= F.lit("1995-09-01").cast("date"))
            & (sd < F.lit("1995-10-01").cast("date"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
            ).alias("promo"),
            F.sum(rev).alias("total"),
        )
    )
    return agg.select(
        (
            F.col("promo").cast("double")
            * 100.0
            / F.col("total").cast("double")
        ).alias("promo_revenue_pct")
    )


@query(
    "sql_tpch_q18",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(28,2))) > 150
    )
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_totalprice,
           CAST((SELECT sum(CAST(l2.l_quantity AS DECIMAL(28,2)))
              FROM lineitem l2 WHERE l2.l_orderkey = o.o_orderkey) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
)
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 (large-volume orders): HAVING over a fact aggregate, semi-joined
    back to orders+customer, top-25. The aggregate is computed once and
    reused for both the filter and the output column."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(dec(F.col("l_quantity"), 2)).alias("total_qty")
    )
    big = qty.filter(F.col("total_qty") > 150)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "filter_disjunctive",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
)
def filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped disjunctive join predicate: the equi-conjunct keeps the
    hash join; the OR-of-bands evaluates post-match (Catalyst also pushes
    the derivable brand/size/quantity envelopes to both scans)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    part = io.load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & q.between(1, 11) & s.between(1, 5))
        | ((b == "Brand#2") & q.between(10, 20) & s.between(1, 10))
        | ((b == "Brand#3") & q.between(20, 30) & s.between(1, 15))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .select("l_orderkey", "l_linenumber")
    )


@query(
    "win_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey
                                         ORDER BY c_acctbal DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / nth_value
    (rational outputs — (rank-1)/(n-1) etc. — so floats match exactly)."""
    from pyspark.sql import Window

    cust = io.load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("c_custkey", 2).over(wf).alias("second_richest"),
    )


@query(
    "array_set_ops",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ')[1:8] AS head,
               string_split(text, ' ')[5:12] AS mid
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
           -- Spark's array_join is '' (latent until a doc's head ⊆ mid)
           coalesce(array_to_string(list_sort(list_distinct(list_intersect(head, mid))), ' '), '') AS common,
           len(list_distinct(list_concat(head, mid))) AS n_union,
           coalesce(array_to_string(list_sort(list_distinct(list_filter(head, x -> NOT list_contains(mid, x)))), ' '), '') AS only_head,
           len(flatten([head, mid])) AS n_flat
    FROM t
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra: intersect / union-distinct / except / flatten
    over token slices (sorted + space-joined: set results compare exactly
    and no array-typed column reaches the driver canonicalizer)."""
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    toks = F.split("text", " ")
    head, mid = F.slice(toks, 1, 8), F.slice(toks, 5, 8)
    return docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_distinct(F.array_intersect(head, mid))), " "
        ).alias("common"),
        F.size(F.array_union(head, mid)).alias("n_union"),
        F.array_join(F.array_sort(F.array_except(head, mid)), " ").alias("only_head"),
        F.size(F.flatten(F.array(head, mid))).alias("n_flat"),
    )


@query(
    "sql_tpch_q7",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey % 10 + 1
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name <> cn.n_name
      AND sn.n_nationkey < 4 AND cn.n_nationkey < 4
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 (volume shipping between nation pairs, adapted: the fixture's
    supplier table is 10 rows so suppkey maps via modulo): double-dimension
    join with an inequality between the two nation legs + 3-key agg.
    Lineitem shuffles once on the orders spine; every dimension broadcasts,
    including nation twice under different aliases."""
    li = io.load_table(spark, sf_dir, "lineitem")
    sup = io.load_table(spark, sf_dir, "supplier")
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer")
    nation = io.load_table(spark, sf_dir, "nation")
    sn = nation.alias("sn")
    cn = nation.alias("cn")
    return (
        li.join(F.broadcast(sup), sup.s_suppkey == li.l_suppkey % 10 + 1)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("sn.n_nationkey") == sup.s_nationkey)
        .join(F.broadcast(cn), F.col("cn.n_nationkey") == cust.c_nationkey)
        .filter(
            (F.col("sn.n_name") != F.col("cn.n_name"))
            & (F.col("sn.n_nationkey") < 4)
            & (F.col("cn.n_nationkey") < 4)
        )
        .groupBy(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(revenue()), 2).cast("double").alias("revenue"))
    )


@query(
    "sql_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1995-07-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1995-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_discount > 0.06
      )
    GROUP BY o.o_orderpriority
    """,
)
def sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order priority checking; the fixture has no
    commit/receipt dates, so 'late lines' becomes 'deeply discounted
    lines'): EXISTS decorrelated to a left-semi join — the lineitem side
    is pre-filtered, so the semi join probes a reduced set; no fan-out,
    no distinct needed."""
    orders = io.load_table(spark, sf_dir, "orders")
    li = io.load_table(spark, sf_dir, "lineitem")
    od = F.col("o_orderdate").cast("date")
    late = li.filter(F.col("l_discount") > 0.06).select("l_orderkey")
    return (
        orders.filter(
            (od >= F.lit("1995-07-01").cast("date"))
            & (od < F.lit("1995-10-01").cast("date"))
        )
        .join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "sql_tpch_q12",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1996-01-01'
    GROUP BY l.l_linestatus
    """,
)
def sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (priority mix per line class; the fixture has no
    l_shipmode/commit/receipt dates, so linestatus stands in for mode and
    the ship-year range for the lateness filter): date filter pushed into
    the lineitem scan, join on the orders spine, conditional counts."""
    orders = io.load_table(spark, sf_dir, "orders")
    li = io.load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    filtered = li.filter(
        (sd >= F.lit("1995-01-01").cast("date"))
        & (sd < F.lit("1996-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        filtered.join(orders, filtered.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "sql_tpch_q22",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
               / count(*) AS v
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT cntrycode,
           count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,2))), 2) AS DOUBLE) AS totacctbal
    FROM (
        SELECT substring(CAST(c_custkey AS VARCHAR), 1, 1) AS cntrycode,
               c_acctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.v
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND CAST(o.o_orderdate AS DATE) >= DATE '2000-06-01'
          )
    )
    GROUP BY cntrycode
    """,
)
def sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 (global sales opportunity, adapted: every fixture customer has
    SOME order, so the probe is 'no order since mid-2000'): scalar
    aggregate broadcast as a filter threshold + anti join against recent
    orders + grouped totals. The scalar subquery never shuffles the fact
    side."""
    cust = io.load_table(spark, sf_dir, "customer")
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("2000-06-01").cast("date")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(dec(F.col("c_acctbal"), 2)).cast("double")
            / F.count("*")
        ).alias("v")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(
            F.substring(F.col("c_custkey").cast("string"), 1, 1).alias("cntrycode")
        )
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(dec(F.col("c_acctbal"), 2)), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical names for the two TPC-H queries that were registered under
# family names in round 1, before the numbered set existed. These are
# zero-duplication delegates — same plan object, same oracle text — so the
# registry's sql_tpch_q* namespace is the complete 22/22 set.

from hh_rumors_presto_spark.queries.advanced import agg_filtered_q6  # noqa: E402
from hh_rumors_presto_spark.queries.aggregation import agg_basic  # noqa: E402
from hh_rumors_presto_spark.registry import ORACLES  # noqa: E402


@query("sql_tpch_q1", oracle=ORACLES["agg_basic"])
def sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) under its canonical name — the
    exact plan registered as agg_basic (queries/aggregation.py:29, where
    the DECIMAL-sum / round-then-cast determinism contract is documented)."""
    return agg_basic(spark, sf_dir)


@query("sql_tpch_q6", oracle=ORACLES["agg_filtered_q6"])
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) under its canonical name — the
    exact plan registered as agg_filtered_q6 (queries/advanced.py:66)."""
    return agg_filtered_q6(spark, sf_dir)
