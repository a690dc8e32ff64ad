"""Advanced relational coverage: SQL-API queries, grouping sets, pivot,
correlated subqueries, approximate quantiles, unionByName, from_json
structs — the remaining §2.B rows plus classic TPC-H shapes (Q3/Q6) that
exercise multi-operator compositions through one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, dec_type
from hh_rumors_presto_spark.registry import query


@query(
    "sql_tpch_q3",
    oracle="""
    SELECT l_orderkey, CAST(round(revenue, 2) AS DOUBLE) AS revenue, orderdate
    FROM (
        SELECT l.l_orderkey,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
          AND CAST(l.l_shipdate AS DATE) > DATE '1996-01-01'
        GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    )
    """,
)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through the SQL API — text SQL over
    registered views compiles to the same Catalyst plan as the DataFrame
    form; the segment/date filters push below both joins. Revenue is an
    exact DECIMAL sum (``functions.exact``) cast to DOUBLE in the final
    projection; the TOP-10 is taken on the exact decimal value before the
    cast."""
    io.register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_orderkey, CAST(round(revenue, 2) AS DOUBLE) AS revenue, orderdate
        FROM (
            SELECT l.l_orderkey,
                   sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS {dec_type(4)})) AS revenue,
                   CAST(o.o_orderdate AS DATE) AS orderdate
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
              AND CAST(l.l_shipdate AS DATE) > DATE '1996-01-01'
            GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        )
        """
    )


@query(
    "agg_filtered_q6",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def agg_filtered_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): tight multi-predicate scan into a
    single-row aggregate — pure pushdown + map-side partials, no shuffle of
    any width."""
    li = io.load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (sd >= F.lit("1995-01-01").cast("date"))
            & (sd < F.lit("1996-01-01").cast("date"))
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(dec(F.col("l_extendedprice") * F.col("l_discount"), 4)),
                2,
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SQL form — the DataFrame API exposes only
    rollup/cube; the set list here equals ROLLUP but is spelled as sets)."""
    io.register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(28,2)) END) AS DOUBLE) AS qty_O,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(28,2)) END) AS DOUBLE) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows -> columns over an explicit value list (explicit list
    means no extra distinct-values job and a stable output schema)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec(F.col("l_quantity"), 2)))
    )
    return out.select(
        "l_returnflag",
        F.col("O").cast("double").alias("qty_O"),
        F.col("F").cast("double").alias("qty_F"),
    )


@query(
    "agg_approx_quantile",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(q AS DOUBLE) AS q, n,
           CAST(1 AS BIGINT) AS within_rank_tol
    FROM g CROSS JOIN (VALUES (0.5), (0.95), (0.99)) AS qs(q)
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch). The 100 TB replacement for
    exact quantiles — mergeable sketches, no global sort.

    The estimate itself is engine-specific, so through round 3 this was
    rows-only (its r1 array output also crashed the driver canonicalizer).
    Graduated via the published accuracy contract instead: with
    accuracy=10000, percentile_approx returns a DATASET ELEMENT whose
    rank is within n/10000 of the target rank. ``within_rank_tol`` = 1
    iff the target rank q*n falls inside the returned value's rank
    interval [count(<v)+1, count(<=v)] widened by that tolerance (+1 for
    target-rank rounding). The verification pass joins the 3-row-per-group
    quantile table back to the fact table as a broadcast and counts — one
    extra fact scan, no sort. The oracle states the contract as a
    literal, so a sketch regression flips a value-hashed column."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    qs = [0.5, 0.95, 0.99]
    agged = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", qs, 10000
        ).alias("price_quantiles"),
        F.count("*").alias("n"),
    )
    approx = agged.select(
        "l_returnflag",
        F.posexplode("price_quantiles").alias("qpos", "v"),
        "n",
    ).select(
        "l_returnflag",
        F.element_at(
            F.array(*[F.lit(q) for q in qs]), F.col("qpos") + 1
        ).alias("q"),
        "v",
        "n",
    )
    ranks = (
        li.join(
            F.broadcast(approx.select("l_returnflag", "q", "v")),
            "l_returnflag",
        )
        .groupBy("l_returnflag", "q")
        .agg(
            F.sum(
                (F.col("l_extendedprice") < F.col("v")).cast("bigint")
            ).alias("cnt_lt"),
            F.sum(
                (F.col("l_extendedprice") <= F.col("v")).cast("bigint")
            ).alias("cnt_le"),
        )
    )
    target = F.ceil(F.col("q") * F.col("n")).cast("bigint")
    tol = (F.col("n") / 10000 + 1).cast("bigint")
    return (
        approx.join(ranks, ["l_returnflag", "q"])
        .select(
            "l_returnflag",
            "q",
            "n",
            (
                (target >= F.col("cnt_lt") + 1 - tol)
                & (target <= F.col("cnt_le") + tol)
            )
            .cast("bigint")
            .alias("within_rank_tol"),
        )
    )


@query(
    "subq_scalar",
    oracle="""
    WITH nation_avg AS (
        SELECT c_nationkey,
               CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_bal
        FROM customer
        GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_acctbal, na.avg_bal
    FROM customer c JOIN nation_avg na ON c.c_nationkey = na.c_nationkey
    WHERE c.c_acctbal > na.avg_bal
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery semantics (customers above their nation's
    average balance), decorrelated by hand into aggregate + broadcast join —
    exactly what Catalyst's subquery decorrelation produces."""
    cust = io.load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (
            F.sum(dec(F.col("c_acctbal"), 2)).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal", "avg_bal")
    )


@query(
    "set_union_byname",
    oracle="""
    SELECT c_custkey AS id, c_acctbal AS bal, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_suppkey AS id, s_acctbal AS bal, 'supplier' AS kind FROM supplier
    """,
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName across differently-ordered projections (schema aligned by
    column name, not position)."""
    cust = io.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("bal"),
        F.lit("customer").alias("kind"),
    )
    sup = io.load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_suppkey").alias("id"),
    )
    return cust.unionByName(sup)


@query(
    "json_parse_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k2
    FROM events
    """,
)
def json_parse_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct (vs json_extract's per-path string
    extraction): parse once, then project struct fields."""
    ev = io.load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())])).alias(
            "p"
        ),
    )
    return parsed.select(
        "event_id", F.col("p.k").alias("k"), (F.col("p.k") * 2).alias("k2")
    )
