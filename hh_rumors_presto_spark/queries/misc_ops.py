"""Remaining operator odds and ends: boolean aggregates, ordered
collect_set, the ASCII fast-path slugify, dynamic-partition sink, and a
column-profiling operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.functions import slugify_expr_ascii
from hh_rumors_presto_spark.registry import query


@query(
    "agg_bool",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: every/any (bool_and/bool_or)."""
    orders = io.load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count("*").alias("n"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
           len(list_distinct(list(c_mktsegment))) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set into a sorted, comma-joined scalar (sorted ->
    deterministic under the value hash; joined because array-typed output
    columns crash the driver canonicalizer)."""
    cust = io.load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.size(F.collect_set("c_mktsegment")).alias("n_segments"),
    )


@query(
    "str_slugify_fast",
    oracle="""
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(
               lower(p_name || ' & ' || p_brand),
               '&', ' and ', 'g'), '[^a-z0-9]+', '_', 'g'), '_') AS slug
    FROM part
    """,
)
def str_slugify_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASCII fast path of slugify (functions/strings.py:slugify_expr_ascii):
    identical semantics to the pandas-UDF form for diacritic-free input, but
    pure column expressions — stays inside whole-stage codegen, no Python
    round-trip. The hot-path choice when inputs are known-ASCII."""
    part = io.load_table(spark, sf_dir, "part")
    name = F.concat(F.col("p_name"), F.lit(" & "), F.col("p_brand"))
    return part.select(
        "p_partkey", slugify_expr_ascii(name).alias("slug")
    )


@query(
    "sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_totalprice, yr
    FROM (SELECT o_orderkey, o_totalprice,
                 CAST(year(o_orderdate) AS INT) AS yr
          FROM orders)
    WHERE yr >= 1996
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition sink: write orders partitioned by year (the layout
    that gives every later reader partition pruning), then read back only
    the pruned years. The writer option partitionOverwriteMode=dynamic
    replaces exactly the partitions present in the batch — the idempotent
    re-run behavior backfills need."""
    import shutil

    orders = io.load_table(spark, sf_dir, "orders")
    # clear any previous run: dynamic overwrite only replaces partitions
    # present in THIS batch, so a stale dir would leak rows into the
    # read-back.
    out_dir = io.scoped_tmp_dir(spark, "sink_part", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    staged = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    (
        staged.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("yr")
        .mode("overwrite")
        .parquet(out_dir)
    )
    # pinned read schema: empty source -> zero part files -> inference
    # raises; the oracle reads empty rows (r9 empty-table audit)
    return (
        spark.read.schema(staged.schema).parquet(out_dir)
        .filter(F.col("yr") >= 1996)
        .select("o_orderkey", "o_totalprice", F.col("yr").cast("int").alias("yr"))
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           count(*) AS n,
           count(o_totalprice) AS n_nonnull,
           CAST(min(o_totalprice) AS DOUBLE) AS min_val,
           CAST(max(o_totalprice) AS DOUBLE) AS max_val,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / count(o_totalprice) AS mean_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           CAST(sum(CAST(o_custkey AS DECIMAL(28,2))) AS DOUBLE) / count(o_custkey)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: per-column count/nulls/min/max/mean in one scan
    (all profiles aggregate in the same pass — the data-quality profiling
    step of a corpus pipeline)."""
    orders = io.load_table(spark, sf_dir, "orders")

    def profile(col: str):
        c = F.col(col)
        return orders.agg(
            F.lit(col).alias("column_name"),
            F.count("*").alias("n"),
            F.count(c).alias("n_nonnull"),
            F.min(c).cast("double").alias("min_val"),
            F.max(c).cast("double").alias("max_val"),
            (
                F.sum(dec(c, 2)).cast("double") / F.count(c)
            ).alias("mean_val"),
        )

    return profile("o_totalprice").unionAll(profile("o_custkey"))
