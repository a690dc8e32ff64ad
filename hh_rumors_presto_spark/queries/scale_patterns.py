"""Scale-pattern demonstrators: the physical-layout techniques that carry
the engine from local[32] to a 1000-executor cluster (SURVEY.md "optimize
for scale" mandate). Each is a real runnable key with a value oracle; the
plan-shape claims are pinned by tools/explain_audit.py's CHECKS and
NO_EXCHANGE_KEYS (tests/test_plans.py).

- bucketed co-located join: both sides pre-bucketed on the key -> join with
  ZERO Exchange (the 100 TB answer to repeated fact⋈fact joins);
- partition-pruned scan: directory-partitioned layout + partition filter ->
  only matching directories are listed/read (PartitionFilters);
- salted skew join: explode a hot build-side key into N salted copies so
  one reducer never owns the whole hot key (the manual fallback when AQE
  skew splitting can't apply, e.g. for aggregations-after-join).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.functions.html import sanitize_html
from hh_rumors_presto_spark.functions import clean
from hh_rumors_presto_spark.registry import query

N_BUCKETS = 8
SALT = 8


@query(
    "str_sanitize_html",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(coalesce(substring(text, 1, 30), ''), '\s+', ' ', 'g'))
             || ' bold <a href="https://x/' || source || '" target="_blank">'
             || source || '</a>' AS sanitized
    FROM documents
    """,
)
def str_sanitize_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML sanitize (ref paragraphHTML, fetchRumors.js:59-73) as a pandas
    UDF over constructed markup: drops <div>/<p>/<b>, keeps the anchor with
    href only + forced target. The input family is controlled, so the UDF
    output is value-checkable in SQL — free-form HTML edge cases are covered
    in tests/test_html_sanitize.py."""
    docs = io.load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("<div><p>"),
        clean(F.substring("text", 1, 30)),
        F.lit(' <b>bold</b> <a href="https://x/'),
        F.col("source"),
        F.lit('" rel="nofollow" class="c">'),
        F.col("source"),
        F.lit("</a></p></div>"),
    )
    return docs.select("doc_id", sanitize_html(raw).alias("sanitized"))


@query(
    "join_bucketed",
    oracle="""
    SELECT l.l_orderkey, count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           max(o.o_totalprice) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_orderkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located join: both tables written bucketed+sorted on the
    join key, then joined WITHOUT any Exchange — at 100 TB this is the
    difference between re-shuffling the fact table per query and never
    shuffling it at all. The follow-up groupBy on the same key also rides
    the bucketing."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    warehouse = io.scoped_tmp_dir(spark, "buckets", sf_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS hh_buckets LOCATION '{warehouse}'")
    tag = io.fixture_tag(sf_dir).replace(".", "_")

    def ensure_bucketed(table: str, src: str, key: str, cols: list[str]):
        tbl = f"hh_buckets.{table}_{tag}"
        if not spark.catalog.tableExists(tbl):
            (
                io.load_table(spark, sf_dir, src)
                .select(*cols)
                .write.bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", os.path.join(warehouse, table))
                .mode("overwrite")
                .saveAsTable(tbl)
            )
        return spark.table(tbl)

    li = ensure_bucketed("li", "lineitem", "l_orderkey", ["l_orderkey", "l_quantity"])
    orders = ensure_bucketed("o", "orders", "o_orderkey", ["o_orderkey", "o_totalprice"])
    # merge hint: at fixture scale Spark would otherwise broadcast the
    # small side; the 100 TB case this key demonstrates is two big tables
    # sort-merge-joining on aligned buckets with zero Exchange.
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(dec(F.col("l_quantity"), 2)).cast("double").alias("sum_qty"),
            F.max("o_totalprice").alias("total"),
        )
    )


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning: orders laid out as /o_orderstatus=X/ directories;
    the status predicate becomes a PartitionFilter, so non-matching
    directories are never listed or read — the parquet analog of the
    reference's bounded page crawl (scan only what the query needs)."""
    out_dir = io.scoped_tmp_dir(spark, "part_orders", sf_dir)
    orders = io.load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out_dir)
    # pinned read schema (the source table's own): an empty table writes
    # zero partition dirs and inference raises UNABLE_TO_INFER_SCHEMA
    # while the oracle's filtered scan is empty (r9 empty-table audit).
    # PartitionFilters pruning is unaffected by an explicit schema.
    return (
        spark.read.schema(orders.schema).parquet(out_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        )
    )


@query(
    "join_salted",
    oracle="""
    SELECT e.event_type, count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM (SELECT event_type, value, user_id % 3 AS hot_key FROM events) e
    JOIN (SELECT DISTINCT user_id % 3 AS hot_key FROM events) d
      ON e.hot_key = d.hot_key
    GROUP BY e.event_type
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a deliberately skewed key (user_id % 3 — a third of
    the table per key): the probe side gets a random-free deterministic salt
    (event_id % SALT), the build side is exploded once per salt value, and
    the join runs on (key, salt) so the hot key spreads across SALT
    reducers. Aggregation after the join collapses the salt again."""
    ev = io.load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        (F.col("user_id") % 3).alias("hot_key"),
    )
    probe = ev.withColumn("salt", (F.col("event_id") % SALT).cast("int"))
    dim = (
        ev.select("hot_key")
        .distinct()
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
    )
    joined = probe.join(dim, ["hot_key", "salt"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("value"), 2)).cast("double").alias("total_value"),
    )
