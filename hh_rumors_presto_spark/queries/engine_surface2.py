"""Spark-4 engine-surface batch 2: native XML roundtrip, SQL pipe
syntax, and SQL scripting (multi-statement control flow).

These pin the Spark-4-only SQL surface the way json_variant /
udtf_native / sql_recursive_paths already do for their families: each
construct runs a real computation whose result a plain-ANSI DuckDB
oracle reproduces, so the exotic syntax is value-hash-verified, not just
"it parses".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import query


@query(
    "scan_xml",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_len
    FROM documents
    GROUP BY lang, source
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML sink + source (built into Spark 4 core — no external
    spark-xml package): write the documents table as <doc> row elements,
    read it back with an EXPLICIT schema (inference would be a second
    full pass at corpus scale), and aggregate — the group stats prove the
    content (including the free-text column, the XML-escaping hazard)
    survived the roundtrip byte-for-byte.

    Shape at scale: XML read is a distributed file-per-split scan like
    any text source; the explicit schema keeps it single-pass."""
    docs = io.load_table(spark, sf_dir, "documents")
    out_dir = io.scoped_tmp_dir(spark, "sink_xml", sf_dir)
    (
        docs.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "doc")
        .save(out_dir)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(schema)
        .load(out_dir)
    )
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_len"),
    ).localCheckpoint(eager=True)


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 10
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the TPC-H Q1 shape
    written as a linear FROM -> WHERE -> AGGREGATE -> WHERE pipeline.
    Same Catalyst plan as the ANSI form — the pipe form is sugar, and the
    identical value hash against the plain-SQL oracle proves exactly
    that. The post-AGGREGATE WHERE is the HAVING stage."""
    io.load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe"
    )
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                     round(avg(l_extendedprice), 6) AS avg_price,
                     count(*) AS n
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 10
        |> SELECT l_returnflag, l_linestatus, sum_qty, avg_price, n
        """
    )


@query(
    "sql_scripting",
    oracle="""
    WITH thr AS (
        -- the script's WHILE loop compounds 1000.00 by 1.1 five times;
        -- mirror the same five multiplications explicitly (same IEEE
        -- doubles, same order) rather than pow(1.1, 5)
        SELECT 1000.0 * 1.1 * 1.1 * 1.1 * 1.1 * 1.1 AS t
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_big,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders, thr
    WHERE o_totalprice > thr.t
    GROUP BY o_orderpriority
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN...END blocks): DECLARE + a WHILE loop
    compound a price threshold, then the final statement filters and
    aggregates orders above it — procedural control flow around a
    declarative query, executed entirely by the engine (the loop runs on
    the driver over SCALAR variables; the data never leaves the
    distributed plan). The oracle replays the same five multiplications
    as a literal expression, so the float threshold is bit-identical."""
    io.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_script"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 1000.0;
          DECLARE i INT DEFAULT 0;
          WHILE i < 5 DO
            SET thr = thr * 1.1;
            SET i = i + 1;
          END WHILE;
          SELECT o_orderpriority,
                 count(*) AS n_big,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     AS cents_total
          FROM orders_script
          WHERE o_totalprice > thr
          GROUP BY o_orderpriority;
        END
        """
    )
