"""Remaining scan/function coverage: CSV scan with explicit schema, map
functions over parsed JSON (SURVEY.md §2.B scans + map/JSON rows)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query

_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@query("scan_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit schema (no inference pass — one read, typed
    at the source): round-trips nation through a CSV directory."""
    nation = io.load_table(spark, sf_dir, "nation")
    out_dir = io.scoped_tmp_dir(spark, "scan_csv", sf_dir)
    nation.write.mode("overwrite").option("header", "true").csv(out_dir)
    return (
        spark.read.schema(_NATION_SCHEMA)
        .option("header", "true")
        .csv(out_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "map_ops",
    oracle="""
    SELECT event_id,
           json_array_length(json_keys(props)) AS n_keys,
           CAST(json_keys(props)[1] AS VARCHAR) AS first_key,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_value
    FROM events
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column family: parse props into MapType, then map_keys /
    size / element_at — the typed alternative to per-path JSON extraction."""
    ev = io.load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.IntegerType()))
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        # try_element_at: props='{}' yields an empty map and plain
        # element_at would throw under ANSI; the oracle's [1] is null-safe
        F.try_element_at(F.map_keys(m), F.lit(1)).alias("first_key"),
        F.try_element_at(m, F.lit("k")).alias("k_value"),
    )


@query(
    "scan_schema_merge",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 100 = 50
    """,
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet drops of the same table where
    the newer one added a column, read as one dataset with
    ``mergeSchema=true`` (old files surface NULL for the added column) —
    the append-only schema-evolution contract a lakehouse table relies on.

    Scale: schema merge happens at footer level (per-file schemas union in
    the driver); data is never rewritten."""
    import shutil

    orders = io.load_table(spark, sf_dir, "orders")
    base = io.scoped_tmp_dir(spark, "schema_merge", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    v1 = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 100 == 50).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.parquet(os.path.join(base, "drop=1"))
    v2.write.parquet(os.path.join(base, "drop=2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(base, "drop=1"), os.path.join(base, "drop=2"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "scan_dpp",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) >= 1997
    )
    SELECT f.yr, count(*) AS n,
           CAST(sum(CAST(f.o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM (SELECT o_orderkey, o_totalprice,
                 CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr
          FROM orders) f
    JOIN dim ON f.yr = dim.yr
    GROUP BY f.yr
    """,
)
def scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table PARTITIONED BY yr joined to
    a filtered dimension — Spark broadcasts the dim's yr values into the
    fact scan at runtime, so only matching partitions are read even though
    the fact-side filter is not a literal (plan shows
    ``PartitionFilters: [dynamicpruning#...]``). THE mechanism that makes
    star-schema queries touch 1% of a 100 TB fact table."""
    orders = io.load_table(spark, sf_dir, "orders")
    fact_dir = io.scoped_tmp_dir(spark, "dpp", sf_dir)
    fact_cols = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr"),
    )
    fact_cols.write.mode("overwrite").partitionBy("yr").parquet(fact_dir)
    # pinned read schema (identical to what inference yields on non-empty
    # data): an empty source writes zero part files and inference would
    # raise UNABLE_TO_INFER_SCHEMA while the oracle scans empty rows
    # (r9 empty-table audit). DPP still applies — partition discovery is
    # unaffected by an explicit schema.
    fact = spark.read.schema(fact_cols.schema).parquet(fact_dir)
    dim = (
        orders.select(
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr")
        )
        .filter(F.col("yr") >= 1997)
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "yr")
        .groupBy("yr")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec(F.col("o_totalprice"), 2)).cast("double").alias("total"),
        )
    )


@query(
    "sink_text_roundtrip",
    oracle="""
    SELECT r_regionkey || '|' || r_name AS value
    FROM region
    """,
)
def sink_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink + source (spark.read/write.text): the
    lowest-common-denominator format every log/corpus pipeline starts
    from. Write one delimited line per region row, read the lines back as
    a single `value` string column — parsing from there is the
    split/from_csv path covered by the scalar keys."""
    region = io.load_table(spark, sf_dir, "region")
    out_dir = io.scoped_tmp_dir(spark, "sink_text", sf_dir)
    (
        region.select(
            F.concat_ws(
                "|", F.col("r_regionkey").cast("string"), F.col("r_name")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(out_dir)
    )
    return spark.read.text(out_dir).localCheckpoint(eager=True)


@query(
    "sink_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           n_name || ', region ' || CAST(n_regionkey AS VARCHAR) AS note
    FROM nation
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with an explicit read schema (no inference on
    the read path — schema inference is a full extra pass at corpus
    scale). The `note` column embeds a comma so the roundtrip exercises
    quoting, the classic CSV corruption point."""
    nat = io.load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.concat(
            F.col("n_name"),
            F.lit(", region "),
            F.col("n_regionkey").cast("string"),
        ).alias("note"),
    )
    out_dir = io.scoped_tmp_dir(spark, "sink_csv", sf_dir)
    nat.write.mode("overwrite").option("header", True).csv(out_dir)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
            T.StructField("note", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .csv(out_dir)
        .localCheckpoint(eager=True)
    )


@query(
    "scan_file_skipping",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
               AS total
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-06-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-09-01'
    GROUP BY o_orderstatus
    """,
)
def scan_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level file skipping (the lakehouse zone-map pattern):
    orders land as one file per order-month; a tiny stats manifest maps
    each file to its (min, max) date; the query consults the MANIFEST
    first and hands the reader only the files whose range intersects the
    predicate — the other files are never opened (a stricter guarantee
    than row-group skipping inside an opened file). The driver holds only
    the manifest (k rows, same footprint as partition listing).

    Scale: a 100 TB table's manifest is a few thousand rows; pruning
    happens before any data I/O. The oracle is the plain filtered scan —
    skipping must be invisible to results."""
    base_dir = io.scoped_tmp_dir(spark, "fileskip", sf_dir)
    orders = io.load_table(spark, sf_dir, "orders")
    by_month = orders.withColumn(
        "month", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    )
    (
        by_month.repartition("month")
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(base_dir)
    )
    # the manifest: per file-group min/max of the skip column
    manifest = [
        (r.month, r.min_d, r.max_d)
        for r in spark.read.schema(by_month.schema)
        .parquet(base_dir)
        .groupBy("month")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("min_d"),
            F.max(F.col("o_orderdate").cast("date")).alias("max_d"),
        )
        .collect()
    ]
    from datetime import date

    lo, hi = date(1997, 6, 1), date(1997, 9, 1)
    live = sorted(m for m, mn, mx in manifest if mx >= lo and mn < hi)
    assert len(live) < len(manifest), "skipping must prune something"
    pruned = spark.read.schema(orders.schema).parquet(
        *[os.path.join(base_dir, f"month={m}") for m in live]
    )
    return (
        pruned.filter(
            (F.col("o_orderdate").cast("date") >= F.lit(lo))
            & (F.col("o_orderdate").cast("date") < F.lit(hi))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(dec(F.col("o_totalprice"), 10)), 2)
            .cast("double")
            .alias("total"),
        )
        .localCheckpoint(eager=True)
    )


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS BIGINT)
               AS n_corrupt,
           CAST(sum(CASE WHEN event_id % 7 <> 0 THEN event_id % 100 ELSE 0 END)
               AS BIGINT) AS val_sum
    FROM events
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest of a corrupted feed (the CSV twin of
    json_malformed): every 7th line carries an untypeable field, the read
    schema demands an INT, and the reader must (a) keep every line,
    (b) capture the raw text of bad lines in the corrupt-record column,
    (c) parse the rest — quarantine-not-crash, the only viable posture
    for a multi-TB third-party feed. The oracle derives the expected
    good/bad split from the corruption rule itself."""
    ev = io.load_table(spark, sf_dir, "events").select("event_id")
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 7 == 0, F.lit("xx")).otherwise(
            (F.col("event_id") % 100).cast("string")
        ),
    )
    out_dir = io.scoped_tmp_dir(spark, "badcsv", sf_dir)
    ev.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("val", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    read = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out_dir)
    )
    return read.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("_corrupt").cast("long").alias("n_corrupt"),
        F.sum(F.coalesce("val", F.lit(0))).cast("long").alias("val_sum"),
    ).localCheckpoint(eager=True)


@query(
    "scan_provenance",
    oracle="""
    SELECT 'orders.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via the hidden ``_metadata`` struct: every row
    is attributed to its physical input file, then per-file lineage stats
    roll up — row count and key range per file, the audit a lakehouse
    ingest emits so a bad file can be traced and re-ingested. At this
    fixture scale each table is one file, so the oracle pins the
    basename as a literal; the Spark side genuinely derives it from
    ``_metadata.file_path`` (the mechanics under test). The metadata
    column is generated per-split at scan time — no extra I/O, no
    shuffle beyond the per-file aggregate."""
    df = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("_metadata.file_path").alias("fp")
    )
    return (
        df.select(
            F.regexp_extract("fp", r"([^/]+)$", 1).alias("file_name"),
            "o_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )
