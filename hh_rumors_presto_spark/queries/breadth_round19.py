"""Round-19 breadth batch: session path mining, access-log parsing,
and exact geometric/harmonic means.

- ``recs_session_paths`` — top user journeys: sessionize the event
  stream (30-min gap), take each session's first 3 steps in time
  order, and count the resulting paths — the path-analysis readout
  behind "how do users actually reach X".
- ``scan_log_parse`` — the unstructured-ingestion round trip: render
  Apache-combined-style log lines to a text file, read them back with
  ``spark.read.text``, regexp-parse the fields, and aggregate — the
  oracle computes the same aggregate straight from the source table,
  proving the render→parse path is lossless.
- ``agg_geo_harmonic_mean`` — geometric and harmonic means per group
  with the repo's order-free discipline: the geometric mean in log
  space via per-row micro-nat rounding (exact BIGINT sum), the
  harmonic via exact integer reciprocal quanta — no float row-sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# recs_session_paths
# --------------------------------------------------------------------------

_SP_GAP_US = 1800 * 1_000_000
_SP_STEPS = 3


@query(
    "recs_session_paths",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN us - lag(us) OVER w > {_SP_GAP_US}
                       OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM flagged
    ),
    stepped AS (
        SELECT user_id, session_no, event_type, us, event_id,
               row_number() OVER (
                   PARTITION BY user_id, session_no
                   ORDER BY us, event_id) AS rn
        FROM sess
    ),
    paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY us, event_id) AS path
        FROM stepped WHERE rn <= {_SP_STEPS}
        GROUP BY user_id, session_no
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY count(*) DESC, path)
                AS BIGINT) AS rnk
    FROM paths
    GROUP BY path
    """,
)
def recs_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize per user (30-minute inactivity
    gap, the gaps-and-islands running sum), keep each session's first
    3 steps in (ts, event_id) order, fold them into a '>' path string
    with a deterministic ORDERED aggregation (sort_array of packed
    structs — never an unordered collect), and count path frequencies.
    The path-analysis answer to "how do users actually arrive".

    Scale: both windows are keyed by user (then user+session) — no
    single-partition window anywhere; the path table is
    |distinct paths|-sized. The ordered fold materializes at most
    3 structs per session."""
    ev = io.load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (F.col("us") - F.lag("us").over(w) > _SP_GAP_US)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "session_no").orderBy(
        "us", "event_id"
    )
    stepped = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= _SP_STEPS
    )
    paths = (
        stepped.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("us", "event_id", "event_type")
                        )
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("n_sessions").desc(), "path"))
            .cast("long"),
        )
    )


# --------------------------------------------------------------------------
# scan_log_parse
# --------------------------------------------------------------------------


@query(
    "scan_log_parse",
    oracle="""
    SELECT 200 + (o_orderkey % 3) * 100 AS status,
           CAST(count(*) AS BIGINT) AS n_requests,
           CAST(sum(o_orderkey % 10000) AS BIGINT) AS total_bytes,
           CAST(count(DISTINCT o_custkey % 256) AS BIGINT) AS n_client_ips
    FROM orders
    GROUP BY 1
    """,
)
def scan_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured-log ingestion round trip: render an Apache-style
    access-log line per order (client IP, request path, status, bytes —
    all deterministically derived), WRITE the lines as a text file,
    read them back with spark.read.text, regexp-parse every field out
    of the raw strings, and aggregate per status. The oracle computes
    the identical aggregate straight from the orders table, so a
    value-hash match proves the render → text → regexp-parse path
    loses nothing — the first stage of every real log pipeline.

    Scale: text scans split by line ranges like any file source; the
    regexp projection is a pure narrow codegen map; the aggregate is
    a standard partial hash agg."""
    orders = io.load_table(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("10.0.0."),
        (F.col("o_custkey") % 256).cast("string"),
        F.lit(' - - [01/Jan/2024:00:00:00 +0000] "GET /order/'),
        F.col("o_orderkey").cast("string"),
        F.lit(' HTTP/1.1" '),
        (200 + (F.col("o_orderkey") % 3) * 100).cast("string"),
        F.lit(" "),
        (F.col("o_orderkey") % 10000).cast("string"),
    )
    out_dir = io.scoped_tmp_dir(spark, "log", sf_dir)
    orders.select(line.alias("value")).write.mode("overwrite").text(
        out_dir
    )
    raw = spark.read.text(out_dir)
    parsed = raw.select(
        F.regexp_extract("value", r"^10\.0\.0\.(\d+) ", 1)
        .cast("long")
        .alias("ip_suffix"),
        F.regexp_extract("value", r'HTTP/1\.1" (\d+) ', 1)
        .cast("long")
        .alias("status"),
        F.regexp_extract("value", r" (\d+)$", 1)
        .cast("long")
        .alias("bytes"),
    )
    return (
        parsed.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.count_distinct("ip_suffix").cast("long").alias(
                "n_client_ips"
            ),
        )
        .localCheckpoint(eager=True)
    )


# --------------------------------------------------------------------------
# agg_geo_harmonic_mean
# --------------------------------------------------------------------------


@query(
    "agg_geo_harmonic_mean",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events
        WHERE value IS NOT NULL
          AND floor(CAST(value AS DOUBLE) * 100.0 + 0.5) > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS arith_mean,
           round(exp(CAST(sum(CAST(floor(ln(CAST(cents AS DOUBLE))
                                         * 1000000.0 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) / 1000000.0), 6)
               AS geo_mean,
           round(CAST(count(*) AS DOUBLE) * 1000000000000.0
                 / sum(1000000000000 // cents), 6) AS harm_mean
    FROM ev
    GROUP BY event_type
    """,
)
def agg_geo_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group (rates, ratios, and
    multiplicative growth need them; AM ≥ GM ≥ HM always) with the
    repo's order-free discipline: the geometric mean accumulates
    per-row micro-nat-rounded ln terms into an exact BIGINT sum (one
    exp at the end), the harmonic accumulates exact integer reciprocal
    quanta 1e12 DIV c — there is NO float sum over rows, so both are
    bit-stable under any partitioning. Non-positive values are
    excluded (a geometric mean is undefined there), consistently in
    both engines.

    Scale: a single map-side-combinable aggregate over the fact —
    identical shuffle profile to a plain sum/avg."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            half_up(F.col("value"), 2).alias("cents"),
        )
        .filter(F.col("cents") > 0)
    )
    ln_mnat = half_up(F.log(F.col("cents").cast("double")), 6)
    recip_q = F.expr("1000000000000 DIV cents")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("cents").cast("double") / F.count("*"), 6).alias(
            "arith_mean"
        ),
        F.round(
            F.exp(
                F.sum(ln_mnat).cast("double") / F.count("*") / 1000000.0
            ),
            6,
        ).alias("geo_mean"),
        F.round(
            F.count("*").cast("double")
            * 1000000000000.0
            / F.sum(recip_q),
            6,
        ).alias("harm_mean"),
    )
