"""Round-39 breadth batch: multiclass confusion diagnostics, the
file-sizing sink contract, and the Wald–Wolfowitz runs test.

- ``eval_confusion_multiclass`` — per-class TP/FP/FN + precision/
  recall/F1 in exact micro units and the macro-F1 (the multiclass
  counterpart of eval_f1_threshold; macro treats classes equally,
  which is the point when supports are skewed).
- ``sink_file_sizing`` — the small-files control contract:
  maxRecordsPerFile + one-task-per-partition writing must produce
  exactly ceil(n/cap) files per partition with no file over the cap
  — verified by re-reading the physical files' _metadata. The knob
  that keeps 100 TB tables from becoming 100M-file tables.
- ``agg_runs_test`` — Wald–Wolfowitz runs test on the daily
  up/down sequence: exact integer run/sign counts, the z statistic
  as one closed-form float expression — the "is this series random
  or trending/mean-reverting" gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_confusion_multiclass
# --------------------------------------------------------------------------

_PRED_SQL = """
    CASE WHEN cents < 2000 THEN 'view'
         WHEN cents < 4000 THEN 'click'
         WHEN cents < 6000 THEN 'signup'
         WHEN cents < 8000 THEN 'purchase'
         ELSE 'error' END
"""


@query(
    "eval_confusion_multiclass",
    oracle=f"""
    WITH pts AS (
        SELECT event_type AS actual,
               {_PRED_SQL} AS pred
        FROM (
            SELECT event_type,
                   CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
        )
    ),
    classes AS (SELECT DISTINCT actual AS cls FROM pts),
    per AS (
        SELECT c.cls,
               (SELECT count(*) FROM pts
                WHERE actual = c.cls AND pred = c.cls) AS tp,
               (SELECT count(*) FROM pts
                WHERE actual <> c.cls AND pred = c.cls) AS fp,
               (SELECT count(*) FROM pts
                WHERE actual = c.cls AND pred <> c.cls) AS fn
        FROM classes c
    ),
    scored AS (
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN 0
                    ELSE (2000000 * tp + tp + fp) // (2 * (tp + fp))
               END AS prec_micro,
               CASE WHEN tp + fn = 0 THEN 0
                    ELSE (2000000 * tp + tp + fn) // (2 * (tp + fn))
               END AS rec_micro,
               CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                    ELSE (4000000 * tp + 2 * tp + fp + fn)
                         // (2 * (2 * tp + fp + fn))
               END AS f1_micro
        FROM per
    )
    SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(prec_micro AS BIGINT) AS prec_micro,
           CAST(rec_micro AS BIGINT) AS rec_micro,
           CAST(f1_micro AS BIGINT) AS f1_micro,
           CAST((2 * sum(f1_micro) OVER () + count(*) OVER ())
               // (2 * count(*) OVER ()) AS BIGINT) AS macro_f1_micro
    FROM scored
    """,
)
def eval_confusion_multiclass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiclass confusion diagnostics for a deterministic value-
    bucket router predicting the event type (the router is plumbing;
    the aggregation is the operator): per class TP/FP/FN, precision,
    recall, and F1 = 2TP/(2TP+FP+FN) in half-up micro units computed
    from RAW counts, plus the macro-F1 (unweighted class mean —
    the right summary when supports are skewed, since micro-F1
    collapses to accuracy and hides minority-class failure).

    Scale: one fact pass to (actual, pred) pair counts (map-side
    partials), then class-cardinality arithmetic; the macro fold is
    a window over |classes| rows."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("actual"),
            half_up(F.col("value"), 2).alias("cents"),
        )
        .select(
            "actual",
            F.when(F.col("cents") < 2000, "view")
            .when(F.col("cents") < 4000, "click")
            .when(F.col("cents") < 6000, "signup")
            .when(F.col("cents") < 8000, "purchase")
            .otherwise("error")
            .alias("pred"),
        )
    )
    cm = pts.groupBy("actual", "pred").agg(F.count("*").alias("c"))
    tp = cm.filter(F.col("actual") == F.col("pred")).select(
        F.col("actual").alias("cls"), F.col("c").alias("tp")
    )
    fp = (
        cm.filter(F.col("actual") != F.col("pred"))
        .groupBy(F.col("pred").alias("cls"))
        .agg(F.sum("c").alias("fp"))
    )
    fn = (
        cm.filter(F.col("actual") != F.col("pred"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("c").alias("fn"))
    )
    classes = pts.select(
        F.col("actual").alias("cls")
    ).distinct()
    per = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    def _ratio(num, den):
        return F.when(den == 0, F.lit(0).cast("long")).otherwise(
            F.floor((2000000 * num + den) / (2 * den)).cast("long")
        )

    scored = per.select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        _ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias(
            "prec_micro"
        ),
        _ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias(
            "rec_micro"
        ),
        _ratio(
            2 * F.col("tp"),
            2 * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1_micro"),
    )
    w = Window.partitionBy()
    return scored.withColumn(
        "macro_f1_micro",
        F.floor(
            (2 * F.sum("f1_micro").over(w) + F.count("*").over(w))
            / (2 * F.count("*").over(w))
        ).cast("long"),
    )


# --------------------------------------------------------------------------
# sink_file_sizing
# --------------------------------------------------------------------------

_FS_CAP = 500


@query(
    "sink_file_sizing",
    oracle=f"""
    WITH n AS (
        SELECT event_type, count(*) AS n_rows FROM events
        GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST((n_rows + {_FS_CAP} - 1) // {_FS_CAP} AS BIGINT)
               AS n_files,
           CAST(least(n_rows, {_FS_CAP}) AS BIGINT) AS max_file_rows
    FROM n
    """,
)
def sink_file_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files control contract: repartition by the partition
    column (one task per partition value) + maxRecordsPerFile=
    {_FS_CAP} must yield exactly ceil(n/{_FS_CAP}) physical files per
    partition with no file above the cap — asserted by re-reading
    the files and counting rows per _metadata.file_path. This is the
    knob pair that keeps a 100 TB table from decaying into the
    100M-file problem (and its inverse, the 10 GB-file straggler
    problem); the oracle states the arithmetic contract directly.

    Scale: file sizing is a pure write-side concern — the query cost
    is one re-read census with map-side partials."""
    ev = io.load_events(spark, sf_dir).select("event_id", "event_type")
    out_dir = io.scoped_tmp_dir(spark, "filesz", sf_dir)
    (
        ev.repartition("event_type")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _FS_CAP)
        .partitionBy("event_type")
        .parquet(out_dir)
    )
    # pinned read schema (empty feed -> zero files -> inference raises;
    # oracle census empty — r9 audit); _metadata stays available with an
    # explicit schema
    back = spark.read.schema(ev.schema).parquet(out_dir).select(
        "event_type", F.col("_metadata.file_path").alias("fp")
    )
    per_file = back.groupBy("event_type", "fp").agg(
        F.count("*").alias("rows_in_file")
    )
    return per_file.groupBy("event_type").agg(
        F.sum("rows_in_file").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_files"),
        F.max("rows_in_file").cast("long").alias("max_file_rows"),
    )


# --------------------------------------------------------------------------
# agg_runs_test
# --------------------------------------------------------------------------


@query(
    "agg_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    signs AS (
        SELECT day,
               CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END AS s
        FROM (
            SELECT day, cents - lag(cents) OVER (ORDER BY day) AS d
            FROM daily
        ) WHERE d IS NOT NULL AND d <> 0
    ),
    runs AS (
        SELECT s,
               CASE WHEN s = lag(s) OVER (ORDER BY day)
                    THEN 0 ELSE 1 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n2,
               sum(new_run) AS r
        FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_plus,
           CAST(n2 AS BIGINT) AS n_minus,
           CAST(r AS BIGINT) AS n_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE)
                            * (n1 + n2))
                           * (n1 + n2 - 1))), 6) AS z
    FROM agg
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily purchase-total up/down
    sequence: count the runs of consecutive same-sign moves (zero
    deltas dropped, the standard convention), compare against the
    randomness expectation mu = 2*n1*n2/(n1+n2)+1. |z| large means
    the series trends (too few runs) or mean-reverts (too many) —
    the nonparametric companion to ts_mann_kendall that needs no
    magnitude information at all. Counts are exact BIGINTs; z is
    one closed-form float expression on them, written identically
    in both engines.

    Scale: fact -> daily rows -> a lag pass over the calendar-sized
    series (per series key at fleet scale) -> a one-row fold."""
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
    signs = (
        daily.select(
            "day",
            (F.col("cents") - F.lag("cents").over(wo)).alias("d"),
        )
        .filter(F.col("d").isNotNull() & (F.col("d") != 0))
        .select(
            "day",
            F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"),
        )
    )
    runs = signs.select(
        "s",
        F.when(F.col("s") == F.lag("s").over(wo), 0)
        .otherwise(1)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / (((n1 + n2).cast("double") * (n1 + n2)) * (n1 + n2 - 1))
    )
    return agg.select(
        n1.cast("long").alias("n_plus"),
        n2.cast("long").alias("n_minus"),
        r.cast("long").alias("n_runs"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z"),
    )
