"""Round-38 breadth batch: the Hampel outlier filter, dynamic
partition overwrite, and the Hill tail-index estimator.

- ``win_hampel`` — the classic robust time-series outlier filter:
  flag a point when it sits more than 3 rolling MADs from the
  rolling median (±3-point frames). Both the median and the MAD are
  exact nearest-rank SELECTIONS over a bounded neighbor join — no
  float statistics at all — which is what makes Hampel immune to
  the very outliers it hunts (a z-score filter gets dragged by
  them).
- ``sink_dynamic_overwrite`` — the lakehouse partition-replace
  semantics (the writer option partitionOverwriteMode=dynamic):
  rewrite ONLY the partitions present in the incoming batch, leave
  every other partition untouched — verified by reading the whole
  table back after replacing one partition.
- ``agg_tail_index_hill`` — the Hill estimator of the power-law
  tail exponent from the top-k order statistics: per-rank log
  ratios micro-nat rounded once, so the estimator is an exact
  BIGINT ratio. The heavy-tail gate (alpha < 2 = infinite variance:
  averages of this column are lies).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# win_hampel
# --------------------------------------------------------------------------

_HMP_W = 3  # neighbors each side
_HMP_K = 3  # MAD multiplier


@query(
    "win_hampel",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    idx AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    nbr AS (
        SELECT a.day, a.cents, b.cents AS v
        FROM idx a JOIN idx b
          ON b.rn BETWEEN a.rn - {_HMP_W} AND a.rn + {_HMP_W}
    ),
    med AS (
        SELECT day, cents, v AS med FROM (
            SELECT day, cents, v,
                   row_number() OVER (PARTITION BY day ORDER BY v)
                       AS vr,
                   count(*) OVER (PARTITION BY day) AS n
            FROM nbr
        ) WHERE vr = (n + 1) // 2
    ),
    dev AS (
        SELECT n.day, n.cents, m.med, abs(n.v - m.med) AS d
        FROM nbr n JOIN med m ON m.day = n.day
    ),
    mad AS (
        SELECT day, cents, med, d AS mad FROM (
            SELECT day, cents, med, d,
                   row_number() OVER (PARTITION BY day ORDER BY d)
                       AS dr,
                   count(*) OVER (PARTITION BY day) AS n
            FROM dev
        ) WHERE dr = (n + 1) // 2
    )
    SELECT day, CAST(cents AS BIGINT) AS cents,
           CAST(med AS BIGINT) AS med_cents,
           CAST(mad AS BIGINT) AS mad_cents
    FROM mad
    WHERE abs(cents - med) > {_HMP_K} * mad
    """,
)
def win_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily purchase series: a day is an
    outlier when |x - median| > {_HMP_K} x MAD over its ±{_HMP_W}-
    point neighborhood. Median and MAD are exact lower-nearest-rank
    selections ((n+1)//2-th smallest) over the bounded neighbor
    join — integer comparisons end to end, so the filter itself is
    outlier-proof (the breakdown point of the median, which is the
    whole reason Hampel beats rolling z-scores on spiky series).
    Flagged rows ship with the replacement value (the median).

    Scale: the fact collapses to one row per day first; the neighbor
    join fans each row to at most {2 * _HMP_W + 1} partners (per
    series key at fleet scale) and both selections are keyed
    windows over those tiny frames."""
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
    idx = daily.select(
        "day", "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    ).localCheckpoint()
    b = idx.select(
        F.col("rn").alias("brn"), F.col("cents").alias("v")
    )
    # the +/-W band as explode(offsets) + EQUI-join on the neighbor
    # index: no theta/nested-loop join, and the same shape scales to
    # keyed series (join key becomes (series, rn + off))
    offs = F.array(
        *[F.lit(i) for i in range(-_HMP_W, _HMP_W + 1)]
    )
    nbr = (
        idx.withColumn("off", F.explode(offs))
        .join(b, F.col("brn") == F.col("rn") + F.col("off"))
        .select("day", "cents", "v")
    )
    wv = Window.partitionBy("day").orderBy("v")
    wn = Window.partitionBy("day")
    med = (
        nbr.select(
            "day",
            "cents",
            "v",
            F.row_number().over(wv).alias("vr"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(F.col("vr") == F.floor((F.col("n") + 1) / 2))
        .select("day", "cents", F.col("v").alias("med"))
    )
    dev = nbr.join(
        med.select(F.col("day").alias("md"), "med"),
        F.col("day") == F.col("md"),
    ).select(
        "day", "cents", "med", F.abs(F.col("v") - F.col("med")).alias("d")
    )
    wd = Window.partitionBy("day").orderBy("d")
    mad = (
        dev.select(
            "day",
            "cents",
            "med",
            "d",
            F.row_number().over(wd).alias("dr"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(F.col("dr") == F.floor((F.col("n") + 1) / 2))
        .select("day", "cents", "med", F.col("d").alias("mad"))
    )
    return mad.filter(
        F.abs(F.col("cents") - F.col("med")) > _HMP_K * F.col("mad")
    ).select(
        "day",
        F.col("cents").cast("long").alias("cents"),
        F.col("med").cast("long").alias("med_cents"),
        F.col("mad").cast("long").alias("mad_cents"),
    )


# --------------------------------------------------------------------------
# sink_dynamic_overwrite
# --------------------------------------------------------------------------


@query(
    "sink_dynamic_overwrite",
    oracle="""
    WITH merged AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events
        WHERE event_type <> 'purchase' AND value IS NOT NULL
        UNION ALL
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
              >= 5000
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM merged GROUP BY event_type
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse partition-replace
    contract: after writing the full table partitioned by
    event_type, a second INSERT OVERWRITE carrying ONLY purchase
    rows (filtered to >= $50) must replace the purchase partition
    and leave every other partition byte-identical. Static
    overwrite mode would silently drop them — the difference this
    key pins. The result is the per-partition census of the re-read
    table, diffed against the oracle's union semantics.

    Scale: partition replace is THE idempotent-backfill primitive —
    re-running a day's pipeline rewrites that day's partitions only;
    the mode is a writer option, so the session conf is untouched."""
    ev = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    out_dir = io.scoped_tmp_dir(spark, "dynover", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    for batch in (
        ev,
        ev.filter((F.col("event_type") == "purchase") & (F.col("cents") >= 5000)),
    ):
        (
            batch.write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("event_type")
            .parquet(out_dir)
        )
    # pinned read schema: an empty event feed writes zero part files
    # and inference raises; the oracle census is empty (r9 audit)
    back = spark.read.schema(ev.schema).parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


# --------------------------------------------------------------------------
# agg_tail_index_hill
# --------------------------------------------------------------------------

_HILL_K = 100


@query(
    "agg_tail_index_hill",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               row_number() OVER (
                   ORDER BY floor(o_totalprice * 100.0 + 0.5) DESC,
                            o_orderkey) AS rk
        FROM orders
    ),
    xk1 AS (SELECT cents AS x_ref FROM vals WHERE rk = {_HILL_K} + 1),
    ratios AS (
        SELECT CAST(floor(1000000.0 * ln(
                     CAST(v.cents AS DOUBLE) / k.x_ref) + 0.5)
                    AS BIGINT) AS r_micro
        FROM vals v CROSS JOIN xk1 k
        WHERE v.rk <= {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           CAST(max(k2.x_ref) AS BIGINT) AS x_k1_cents,
           CAST((2 * sum(r.r_micro) + {_HILL_K}) // (2 * {_HILL_K})
               AS BIGINT) AS hill_micro,
           CAST((2000000000000 + (2 * sum(r.r_micro) + {_HILL_K})
                                 // (2 * {_HILL_K}))
               // (2 * ((2 * sum(r.r_micro) + {_HILL_K})
                        // (2 * {_HILL_K}))) AS BIGINT) AS alpha_micro
    FROM ratios r CROSS JOIN xk1 k2
    """,
)
def agg_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index over order values:
    H = (1/k) Σ ln(x_(i)/x_(k+1)) across the top k={_HILL_K} order
    statistics, alpha = 1/H. Per-rank log ratios are micro-nat
    rounded ONCE so H is an exact BIGINT half-up ratio and alpha is
    an exact integer division of 1e12 by it — no float averaging
    anywhere. alpha < 2 means infinite variance: sample means of
    this column don't converge and every mean-based dashboard on it
    is a lie — the heavy-tail gate to run before trusting averages.

    Scale: the top-(k+1) selection is a partial rank
    (TakeOrderedAndProject at scale); the estimator folds k rows.
    The rank window over the fact at this scale is the fixture-
    honest form; a quantile-sketch threshold replaces it at 100 TB."""
    vals = io.load_table(spark, sf_dir, "orders").select(
        half_up(F.col("o_totalprice"), 2).alias("cents"),
        "o_orderkey",
    )
    wr = Window.orderBy(F.col("cents").desc(), "o_orderkey")
    ranked = vals.select(
        "cents", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") <= _HILL_K + 1)
    xk1 = ranked.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("cents").alias("x_ref")
    )
    ratios = (
        ranked.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(xk1))
        .select(
            half_up(
                F.log(F.col("cents").cast("double") / F.col("x_ref")), 6
            ).alias("r_micro"),
            "x_ref",
        )
    )
    hill = F.floor(
        (2 * F.sum("r_micro") + _HILL_K) / (2 * _HILL_K)
    ).cast("long")
    return ratios.agg(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.max("x_ref").cast("long").alias("x_k1_cents"),
        hill.alias("hill_micro"),
        F.floor(
            (F.lit(2000000000000).cast("long") + hill) / (2 * hill)
        )
        .cast("long")
        .alias("alpha_micro"),
    )
