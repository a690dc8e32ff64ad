"""Round-57 breadth batch: cost-based threshold choice, recursive
file lookup, and the NPS readout.

- ``eval_cost_curve`` — thresholds are business decisions: at each
  exact quartile cut, the expected cost c_fp*FP + c_fn*FN under an
  asymmetric cost model (a missed conversion costs 5x a false
  alarm), with the cost-minimizing threshold flagged — the number
  F1 optimization silently gets wrong whenever errors aren't
  symmetric.
- ``scan_recursive_lookup`` — the recursiveFileLookup contract:
  parquet files written under nested, NON-partition directory
  layouts (vendor drops, date-tree exports) must all be found by
  one read — proven lossless against the source census.
- ``agg_nps`` — the Net Promoter Score: promoter/passive/detractor
  census over a 0-10 score and NPS = (P - D)/N in milli units —
  the business metric every exec dashboard leads with, done in
  exact integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_cost_curve
# --------------------------------------------------------------------------

_CC_COST_FP = 1
_CC_COST_FN = 5


@query(
    "eval_cost_curve",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y,
               event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    ranked AS (
        SELECT s, row_number() OVER (ORDER BY s, event_id) AS rn,
               count(*) OVER () AS n
        FROM pts
    ),
    cuts AS (
        SELECT q.q AS quartile, max(r.s) AS thr
        FROM (SELECT CAST(range AS BIGINT) + 1 AS q FROM range(3)) q
        JOIN ranked r ON r.rn = (q.q * r.n + 3) // 4
        GROUP BY q.q
    ),
    swept AS (
        SELECT c.quartile, c.thr,
               sum(CASE WHEN p.s >= c.thr AND p.y = 0
                   THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN p.s < c.thr AND p.y = 1
                   THEN 1 ELSE 0 END) AS fn
        FROM pts p CROSS JOIN cuts c
        GROUP BY c.quartile, c.thr
    )
    SELECT CAST(quartile AS BIGINT) AS quartile,
           CAST(thr AS BIGINT) AS threshold_cents,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST({_CC_COST_FP} * fp + {_CC_COST_FN} * fn AS BIGINT)
               AS expected_cost,
           CAST(CASE WHEN row_number() OVER (
                         ORDER BY {_CC_COST_FP} * fp
                                  + {_CC_COST_FN} * fn, quartile) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM swept
    """,
)
def eval_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based threshold selection: at each exact nearest-rank
    quartile cut, the expected cost {_CC_COST_FP}*FP +
    {_CC_COST_FN}*FN — a missed conversion (FN) priced at
    {_CC_COST_FN}x a false alarm (FP) — with the argmin flagged.
    F1 weights both errors equally, which is almost never the
    business reality; when the cost ratio is 5:1 the optimal
    threshold moves toward recall, and this 3-row table is the
    whole decision. All counts exact; cost is integer arithmetic.

    Scale: quartile-cut ranks from the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum rank-only — converted
    round 10; a mergeable quantile sketch is the even-cheaper cut at
    fleet scale), a 3-row broadcast sweep folded in one fact pass —
    the eval_f1_threshold plan with a different objective."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            half_up(F.col("value"), 2).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
            "event_id",
        )
    )
    ranked = bucketed_rank_cumsum(
        pts, order_key="s", tiebreak="event_id"
    ).select("s", F.col("rk").alias("rn"), "n")
    qs = spark.range(3).select((F.col("id") + 1).alias("quartile"))
    cuts = (
        qs.join(
            ranked,
            F.col("rn")
            == F.floor((F.col("quartile") * F.col("n") + 3) / 4),
        )
        .groupBy("quartile")
        .agg(F.max("s").alias("thr"))
    )
    swept = (
        pts.crossJoin(F.broadcast(cuts))
        .groupBy("quartile", "thr")
        .agg(
            F.sum(
                F.when(
                    (F.col("s") >= F.col("thr")) & (F.col("y") == 0), 1
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("s") < F.col("thr")) & (F.col("y") == 1), 1
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    cost = _CC_COST_FP * F.col("fp") + _CC_COST_FN * F.col("fn")
    wb = Window.orderBy(cost, "quartile")
    return swept.select(
        F.col("quartile").cast("long").alias("quartile"),
        F.col("thr").cast("long").alias("threshold_cents"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        cost.cast("long").alias("expected_cost"),
        F.when(F.row_number().over(wb) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# --------------------------------------------------------------------------
# scan_recursive_lookup
# --------------------------------------------------------------------------


@query(
    "scan_recursive_lookup",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS event_id_sum
    FROM events GROUP BY event_type
    """,
)
def scan_recursive_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recursiveFileLookup contract: event shards written into
    nested NON-partition directories (vendor/day-tree layouts that
    carry no key=value semantics — exactly what external data drops
    look like) must all be discovered by a single read with
    recursiveFileLookup=true, where the default reader would only
    see the top level. Losslessness proven by the census against
    the source.

    Scale: recursive listing is a driver-side tree walk —
    the file-index cost knob that pairs with scan_file_skipping's
    pruning; the census itself is one map-side-combined groupBy."""
    ev = io.load_events(spark, sf_dir).select(
        "event_id", "event_type"
    )
    base = io.scoped_tmp_dir(spark, "recur", sf_dir)
    # three nested, non-partition paths (no key=value components)
    (
        ev.filter(F.col("event_id") % 3 == 0)
        .write.mode("overwrite")
        .parquet(os.path.join(base, "vendor_a", "drop1"))
    )
    (
        ev.filter(F.col("event_id") % 3 == 1)
        .write.mode("overwrite")
        .parquet(os.path.join(base, "vendor_a", "deep", "drop2"))
    )
    (
        ev.filter(F.col("event_id") % 3 == 2)
        .write.mode("overwrite")
        .parquet(os.path.join(base, "vendor_b"))
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(ev.schema)
        .parquet(base)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").cast("long").alias("event_id_sum"),
    )


# --------------------------------------------------------------------------
# agg_nps
# --------------------------------------------------------------------------


@query(
    "agg_nps",
    oracle="""
    WITH scores AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) % 11 AS score
        FROM events WHERE value IS NOT NULL
    ),
    cls AS (
        SELECT CASE WHEN score >= 9 THEN 'promoter'
                    WHEN score >= 7 THEN 'passive'
                    ELSE 'detractor' END AS segment,
               score
        FROM scores
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST((2000000 * count(*) + sum(count(*)) OVER ())
               // (2 * sum(count(*)) OVER ()) AS BIGINT) AS share_micro,
           CAST((2000 * (sum(CASE WHEN segment = 'promoter'
                             THEN count(*) END) OVER ()
                         - sum(CASE WHEN segment = 'detractor'
                               THEN count(*) END) OVER ())
                 + sum(count(*)) OVER ())
                // (2 * sum(count(*)) OVER ()) AS BIGINT)
               AS nps_milli
    FROM cls GROUP BY segment
    """,
)
def agg_nps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net Promoter Score over a derived 0-10 score (cents mod 11 —
    the survey plumbing is a stand-in, the aggregation is the
    operator): promoters (9-10), passives (7-8), detractors (0-6),
    each segment's share in micro units, and NPS = (P - D)/N in
    milli units on every row (-1000..1000 — execs read it as
    -100..100). Exact counts, integral divisions — the metric is
    too watched to let float row-sums wiggle it.

    Scale: one fact pass to 3 segment rows; windows over those 3."""
    scores = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            (
                half_up(F.col("value"), 2)
                % 11
            ).alias("score")
        )
    )
    cls = scores.select(
        F.when(F.col("score") >= 9, "promoter")
        .when(F.col("score") >= 7, "passive")
        .otherwise("detractor")
        .alias("segment")
    )
    seg = cls.groupBy("segment").agg(F.count("*").alias("n"))
    wt = Window.partitionBy()
    p = F.max(
        F.when(F.col("segment") == "promoter", F.col("n"))
    ).over(wt)
    d = F.max(
        F.when(F.col("segment") == "detractor", F.col("n"))
    ).over(wt)
    total = F.sum("n").over(wt)
    return seg.withColumn("p", p).withColumn("d", d).withColumn(
        "total", total
    ).select(
        "segment",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "(2000000 * n + total) div (2 * total)"
        ).alias("share_micro"),
        F.expr(
            "(2000 * (p - d) + total) div (2 * total)"
        ).alias("nps_milli"),
    )
