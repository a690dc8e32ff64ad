"""Round-50 breadth batch: underwater spells, ROC curve points, and
Mahalanobis outliers.

- ``win_underwater_spell`` — drawdown DURATION: the longest run of
  days spent below the running equity peak (win_drawdown measures
  how deep; this measures how long — the recovery-time risk that
  depth alone hides), via gaps-and-islands on the underwater flag.
- ``eval_roc_points`` — the ROC curve sampled at exact score-decile
  thresholds: (FPR, TPR) pairs in integral micro units — the curve
  whose area eval_auc_roc states as one number, drawn the way a
  threshold-picking review actually uses it.
- ``dq_mahalanobis_outliers`` — bivariate Mahalanobis outliers on
  (activity, spend): the covariance-aware distance that catches the
  user who is moderately extreme on BOTH axes — invisible to any
  per-axis z-score — via the closed-form 2x2 inverse on exact
  integer moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# win_underwater_spell
# --------------------------------------------------------------------------


@query(
    "win_underwater_spell",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    flagged AS (
        SELECT day,
               CASE WHEN cents < max(cents) OVER (
                        ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
                    THEN 1 ELSE 0 END AS under,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    runs AS (
        SELECT min(day) AS spell_start, max(day) AS spell_end,
               count(*) AS spell_days
        FROM (SELECT *, rn - row_number() OVER (ORDER BY day)
                        AS island
              FROM flagged WHERE under = 1)
        GROUP BY island
    )
    SELECT spell_start, spell_end,
           CAST(spell_days AS BIGINT) AS spell_days,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY spell_days DESC, spell_start) AS rnk
        FROM runs
    ) WHERE rnk <= 3
    """,
)
def win_underwater_spell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown duration: a day is UNDERWATER when the daily purchase
    total sits strictly below its running peak; consecutive
    underwater days form spells (gaps-and-islands on the flag), and
    the 3 longest ship with their start/end. win_drawdown answers
    "how deep did it go"; this answers "how long until a new high" —
    the recovery-time risk two series with identical max drawdown
    can differ on wildly. Integer comparisons end to end.

    Scale: daily collapse, one running-max window and one island
    window over the calendar-sized series (per instrument key at
    fleet scale), top-3 as a partial rank."""
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
    flagged = daily.select(
        "day",
        F.when(
            F.col("cents")
            < F.max("cents").over(
                wo.rowsBetween(Window.unboundedPreceding, 0)
            ),
            1,
        )
        .otherwise(0)
        .alias("under"),
        F.row_number().over(wo).alias("rn"),
    )
    runs = (
        flagged.filter(F.col("under") == 1)
        .withColumn(
            "island",
            F.col("rn") - F.row_number().over(Window.orderBy("day")),
        )
        .groupBy("island")
        .agg(
            F.min("day").alias("spell_start"),
            F.max("day").alias("spell_end"),
            F.count("*").alias("spell_days"),
        )
    )
    wr = Window.orderBy(F.col("spell_days").desc(), "spell_start")
    return (
        runs.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "spell_start",
            "spell_end",
            F.col("spell_days").cast("long").alias("spell_days"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# eval_roc_points
# --------------------------------------------------------------------------


@query(
    "eval_roc_points",
    oracle="""
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
        SELECT d.d AS decile, max(r.s) AS thr
        FROM (SELECT CAST(range AS BIGINT) + 1 AS d FROM range(9)) d
        JOIN ranked r ON r.rn = (d.d * r.n + 9) // 10
        GROUP BY d.d
    ),
    tot AS (
        SELECT sum(y) AS pos, sum(1 - y) AS neg FROM pts
    )
    SELECT CAST(c.decile AS BIGINT) AS decile,
           CAST(c.thr AS BIGINT) AS threshold_cents,
           CAST((2000000 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                               THEN 1 ELSE 0 END) + t.pos)
               // (2 * t.pos) AS BIGINT) AS tpr_micro,
           CAST((2000000 * sum(CASE WHEN p.s >= c.thr AND p.y = 0
                               THEN 1 ELSE 0 END) + t.neg)
               // (2 * t.neg) AS BIGINT) AS fpr_micro
    FROM pts p CROSS JOIN cuts c CROSS JOIN tot t
    GROUP BY c.decile, c.thr, t.pos, t.neg
    """,
)
def eval_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROC curve at 9 exact score-decile thresholds: for each
    cut, TPR and FPR in half-up integral micro units. eval_auc_roc
    collapses this curve to its area; the threshold-picking review
    needs the points themselves (pick the knee, or the point at the
    ops team's FPR budget). Integer rank cuts, exact confusion
    counts, integral divisions — nothing floats until never.

    Scale: the decile-cut ranks come from the bucketed two-pass
    cumsum (operators/windows.py:bucketed_rank_cumsum rank-only —
    converted round 10; a mergeable quantile sketch is the even-
    cheaper cut at fleet scale); the sweep is a 9-row broadcast
    cross join folded in one aggregate pass over the fact."""
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
    ds = spark.range(9).select((F.col("id") + 1).alias("decile"))
    cuts = (
        ds.join(
            ranked,
            F.col("rn")
            == F.floor((F.col("decile") * F.col("n") + 9) / 10),
        )
        .groupBy("decile")
        .agg(F.max("s").alias("thr"))
    )
    tot = pts.agg(
        F.sum("y").alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"),
    )
    swept = pts.crossJoin(F.broadcast(cuts)).crossJoin(
        F.broadcast(tot)
    )
    pred_pos = F.col("s") >= F.col("thr")
    return (
        swept.groupBy("decile", "thr", "pos", "neg")
        .agg(
            F.sum(
                F.when(pred_pos & (F.col("y") == 1), 1).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(pred_pos & (F.col("y") == 0), 1).otherwise(0)
            ).alias("fp"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("thr").cast("long").alias("threshold_cents"),
            F.expr(
                "(2000000 * tp + pos) div (2 * pos)"
            ).alias("tpr_micro"),
            F.expr(
                "(2000000 * fp + neg) div (2 * neg)"
            ).alias("fpr_micro"),
        )
    )


# --------------------------------------------------------------------------
# dq_mahalanobis_outliers
# --------------------------------------------------------------------------

_MAH_TOP = 10


@query(
    "dq_mahalanobis_outliers",
    oracle=f"""
    WITH u AS (
        SELECT user_id, count(*) AS a,
               sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                   THEN CAST(floor(CAST(value AS DOUBLE) + 0.5)
                             AS BIGINT) ELSE 0 END) AS b
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb,
               sum(a * a) AS saa, sum(b * b) AS sbb,
               sum(a * b) AS sab
        FROM u
    ),
    c AS (
        SELECT n,
               CAST(n * saa - sa * sa AS DOUBLE) AS cxx,
               CAST(n * sbb - sb * sb AS DOUBLE) AS cyy,
               CAST(n * sab - sa * sb AS DOUBLE) AS cxy,
               CAST(sa AS DOUBLE) / n AS mx,
               CAST(sb AS DOUBLE) / n AS my
        FROM m
    )
    SELECT user_id,
           CAST(a AS BIGINT) AS activity,
           CAST(b AS BIGINT) AS spend_dollars,
           CAST(d2_micro AS BIGINT) AS d2_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT u.user_id, u.a, u.b,
               CAST(floor(1000000.0 * c.n *
                    (c.cyy * (u.a - c.mx) * (u.a - c.mx)
                     - 2.0 * c.cxy * (u.a - c.mx) * (u.b - c.my)
                     + c.cxx * (u.b - c.my) * (u.b - c.my))
                    / (c.cxx * c.cyy - c.cxy * c.cxy) + 0.5)
                    AS BIGINT) AS d2_micro,
               row_number() OVER (ORDER BY
                    (c.cyy * (u.a - c.mx) * (u.a - c.mx)
                     - 2.0 * c.cxy * (u.a - c.mx) * (u.b - c.my)
                     + c.cxx * (u.b - c.my) * (u.b - c.my)) DESC,
                    u.user_id) AS rnk
        FROM u CROSS JOIN c
    )
    WHERE rnk <= {_MAH_TOP}
    """,
)
def dq_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bivariate Mahalanobis outliers on (activity, whole-dollar
    spend) per user: squared distance through the closed-form 2x2
    covariance inverse, d² = n·(cyy·dx² - 2·cxy·dx·dy + cxx·dy²)/det
    with all covariance moments exact BIGINTs (n-scaled centering) —
    the correlation-aware distance that flags the user who is
    moderately extreme on BOTH axes at once, exactly the shape every
    per-axis z-score (and Tukey fence) is blind to. Top-{_MAH_TOP}
    by raw distance, micro-rounded for the hash.

    Scale: user-grain fold, one-row moment broadcast, a narrow
    per-user formula, partial top-k. The p-dimensional version
    swaps the closed-form inverse for a once-broadcast precision
    matrix — same plan shape."""
    u = (
        io.load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("a"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("value").isNotNull(),
                    F.floor(F.col("value").cast("double") + 0.5).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0))
            ).alias("b"),
        )
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
    )
    c = m.select(
        "n",
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("double")
        .alias("cxx"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("double")
        .alias("cyy"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("double")
        .alias("cxy"),
        (F.col("sa").cast("double") / F.col("n")).alias("mx"),
        (F.col("sb").cast("double") / F.col("n")).alias("my"),
    )
    dx = F.col("a") - F.col("mx")
    dy = F.col("b") - F.col("my")
    quad = (
        F.col("cyy") * dx * dx
        - 2.0 * F.col("cxy") * dx * dy
        + F.col("cxx") * dy * dy
    )
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    scored = u.crossJoin(F.broadcast(c)).select(
        "user_id",
        "a",
        "b",
        quad.alias("quad"),
        F.floor(1000000.0 * F.col("n") * quad / det + 0.5)
        .cast("long")
        .alias("d2_micro"),
    )
    wr = Window.orderBy(F.col("quad").desc(), "user_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _MAH_TOP)
        .select(
            "user_id",
            F.col("a").cast("long").alias("activity"),
            F.col("b").cast("long").alias("spend_dollars"),
            "d2_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
