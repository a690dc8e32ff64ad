"""Round-32 breadth batch: the classifier-diagnostics eval family —
calibration/ECE, a threshold sweep, and Cohen's kappa.

- ``eval_calibration_ece`` — the reliability diagram + expected
  calibration error: 10 integer probability bins, per-bin confidence
  vs observed rate, and an ECE whose numerator is an exact BIGINT
  (|sum_conf_pct - 100*positives| telescopes the n/N weighting away).
- ``eval_f1_threshold`` — confusion-matrix sweep at the exact
  nearest-rank P25/P50/P75 score cuts: TP/FP/FN/TN counts plus
  precision/recall/F1 as half-up integer micro units
  (F1 = 2TP/(2TP+FP+FN) — computed from counts, never from the
  rounded P and R).
- ``eval_cohens_kappa`` — chance-corrected inter-rater agreement
  between two deterministic document-quality raters (length-based vs
  token-based): kappa = (N*agree - sum(marginal products)) /
  (N^2 - sum(marginal products)), all-BIGINT with one division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_calibration_ece
# --------------------------------------------------------------------------


@query(
    "eval_calibration_ece",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   % 100 AS conf_pct,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    bins AS (
        SELECT conf_pct // 10 AS bin,
               count(*) AS n, sum(conf_pct) AS conf_sum,
               sum(y) AS pos
        FROM pts GROUP BY conf_pct // 10
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           round(conf_sum / (100.0 * n), 6) AS mean_conf,
           round(pos / CAST(n AS DOUBLE), 6) AS observed,
           CAST(abs(conf_sum - 100 * pos) AS BIGINT) AS gap_num,
           round(sum(abs(conf_sum - 100 * pos)) OVER ()
                 / (100.0 * sum(n) OVER ()), 6) AS ece
    FROM bins
    """,
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for the cents-percent pseudo-
    probability (value mod 100, the stand-in for a model's predicted
    probability — the operator is the point, the model is plumbing)
    against the purchase label. The per-bin gap numerator
    |conf_sum - 100*pos| is an exact BIGINT, and because ECE =
    sum_b (n_b/N)|conf_b - obs_b| telescopes to sum_b |gap_b|/(100N),
    the headline number is integer arithmetic with ONE division.
    Every row carries the full-corpus ECE — the reliability table and
    the scalar gate in one result.

    Scale: one groupBy to 10 bin rows (map-side partials); the
    window runs over those 10 rows. Nothing else."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            (
                half_up(F.col("value"), 2)
                % 100
            ).alias("conf_pct"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    bins = pts.groupBy(
        F.floor(F.col("conf_pct") / 10).cast("long").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum("conf_pct").alias("conf_sum"),
        F.sum("y").alias("pos"),
    )
    gap = F.abs(F.col("conf_sum") - 100 * F.col("pos"))
    w = Window.partitionBy()
    return bins.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("conf_sum") / (100.0 * F.col("n")), 6).alias(
            "mean_conf"
        ),
        F.round(F.col("pos") / F.col("n").cast("double"), 6).alias(
            "observed"
        ),
        gap.cast("long").alias("gap_num"),
        F.round(
            F.sum(gap).over(w) / (100.0 * F.sum("n").over(w)), 6
        ).alias("ece"),
    )


# --------------------------------------------------------------------------
# eval_f1_threshold
# --------------------------------------------------------------------------


@query(
    "eval_f1_threshold",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    ranked AS (
        SELECT s, y,
               row_number() OVER (ORDER BY s, event_id) AS rn,
               count(*) OVER () AS n
        FROM pts
    ),
    cuts AS (
        SELECT q.q AS quartile, max(r.s) AS thr
        FROM (SELECT CAST(range AS BIGINT) + 1 AS q FROM range(3)) q
        JOIN ranked r ON r.rn = (q.q * r.n + 3) // 4
        GROUP BY q.q
    )
    SELECT c.quartile,
           CAST(c.thr AS BIGINT) AS threshold_cents,
           CAST(sum(CASE WHEN p.s >= c.thr AND p.y = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN p.s >= c.thr AND p.y = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN p.s < c.thr AND p.y = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN p.s < c.thr AND p.y = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST((2000000 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                               THEN 1 ELSE 0 END)
            + sum(CASE WHEN p.s >= c.thr THEN 1 ELSE 0 END))
           // (2 * sum(CASE WHEN p.s >= c.thr THEN 1 ELSE 0 END))
               AS BIGINT) AS precision_micro,
           CAST((2000000 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                               THEN 1 ELSE 0 END)
            + sum(p.y)) // (2 * sum(p.y)) AS BIGINT) AS recall_micro,
           CAST((2000000 * 2 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                                   THEN 1 ELSE 0 END)
            + (2 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                       THEN 1 ELSE 0 END)
               + sum(CASE WHEN p.s >= c.thr AND p.y = 0
                     THEN 1 ELSE 0 END)
               + sum(CASE WHEN p.s < c.thr AND p.y = 1
                     THEN 1 ELSE 0 END)))
           // (2 * (2 * sum(CASE WHEN p.s >= c.thr AND p.y = 1
                            THEN 1 ELSE 0 END)
                    + sum(CASE WHEN p.s >= c.thr AND p.y = 0
                          THEN 1 ELSE 0 END)
                    + sum(CASE WHEN p.s < c.thr AND p.y = 1
                          THEN 1 ELSE 0 END))) AS BIGINT) AS f1_micro
    FROM pts p CROSS JOIN cuts c
    GROUP BY c.quartile, c.thr
    """,
)
def eval_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix sweep at the exact nearest-rank quartile score
    cuts (P25/P50/P75 as thresholds — integer rank indices, no float
    percentile arithmetic): TP/FP/FN/TN plus precision, recall, and
    F1 = 2TP/(2TP+FP+FN) as half-up integer micro units computed from
    the raw counts (never from the already-rounded P and R — the
    classic compounding-rounding bug). Predict-positive rule is
    score >= threshold.

    Scale: one pass builds the (score,label) points; the quartile-cut
    ranks come from the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum rank-only — converted
    round 10; a mergeable quantile sketch supplies the cuts even more
    cheaply at fleet scale); the sweep is a 3-row broadcast cross
    join folded in a single aggregate."""
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
    swept = pts.crossJoin(F.broadcast(cuts))
    pred_pos = F.col("s") >= F.col("thr")
    agg = swept.groupBy("quartile", "thr").agg(
        F.sum(F.when(pred_pos & (F.col("y") == 1), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(pred_pos & (F.col("y") == 0), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(~pred_pos & (F.col("y") == 1), 1).otherwise(0))
        .alias("fn"),
        F.sum(F.when(~pred_pos & (F.col("y") == 0), 1).otherwise(0))
        .alias("tn"),
    )
    pp = F.col("tp") + F.col("fp")
    ap = F.col("tp") + F.col("fn")
    f1d = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return agg.select(
        "quartile",
        F.col("thr").cast("long").alias("threshold_cents"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.floor((2000000 * F.col("tp") + pp) / (2 * pp))
        .cast("long")
        .alias("precision_micro"),
        F.floor((2000000 * F.col("tp") + ap) / (2 * ap))
        .cast("long")
        .alias("recall_micro"),
        F.floor((2000000 * 2 * F.col("tp") + f1d) / (2 * f1d))
        .cast("long")
        .alias("f1_micro"),
    )


# --------------------------------------------------------------------------
# eval_cohens_kappa
# --------------------------------------------------------------------------

_KAPPA_LEN = 300  # rater A: long-document cut (chars)
_KAPPA_TOK = 50  # rater B: token-count cut


@query(
    "eval_cohens_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CASE WHEN n_chars >= {_KAPPA_LEN} THEN 1 ELSE 0 END
                   AS ra,
               CASE WHEN length(string_split(text, ' ')) >= {_KAPPA_TOK}
                    THEN 1 ELSE 0 END AS rb
        FROM documents
    ),
    cm AS (
        SELECT count(*) AS n,
               sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS a11,
               sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS a10,
               sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS a01,
               sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS a00
        FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(a11 AS BIGINT) AS both_good,
           CAST(a10 AS BIGINT) AS a_only,
           CAST(a01 AS BIGINT) AS b_only,
           CAST(a00 AS BIGINT) AS both_bad,
           round(CAST(n * (a11 + a00)
                      - ((a11 + a10) * (a11 + a01)
                         + (a01 + a00) * (a10 + a00)) AS DOUBLE)
                 / CAST(n * n
                        - ((a11 + a10) * (a11 + a01)
                           + (a01 + a00) * (a10 + a00)) AS DOUBLE), 6)
               AS kappa
    FROM cm
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document-quality
    raters — rater A flags length >= {_KAPPA_LEN} chars, rater B
    flags >= {_KAPPA_TOK} whitespace tokens (two cheap heuristics
    whose chance-corrected agreement tells you whether they measure
    the same thing; the label-quality audit before trusting either
    as a training filter). kappa = (N*agree - sum of marginal
    products) / (N^2 - same) — the po/pe form scaled by N^2 so both
    numerator and denominator are exact BIGINTs, ONE division.

    Scale: a narrow map then a one-row fold — map-side partials all
    the way down."""
    docs = io.load_table(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("n_chars") >= _KAPPA_LEN, 1)
        .otherwise(0)
        .alias("ra"),
        F.when(
            F.size(F.split("text", " ")) >= _KAPPA_TOK, 1
        )
        .otherwise(0)
        .alias("rb"),
    )
    cm = rated.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)
        ).alias("a11"),
        F.sum(
            F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0)
        ).alias("a10"),
        F.sum(
            F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0)
        ).alias("a01"),
        F.sum(
            F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)
        ).alias("a00"),
    )
    pe_num = (F.col("a11") + F.col("a10")) * (
        F.col("a11") + F.col("a01")
    ) + (F.col("a01") + F.col("a00")) * (F.col("a10") + F.col("a00"))
    return cm.select(
        F.col("n").cast("long").alias("n"),
        F.col("a11").cast("long").alias("both_good"),
        F.col("a10").cast("long").alias("a_only"),
        F.col("a01").cast("long").alias("b_only"),
        F.col("a00").cast("long").alias("both_bad"),
        F.round(
            (
                F.col("n") * (F.col("a11") + F.col("a00")) - pe_num
            ).cast("double")
            / (F.col("n") * F.col("n") - pe_num).cast("double"),
            6,
        ).alias("kappa"),
    )
