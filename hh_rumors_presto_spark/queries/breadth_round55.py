"""Round-55 breadth batch: the sequential-decision family — SPRT,
Page–Hinkley drift detection, and Bayesian posterior readout.

- ``ab_sprt_boundary`` — Wald's sequential probability ratio test
  replayed over the ordered conversion stream: each observation
  adds one of two FIXED micro-nat increments to the log-likelihood
  ratio, so the whole path is exact integer prefix sums, and the
  first boundary crossing (±ln 19 for 5%/5% errors) is the earliest
  day the experiment could have stopped — usually far before the
  fixed-horizon test, which is the entire sales pitch of
  sequential testing.
- ``ts_page_hinkley`` — the Page–Hinkley drift detector: cumulative
  deviation from the RUNNING mean minus a drift allowance, alarmed
  when it rises λ above its own running minimum — the standard
  change detector for data streams (binseg finds the split after
  the fact; PH tells you when you'd have KNOWN).
- ``ab_bayes_posterior`` — Beta-Binomial posterior readout per arm:
  exact integer posterior parameters, posterior means/variances in
  micro units, and the normal-approximation z for P(T > C) — the
  Bayesian summary that reads "probability treatment is better",
  not "p-value".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ab_sprt_boundary
# --------------------------------------------------------------------------

# H0: conversion = 15%; H1: conversion = 25%. Increments in micro-nats:
#   success: ln(0.25/0.15)    = +510826 micro
#   failure: ln(0.75/0.85)    = -125163 micro
# boundaries: +/- ln(19) = +/- 2944439 micro (alpha = beta = 0.05)
_SPRT_UP = 510826
_SPRT_DN = -125163
_SPRT_B = 2944439


@query(
    "ab_sprt_boundary",
    oracle=f"""
    WITH seq AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CASE WHEN event_type = 'purchase'
                    THEN {_SPRT_UP} ELSE {_SPRT_DN} END AS inc
        FROM events
        WHERE event_type IN ('purchase', 'view')
    ),
    daily AS (
        SELECT day, sum(inc) AS d_inc, count(*) AS n
        FROM seq GROUP BY day
    ),
    path AS (
        SELECT day,
               sum(d_inc) OVER (ORDER BY day) AS llr,
               sum(n) OVER (ORDER BY day) AS n_obs
        FROM daily
    ),
    crossing AS (
        SELECT day, llr, n_obs,
               row_number() OVER (ORDER BY day) AS rn
        FROM path
        WHERE llr >= {_SPRT_B} OR llr <= -{_SPRT_B}
    )
    SELECT p.day AS final_day,
           CAST(p.llr AS BIGINT) AS final_llr_micro,
           CAST(p.n_obs AS BIGINT) AS n_obs,
           c.day AS first_crossing_day,
           CAST(c.llr AS BIGINT) AS crossing_llr_micro,
           CAST(CASE WHEN c.llr >= {_SPRT_B} THEN 1
                     WHEN c.llr <= -{_SPRT_B} THEN -1
                     ELSE 0 END AS BIGINT) AS decision
    FROM (
        SELECT *, row_number() OVER (ORDER BY day DESC) AS lr
        FROM path
    ) p
    LEFT JOIN (SELECT * FROM crossing WHERE rn = 1) c ON TRUE
    WHERE p.lr = 1
    """,
)
def ab_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT replayed at daily grain over the purchase/view
    stream (H0: 15% conversion, H1: 25%; alpha = beta = 5%): every
    observation contributes one of two constant micro-nat increments
    — so the LLR path is exact integer prefix sums — and the first
    day the path exits ±ln19 is when a sequential experiment would
    have STOPPED (decision +1 = accept H1, -1 = accept H0). The
    day gap between first crossing and the stream's end is the
    sample budget fixed-horizon testing wastes.

    Scale: fact -> daily increment sums (map-side partials) -> one
    ordered prefix window over the calendar -> a first-crossing
    partial rank. Per experiment key at fleet scale."""
    seq = (
        io.load_events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            F.col("ts").cast("date").alias("day"),
            F.when(
                F.col("event_type") == "purchase", F.lit(_SPRT_UP)
            )
            .otherwise(F.lit(_SPRT_DN))
            .alias("inc"),
        )
    )
    daily = seq.groupBy("day").agg(
        F.sum("inc").alias("d_inc"), F.count("*").alias("n")
    )
    wo = Window.orderBy("day")
    path = daily.select(
        "day",
        F.sum("d_inc").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("llr"),
        F.sum("n").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("n_obs"),
    ).localCheckpoint()
    final = (
        path.withColumn(
            "lr", F.row_number().over(Window.orderBy(F.col("day").desc()))
        )
        .filter(F.col("lr") == 1)
        .select(
            F.col("day").alias("final_day"),
            F.col("llr").alias("final_llr_micro"),
            F.col("n_obs").alias("n_obs"),
        )
    )
    crossing = (
        path.filter(
            (F.col("llr") >= _SPRT_B) | (F.col("llr") <= -_SPRT_B)
        )
        .withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").alias("first_crossing_day"),
            F.col("llr").alias("crossing_llr_micro"),
        )
    )
    return final.join(F.broadcast(crossing), F.lit(True), "left").select(
        "final_day",
        F.col("final_llr_micro").cast("long").alias("final_llr_micro"),
        F.col("n_obs").cast("long").alias("n_obs"),
        "first_crossing_day",
        F.col("crossing_llr_micro")
        .cast("long")
        .alias("crossing_llr_micro"),
        F.when(F.col("crossing_llr_micro") >= _SPRT_B, 1)
        .when(F.col("crossing_llr_micro") <= -_SPRT_B, -1)
        .otherwise(0)
        .cast("long")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# ts_page_hinkley
# --------------------------------------------------------------------------

_PH_DELTA = 500.0  # drift allowance, dollars/day
_PH_LAMBDA = 50000.0 * 1e6  # alarm threshold in micro-dollars


@query(
    "ts_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(CAST(value AS DOUBLE) + 0.5)
                             AS BIGINT) ELSE 0 END) AS x
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ),
    pre AS (
        SELECT day, x,
               sum(x) OVER w AS s,
               row_number() OVER (ORDER BY day) AS t
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
    ),
    terms AS (
        SELECT day, t,
               CAST(floor(1000000.0 * (x - CAST(s AS DOUBLE) / t
                                       - {_PH_DELTA}) + 0.5)
                    AS BIGINT) AS term_micro
        FROM pre
    ),
    cum AS (
        SELECT day, sum(term_micro) OVER (ORDER BY day) AS m
        FROM terms
    ),
    path AS (
        SELECT day, m, min(m) OVER (ORDER BY day) AS m_min
        FROM cum
    ),
    alarms AS (
        SELECT day, m - m_min AS ph,
               row_number() OVER (ORDER BY day) AS rn
        FROM path
        WHERE m - m_min > {_PH_LAMBDA}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(p.m - p.m_min) AS BIGINT) AS max_ph_micro,
           max(a.day) AS first_alarm_day,
           CAST(max(a.ph) AS BIGINT) AS alarm_ph_micro
    FROM path p
    LEFT JOIN (SELECT * FROM alarms WHERE rn = 1) a ON TRUE
    """,
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detection on daily purchase dollars:
    m_t = Σ (x_i - mean_i - delta) with the RUNNING mean (each
    term micro-rounded once from exact prefix sums, so the path is
    an order-free BIGINT), alarmed the first day m_t rises lambda
    above its own running minimum. PH is the detector you run LIVE
    (ts_changepoint_binseg localizes the shift retrospectively);
    first_alarm_day is NULL when the series never drifts past the
    allowance — the quiet answer is an answer.

    Scale: daily collapse, three ordered windows over the calendar-
    sized series (per metric key at fleet scale), a one-row fold."""
    daily = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value").cast("double") + 0.5).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0))
            ).alias("x")
        )
    )
    wo = Window.orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        "x",
        F.sum("x").over(wcum).alias("s"),
        F.row_number().over(wo).alias("t"),
    )
    terms = pre.select(
        "day",
        half_up(
            F.col("x") - F.col("s").cast("double") / F.col("t") - _PH_DELTA,
            6,
        ).alias("term_micro"),
    )
    path = terms.select(
        "day", F.sum("term_micro").over(wcum).alias("m")
    ).select(
        "day", "m", F.min("m").over(wcum).alias("m_min")
    ).localCheckpoint()
    alarms = (
        path.filter(F.col("m") - F.col("m_min") > _PH_LAMBDA)
        .withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").alias("first_alarm_day"),
            (F.col("m") - F.col("m_min")).alias("alarm_ph_micro"),
        )
    )
    stats = path.agg(
        F.count("*").alias("n_days"),
        F.max(F.col("m") - F.col("m_min")).alias("max_ph_micro"),
    )
    return stats.join(F.broadcast(alarms), F.lit(True), "left").select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("max_ph_micro").cast("long").alias("max_ph_micro"),
        "first_alarm_day",
        F.col("alarm_ph_micro").cast("long").alias("alarm_ph_micro"),
    )


# --------------------------------------------------------------------------
# ab_bayes_posterior
# --------------------------------------------------------------------------


@query(
    "ab_bayes_posterior",
    oracle="""
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    m AS (
        SELECT arm, count(*) AS n, sum(y) AS c FROM arms GROUP BY arm
    ),
    post AS (
        SELECT arm, n, c,
               c + 1 AS alpha, n - c + 1 AS beta,
               CAST(c + 1 AS DOUBLE) / (n + 2) AS mu,
               (CAST(c + 1 AS DOUBLE) / (n + 2))
               * (CAST(n - c + 1 AS DOUBLE) / (n + 2)) / (n + 3)
                   AS var
        FROM m
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n AS BIGINT) AS n,
           CAST(alpha AS BIGINT) AS post_alpha,
           CAST(beta AS BIGINT) AS post_beta,
           CAST(floor(1000000.0 * mu + 0.5) AS BIGINT) AS mean_micro,
           round(sqrt(var), 6) AS sd,
           round((max(CASE WHEN arm = 1 THEN mu END) OVER ()
                  - max(CASE WHEN arm = 0 THEN mu END) OVER ())
                 / sqrt(max(CASE WHEN arm = 1 THEN var END) OVER ()
                        + max(CASE WHEN arm = 0 THEN var END)
                          OVER ()), 4) AS z_t_gt_c
    FROM post
    """,
)
def ab_bayes_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial posterior readout per arm (uniform Beta(1,1)
    prior): exact integer posterior parameters (c+1, n-c+1),
    posterior mean in micro units, posterior sd, and the normal-
    approximation z for P(treatment > control) — z = 2 means
    roughly 98% posterior probability the treatment converts
    better, a sentence a decision-maker can actually use (the
    frequentist p-value answers a different, stranger question).
    Counts are exact; the moments are fixed-shape Beta formulas.

    Scale: one fact pass to two count rows; windows over 2 rows."""
    arms = (
        io.load_events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    m = arms.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("y").alias("c")
    )
    mu = (F.col("c") + 1).cast("double") / (F.col("n") + 2)
    var = (
        mu
        * ((F.col("n") - F.col("c") + 1).cast("double") / (F.col("n") + 2))
        / (F.col("n") + 3)
    )
    post = m.select(
        "arm",
        "n",
        (F.col("c") + 1).alias("alpha"),
        (F.col("n") - F.col("c") + 1).alias("beta"),
        mu.alias("mu"),
        var.alias("var"),
    )
    wt = Window.partitionBy()
    mu_t = F.max(F.when(F.col("arm") == 1, F.col("mu"))).over(wt)
    mu_c = F.max(F.when(F.col("arm") == 0, F.col("mu"))).over(wt)
    v_t = F.max(F.when(F.col("arm") == 1, F.col("var"))).over(wt)
    v_c = F.max(F.when(F.col("arm") == 0, F.col("var"))).over(wt)
    return post.select(
        F.col("arm").cast("long").alias("arm"),
        F.col("n").cast("long").alias("n"),
        F.col("alpha").cast("long").alias("post_alpha"),
        F.col("beta").cast("long").alias("post_beta"),
        half_up(F.col("mu"), 6).alias("mean_micro"),
        F.round(F.sqrt(F.col("var")), 6).alias("sd"),
        F.round((mu_t - mu_c) / F.sqrt(v_t + v_c), 4).alias(
            "z_t_gt_c"
        ),
    )
