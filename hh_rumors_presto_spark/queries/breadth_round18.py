"""Round-18 breadth batch: Kaplan–Meier survival, experiment power
planning, and metric-change attribution.

- ``ts_kaplan_meier`` — the Kaplan–Meier survival estimator over user
  lifetimes with right-censoring: per distinct lifetime, the risk set,
  observed churns, censored exits, and the survival curve — computed in
  LOG space with per-step micro-nat rounding so the cumulative product
  is an order-free exact integer sum (then one exp at the end).
- ``ab_power_mde`` — the experiment PLANNING readout: minimum
  detectable effect at current traffic and the per-arm sample size a
  1% lift would need (80% power, 5% two-sided) — from the same exact
  moment sums as ``ab_welch_ttest``.
- ``dq_change_attribution`` — period-over-period metric-change
  root-cause: which segment drove the delta between the first and
  second half of the data, with sign-safe integer contribution shares
  (the Adtributor-style "why did the metric move" audit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ts_kaplan_meier
# --------------------------------------------------------------------------

_KM_CENSOR_DAYS = 7


@query(
    "ts_kaplan_meier",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS first_day,
               CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS last_day
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(last_day) AS max_day FROM u),
    life AS (
        SELECT date_diff('day', first_day, last_day) AS dur,
               last_day <= h.max_day - INTERVAL {_KM_CENSOR_DAYS} DAY
                   AS observed
        FROM u CROSS JOIN horizon h
    ),
    tot AS (SELECT count(*) AS n_total FROM life),
    t AS (
        SELECT dur,
               count(CASE WHEN observed THEN 1 END) AS d,
               count(CASE WHEN NOT observed THEN 1 END) AS c
        FROM life GROUP BY dur
    ),
    risk AS (
        SELECT dur, d, c,
               (SELECT n_total FROM tot)
                   - coalesce(sum(d + c) OVER (
                         ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_risk
        FROM t
    ),
    terms AS (
        SELECT dur, d, c, n_risk,
               CASE WHEN d = 0 THEN 0
                    WHEN n_risk > d THEN
                        CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                                   * 1000000.0 + 0.5) AS BIGINT)
                    END AS term_mnat
        FROM risk
    )
    SELECT CAST(dur AS BIGINT) AS dur_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(c AS BIGINT) AS c_censored,
           CAST(cum_mnat AS BIGINT) AS cum_mnat,
           CASE WHEN cum_mnat IS NULL THEN 0.0
                ELSE round(exp(cum_mnat / 1000000.0), 6) END AS survival
    FROM (
        SELECT *, sum(term_mnat) OVER (
                   ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_mnat
        FROM terms
    )
    """,
)
def ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival over user lifetimes (first event → last
    event, in days), right-censored when the user is still active
    within {_KM_CENSOR_DAYS} days of the data horizon — the retention /
    churn curve every product-analytics stack publishes. The product
    Π(1 - d/n) is kept in LOG space with each factor rounded to
    integer micro-nats, so the cumulative term is an order-free exact
    BIGINT window sum (one exp + round at the very end); a risk set
    exhausted by deaths pins survival to exactly 0.

    Scale: one per-user min/max aggregate (map-side partials), then
    everything runs on the |distinct lifetimes| table — calendar-sized.
    The single ordered window there is over that tiny table, not the
    fact. A NULL term (n_risk == d) only occurs at the final time."""
    u = (
        io.load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_day"),
            F.max(F.col("ts").cast("date")).alias("last_day"),
        )
    )
    horizon = u.agg(F.max("last_day").alias("max_day"))
    life = u.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").alias("dur"),
        (
            F.col("last_day")
            <= F.date_sub(F.col("max_day"), _KM_CENSOR_DAYS)
        ).alias("observed"),
    )
    tot = life.agg(F.count("*").alias("n_total"))
    t = life.groupBy("dur").agg(
        F.count(F.when(F.col("observed"), 1)).alias("d"),
        F.count(F.when(~F.col("observed"), 1)).alias("c"),
    )
    wprev = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = t.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    term = (
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("n_risk") > F.col("d"),
            half_up(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                ),
                6,
            ),
        )
        .otherwise(F.lit(None).cast("long"))
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risk.withColumn("term_mnat", term)
        .withColumn("cum_mnat", F.sum("term_mnat").over(wcum))
        .select(
            F.col("dur").cast("long").alias("dur_days"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            F.col("c").cast("long").alias("c_censored"),
            F.col("cum_mnat").cast("long").alias("cum_mnat"),
            F.when(F.col("cum_mnat").isNull(), F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("cum_mnat") / 1000000.0), 6))
            .alias("survival"),
        )
    )


# --------------------------------------------------------------------------
# ab_power_mde
# --------------------------------------------------------------------------

_Z_ALPHA = 1.959964  # two-sided 5%
_Z_BETA = 0.841621  # 80% power


@query(
    "ab_power_mde",
    oracle=f"""
    WITH user_metric AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    g AS (
        SELECT variant, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS s2
        FROM user_metric GROUP BY variant
    ),
    w AS (
        SELECT a.n AS n0, b.n AS n1,
               CAST(a.s AS DOUBLE) / a.n AS m0,
               ((CAST(a.n AS DOUBLE) * a.s2 - CAST(a.s AS DOUBLE) * a.s)
                    / (CAST(a.n AS DOUBLE) * (a.n - 1))
                + (CAST(b.n AS DOUBLE) * b.s2 - CAST(b.s AS DOUBLE) * b.s)
                    / (CAST(b.n AS DOUBLE) * (b.n - 1))) / 2.0 AS v
        FROM g a JOIN g b ON a.variant = 0 AND b.variant = 1
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(m0, 6) AS mean0,
           round(v, 4) AS var_pooled,
           round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(v / n0 + v / n1), 6)
               AS mde_abs,
           CAST(ceil(2.0 * pow({_Z_ALPHA} + {_Z_BETA}, 2) * v
                     / pow(0.01 * m0, 2)) AS BIGINT) AS n_per_arm_1pct
    FROM w
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning from the same exact per-user moment
    sums as ab_welch_ttest: the minimum detectable effect at CURRENT
    traffic — (z_α/2 + z_β)·√(v/n0 + v/n1) at 80% power / 5% two-sided
    — and the per-arm sample size a 1%-of-control-mean lift would need
    (2(z_α/2+z_β)²v / δ²). The "can this experiment even see the
    effect you care about" gate that should run before any launch.

    Scale: identical to ab_welch_ttest — one keyed fact aggregate, a
    2-row moment table, a one-row formula fold."""
    um = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
        .select((F.col("user_id") % 2).alias("variant"), "cents")
    )
    g = um.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    a = g.filter(F.col("variant") == 0).alias("a")
    b = g.filter(F.col("variant") == 1).alias("b")

    def svar(side: str) -> F.Column:
        n = F.col(f"{side}.n").cast("double")
        s = F.col(f"{side}.s").cast("double")
        s2 = F.col(f"{side}.s2")
        return (n * s2 - s * F.col(f"{side}.s")) / (
            n * (F.col(f"{side}.n") - 1)
        )

    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n0"),
        F.col("b.n").alias("n1"),
        (F.col("a.s").cast("double") / F.col("a.n")).alias("m0"),
        ((svar("a") + svar("b")) / 2.0).alias("v"),
    )
    zsum = _Z_ALPHA + _Z_BETA
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round("m0", 6).alias("mean0"),
        F.round("v", 4).alias("var_pooled"),
        F.round(
            F.lit(zsum)
            * F.sqrt(F.col("v") / F.col("n0") + F.col("v") / F.col("n1")),
            6,
        ).alias("mde_abs"),
        F.ceil(
            F.lit(2.0 * zsum * zsum)
            * F.col("v")
            / F.pow(F.lit(0.01) * F.col("m0"), F.lit(2))
        )
        .cast("long")
        .alias("n_per_arm_1pct"),
    )


# --------------------------------------------------------------------------
# dq_change_attribution
# --------------------------------------------------------------------------


@query(
    "dq_change_attribution",
    oracle="""
    WITH ev AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    span AS (
        SELECT min(day) AS lo,
               min(day) + (max(day) - min(day)) // 2 * INTERVAL 1 DAY AS mid
        FROM ev
    ),
    seg AS (
        SELECT event_type,
               sum(CASE WHEN e.day <= s.mid THEN cents ELSE 0 END) AS a_cents,
               sum(CASE WHEN e.day > s.mid THEN cents ELSE 0 END) AS b_cents
        FROM ev e CROSS JOIN span s
        GROUP BY event_type
    ),
    d AS (
        SELECT event_type, a_cents, b_cents,
               b_cents - a_cents AS delta,
               sum(abs(b_cents - a_cents)) OVER () AS tot_abs
        FROM seg
    )
    SELECT event_type,
           CAST(a_cents AS BIGINT) AS a_cents,
           CAST(b_cents AS BIGINT) AS b_cents,
           CAST(delta AS BIGINT) AS delta,
           CAST(CASE WHEN tot_abs = 0 THEN 0
                WHEN delta < 0 THEN -((-delta) * 1000000 // tot_abs)
                ELSE delta * 1000000 // tot_abs END AS BIGINT)
               AS contrib_micro,
           CAST(row_number() OVER (
                    ORDER BY abs(delta) DESC, event_type)
                AS BIGINT) AS rnk
    FROM d
    """,
)
def dq_change_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change attribution: split the data at its
    midpoint day, compute each segment's exact-integer metric delta,
    and rank segments by |delta| with a sign-safe integer contribution
    share (|delta|·1e6 DIV Σ|delta|, negated for drops — truncation
    toward zero in both engines). The Adtributor-style "which segment
    moved the metric" root-cause readout an on-call analyst runs first.

    Scale: one fact scan into per-(segment) period sums (the midpoint
    is a ONE-ROW broadcast); the attribution and ranking run on the
    segment-cardinality table."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    span = ev.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.expr("date_add(lo, CAST(datediff(hi, lo) DIV 2 AS INT))").alias(
            "mid"
        )
    )
    seg = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("day") <= F.col("mid"), F.col("cents")).otherwise(
                    F.lit(0)
                )
            ).alias("a_cents"),
            F.sum(
                F.when(F.col("day") > F.col("mid"), F.col("cents")).otherwise(
                    F.lit(0)
                )
            ).alias("b_cents"),
        )
    )
    d = seg.select(
        "event_type",
        "a_cents",
        "b_cents",
        (F.col("b_cents") - F.col("a_cents")).alias("delta"),
    ).withColumn(
        "tot_abs", F.sum(F.abs("delta")).over(Window.partitionBy())
    )
    return d.select(
        "event_type",
        F.col("a_cents").cast("long").alias("a_cents"),
        F.col("b_cents").cast("long").alias("b_cents"),
        F.col("delta").cast("long").alias("delta"),
        F.expr(
            "CASE WHEN tot_abs = 0 THEN 0"
            " WHEN delta < 0 THEN -((-delta) * 1000000 DIV tot_abs)"
            " ELSE delta * 1000000 DIV tot_abs END"
        )
        .cast("long")
        .alias("contrib_micro"),
        F.row_number()
        .over(Window.orderBy(F.abs("delta").desc(), "event_type"))
        .cast("long")
        .alias("rnk"),
    )
