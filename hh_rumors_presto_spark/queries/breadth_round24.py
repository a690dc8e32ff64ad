"""Round-24 breadth batch: categorical goodness-of-fit, metric
decomposition, and Poisson rate comparison — closing out the
statistical-testing surface.

- ``dq_chi2_goodness`` — chi-square goodness-of-fit of the observed
  event-type mix against the uniform reference — the categorical
  drift gate that pairs with ``dq_ks_test`` (numeric) and
  ``dq_drift_psi`` (binned).
- ``ab_metric_decompose`` — revenue-per-user decomposed into
  conversion rate × value-per-converter, with the variant delta
  attributed to a RATE effect and a VALUE effect — the first question
  after any topline move ("did more users buy, or did buyers spend
  more?").
- ``ab_poisson_rate`` — two-variant event-rate comparison under the
  Poisson model: exact per-variant rates, log-rate-ratio z-test — the
  count-metric significance readout (errors/requests, events/user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# dq_chi2_goodness
# --------------------------------------------------------------------------


@query(
    "dq_chi2_goodness",
    oracle="""
    WITH c AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS k FROM c)
    SELECT c.event_type,
           CAST(c.n AS BIGINT) AS observed,
           round(CAST(t.total AS DOUBLE) / t.k, 6) AS expected,
           round(pow(c.n - CAST(t.total AS DOUBLE) / t.k, 2)
                 / (CAST(t.total AS DOUBLE) / t.k), 6) AS chi2_term,
           CAST(t.k - 1 AS BIGINT) AS dof
    FROM c CROSS JOIN tot t
    """,
)
def dq_chi2_goodness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the event-type mix against the
    uniform reference: per-category observed count, expected count,
    and chi² term (Σ terms vs the χ²(k-1) critical value is the drift
    verdict) — the categorical companion to dq_ks_test and
    dq_drift_psi. Counts are exact integers; each term is two float
    ops on them.

    Scale: one map-side-combinable count by category, a ONE-ROW total
    broadcast back onto the k-row category table."""
    c = io.load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n")
    )
    tot = c.agg(F.sum("n").alias("total"), F.count("*").alias("k"))
    exp = F.col("total").cast("double") / F.col("k")
    return c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("n").cast("long").alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round(F.pow(F.col("n") - exp, F.lit(2)) / exp, 6).alias(
            "chi2_term"
        ),
        (F.col("k") - 1).cast("long").alias("dof"),
    )


# --------------------------------------------------------------------------
# ab_metric_decompose
# --------------------------------------------------------------------------


@query(
    "ab_metric_decompose",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                             AS BIGINT) ELSE 0 END) AS buy_cents,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    g AS (
        SELECT variant, count(*) AS n, sum(converted) AS n_conv,
               sum(buy_cents) AS cents
        FROM per_user GROUP BY variant
    ),
    s AS (
        SELECT variant, n, n_conv, cents,
               CAST(n_conv AS DOUBLE) / n AS conv_rate,
               CAST(cents AS DOUBLE) / n_conv AS value_per_conv,
               CAST(cents AS DOUBLE) / n AS rev_per_user
        FROM g
    )
    SELECT CAST(a.n AS BIGINT) AS n0, CAST(b.n AS BIGINT) AS n1,
           round(a.rev_per_user, 6) AS rpu0,
           round(b.rev_per_user, 6) AS rpu1,
           round(a.conv_rate, 6) AS conv0,
           round(b.conv_rate, 6) AS conv1,
           round(a.value_per_conv, 6) AS vpc0,
           round(b.value_per_conv, 6) AS vpc1,
           round((b.conv_rate - a.conv_rate)
                 * (a.value_per_conv + b.value_per_conv) / 2, 6)
               AS rate_effect,
           round((b.value_per_conv - a.value_per_conv)
                 * (a.conv_rate + b.conv_rate) / 2, 6) AS value_effect
    FROM s a JOIN s b ON a.variant = 0 AND b.variant = 1
    """,
)
def ab_metric_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topline decomposition: revenue-per-user = conversion rate ×
    value-per-converter, and the variant delta split into a RATE
    effect and a VALUE effect via the symmetric (midpoint) attribution
    — rate_effect + value_effect == rpu1 - rpu0 EXACTLY (the two-factor
    Laspeyres/Paasche average), answering "did more users buy, or did
    buyers spend more?" with no residual term. All inputs are exact
    integer per-user sums.

    Scale: one per-user aggregate, a 2-row group table, a one-row
    formula fold — the experimentation-family shape."""
    per_user = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    half_up(F.col("value"), 2),
                ).otherwise(F.lit(0))
            ).alias("buy_cents"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "buy_cents", "converted")
    )
    g = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("converted").alias("n_conv"),
        F.sum("buy_cents").alias("cents"),
    )
    s = g.select(
        "variant",
        "n",
        (F.col("n_conv").cast("double") / F.col("n")).alias("conv_rate"),
        (F.col("cents").cast("double") / F.col("n_conv")).alias(
            "value_per_conv"
        ),
        (F.col("cents").cast("double") / F.col("n")).alias("rev_per_user"),
    )
    a = s.filter(F.col("variant") == 0).alias("a")
    b = s.filter(F.col("variant") == 1).alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").cast("long").alias("n0"),
        F.col("b.n").cast("long").alias("n1"),
        F.round(F.col("a.rev_per_user"), 6).alias("rpu0"),
        F.round(F.col("b.rev_per_user"), 6).alias("rpu1"),
        F.round(F.col("a.conv_rate"), 6).alias("conv0"),
        F.round(F.col("b.conv_rate"), 6).alias("conv1"),
        F.round(F.col("a.value_per_conv"), 6).alias("vpc0"),
        F.round(F.col("b.value_per_conv"), 6).alias("vpc1"),
        F.round(
            (F.col("b.conv_rate") - F.col("a.conv_rate"))
            * (F.col("a.value_per_conv") + F.col("b.value_per_conv"))
            / 2,
            6,
        ).alias("rate_effect"),
        F.round(
            (F.col("b.value_per_conv") - F.col("a.value_per_conv"))
            * (F.col("a.conv_rate") + F.col("b.conv_rate"))
            / 2,
            6,
        ).alias("value_effect"),
    )


# --------------------------------------------------------------------------
# ab_poisson_rate
# --------------------------------------------------------------------------


@query(
    "ab_poisson_rate",
    oracle="""
    WITH u AS (
        SELECT user_id % 2 AS variant,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY user_id % 2
    )
    SELECT CAST(a.n_users AS BIGINT) AS u0, CAST(b.n_users AS BIGINT) AS u1,
           CAST(a.n_events AS BIGINT) AS e0, CAST(b.n_events AS BIGINT) AS e1,
           round(CAST(a.n_events AS DOUBLE) / a.n_users, 6) AS rate0,
           round(CAST(b.n_events AS DOUBLE) / b.n_users, 6) AS rate1,
           round(ln((CAST(b.n_events AS DOUBLE) / b.n_users)
                    / (CAST(a.n_events AS DOUBLE) / a.n_users))
                 / sqrt(1.0 / a.n_events + 1.0 / b.n_events), 6) AS z_stat,
           abs(ln((CAST(b.n_events AS DOUBLE) / b.n_users)
                  / (CAST(a.n_events AS DOUBLE) / a.n_users))
               / sqrt(1.0 / a.n_events + 1.0 / b.n_events)) > 1.96
               AS significant
    FROM u a JOIN u b ON a.variant = 0 AND b.variant = 1
    """,
)
def ab_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate comparison between variants: events-per-user rates
    with the log-rate-ratio Wald z (variance 1/e0 + 1/e1 under the
    Poisson model) — the count-metric significance readout (requests,
    errors, actions per exposure unit) that complements the
    continuous-metric Welch test. Counts are exact; the z is four
    float ops.

    Scale: one grouped count over the fact (map-side partials), a
    2-row fold."""
    u = (
        io.load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )
    a = u.filter(F.col("variant") == 0).alias("a")
    b = u.filter(F.col("variant") == 1).alias("b")
    rate0 = F.col("a.n_events").cast("double") / F.col("a.n_users")
    rate1 = F.col("b.n_events").cast("double") / F.col("b.n_users")
    z = F.log(rate1 / rate0) / F.sqrt(
        1.0 / F.col("a.n_events") + 1.0 / F.col("b.n_events")
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n_users").cast("long").alias("u0"),
        F.col("b.n_users").cast("long").alias("u1"),
        F.col("a.n_events").cast("long").alias("e0"),
        F.col("b.n_events").cast("long").alias("e1"),
        F.round(rate0, 6).alias("rate0"),
        F.round(rate1, 6).alias("rate1"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )
