"""Experimentation (A/B testing) analytics — the readout primitives an
experimentation platform runs at warehouse scale.

Units are USERS (per-user metric aggregation first, then group stats —
the correct unit of analysis for randomized assignment), assignment is
the deterministic hash ``user_id % 2`` (0 = control, 1 = treatment).

- ``ab_welch_ttest`` — Welch's unequal-variance two-sample t-test on
  the per-user metric, with the Welch–Satterthwaite degrees of
  freedom: THE experiment significance readout.
- ``ab_srm_check`` — the sample-ratio-mismatch chi-square health gate
  (a broken 50/50 split invalidates any readout before it happens).
- ``ab_cuped_adjust`` — CUPED variance reduction (Deng et al., WSDM
  2013): regress the metric on a pre-exposure covariate and analyze
  the residualized metric; reports the variance-reduction ratio.

All group statistics come from EXACT integer moment sums (n, Σc, Σc²,
Σxy in cents); the only floats are the final divisions/sqrt of exact
integers, rounded to 6 digits — deterministic across engines and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

_USER_CENTS_SQL = """
    WITH user_metric AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    )
"""


@query(
    "ab_welch_ttest",
    oracle=_USER_CENTS_SQL
    + """,
    g AS (
        SELECT variant, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS s2
        FROM user_metric GROUP BY variant
    ),
    w AS (
        SELECT a.n AS n0, b.n AS n1,
               CAST(a.s AS DOUBLE) / a.n AS m0,
               CAST(b.s AS DOUBLE) / b.n AS m1,
               (CAST(a.n AS DOUBLE) * a.s2 - CAST(a.s AS DOUBLE) * a.s)
                   / (CAST(a.n AS DOUBLE) * (a.n - 1)) AS v0,
               (CAST(b.n AS DOUBLE) * b.s2 - CAST(b.s AS DOUBLE) * b.s)
                   / (CAST(b.n AS DOUBLE) * (b.n - 1)) AS v1
        FROM g a JOIN g b ON a.variant = 0 AND b.variant = 1
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(m0, 6) AS mean0, round(m1, 6) AS mean1,
           round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat,
           round(pow(v0 / n0 + v1 / n1, 2)
                 / (pow(v0 / n0, 2) / (n0 - 1)
                    + pow(v1 / n1, 2) / (n1 - 1)), 4) AS df,
           abs((m1 - m0) / sqrt(v0 / n0 + v1 / n1)) > 1.96 AS significant
    FROM w
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on the per-user total-cents metric
    between the hash-assigned variants, with Welch–Satterthwaite df and
    the 5% two-sided verdict. Sample variances come from exact integer
    (n, Σc, Σc²) — the mergeable sufficient statistics — so the test
    is one fact scan + one 2-row aggregate, and the readout is
    deterministic to the bit before the final 6-digit rounding.

    Scale: per-user metrics are a keyed map-side-combine aggregate;
    the group moments are a 2-row table; nothing after the first
    aggregate depends on data size. This is how experiment readouts
    stay O(fact scan) at any traffic level."""
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
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n0"),
        F.col("b.n").alias("n1"),
        (F.col("a.s").cast("double") / F.col("a.n")).alias("m0"),
        (F.col("b.s").cast("double") / F.col("b.n")).alias("m1"),
        (
            (
                F.col("a.n").cast("double") * F.col("a.s2")
                - F.col("a.s").cast("double") * F.col("a.s")
            )
            / (F.col("a.n").cast("double") * (F.col("a.n") - 1))
        ).alias("v0"),
        (
            (
                F.col("b.n").cast("double") * F.col("b.s2")
                - F.col("b.s").cast("double") * F.col("b.s")
            )
            / (F.col("b.n").cast("double") * (F.col("b.n") - 1))
        ).alias("v1"),
    )
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    t = (F.col("m1") - F.col("m0")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
        + F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
    )
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round("m0", 6).alias("mean0"),
        F.round("m1", 6).alias("mean1"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 4).alias("df"),
        (F.abs(t) > 1.96).alias("significant"),
    )


@query(
    "ab_srm_check",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id, user_id % 2 AS variant FROM events
    ),
    c AS (
        SELECT count(CASE WHEN variant = 0 THEN 1 END) AS n0,
               count(CASE WHEN variant = 1 THEN 1 END) AS n1
        FROM u
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(pow(n0 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0)
                 + pow(n1 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0), 6)
               AS chi2,
           (pow(n0 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0)
            + pow(n1 - (n0 + n1) / 2.0, 2) / ((n0 + n1) / 2.0)) > 3.841
               AS srm_flag
    FROM c
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate: chi-square of the observed variant
    unit counts against the intended 50/50 split (1 df, 5% critical
    value 3.841). SRM is the first thing a trustworthy experimentation
    platform checks — a lopsided split means broken assignment or
    logging, and every downstream readout is void. Exact integer
    counts; the chi-square is two float operations on them.

    Scale: one distinct-user aggregate (map-side partials), then a
    ONE-ROW fold. Nothing else."""
    u = (
        io.load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select((F.col("user_id") % 2).alias("variant"))
    )
    c = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n1"),
    )
    half = (F.col("n0") + F.col("n1")) / 2.0
    # try_divide: zero users means half=0 and DuckDB's x/0.0 is NULL
    # while plain `/` raises under ANSI (r9 empty-table audit); chi2 and
    # srm_flag go NULL in both engines, identical IEEE otherwise
    chi2 = F.try_divide(F.pow(F.col("n0") - half, 2), half) + F.try_divide(
        F.pow(F.col("n1") - half, 2), half
    )
    return c.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    )


@query(
    "ab_cuped_adjust",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                             AS BIGINT) ELSE 0 END) AS y,
               sum(CASE WHEN event_type = 'view'
                   THEN CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                             AS BIGINT) ELSE 0 END) AS x
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    mom AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy,
               sum(y * y) AS syy
        FROM per_user
    ),
    th AS (
        SELECT n, CAST(sx AS DOUBLE) / n AS mx,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS theta,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                   AS rho
        FROM mom
    ),
    g AS (
        SELECT variant, count(*) AS nv, sum(x) AS sxv, sum(y) AS syv
        FROM per_user GROUP BY variant
    )
    SELECT g.variant,
           CAST(g.nv AS BIGINT) AS n,
           round(CAST(g.syv AS DOUBLE) / g.nv, 6) AS mean_y,
           round(CAST(g.syv AS DOUBLE) / g.nv
                 - t.theta * (CAST(g.sxv AS DOUBLE) / g.nv - t.mx), 6)
               AS mean_y_cuped,
           round(t.theta, 6) AS theta,
           round(1.0 - t.rho * t.rho, 6) AS var_ratio
    FROM g CROSS JOIN th t
    """,
)
def ab_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): regress the
    per-user experiment metric (purchase cents) on a pre-exposure
    covariate (view cents), then analyze the residualized metric
    y - θ(x - x̄). θ = cov(x,y)/var(x) comes from ONE pass of exact
    integer moment sums; the theoretical variance ratio 1 - ρ² is
    reported alongside the per-variant raw and adjusted means. Because
    the adjustment is linear, the adjusted MEAN is computed as
    avg(y) - θ·(avg(x) - x̄) from the per-variant EXACT integer sums —
    no float sum over rows anywhere, so the result is order-free.

    Scale: one per-user aggregate (the same mergeable partials as
    ab_welch_ttest), a ONE-ROW θ broadcast onto a 2-row group table.
    Nothing after the first aggregate depends on data size."""
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
            ).alias("y"),
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    half_up(F.col("value"), 2),
                ).otherwise(F.lit(0))
            ).alias("x"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "x", "y")
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    th = mom.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        ).alias("theta"),
        (
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            )
        ).alias("rho"),
    )
    g = per_user.groupBy("variant").agg(
        F.count("*").alias("nv"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    mean_y = F.col("syv").cast("double") / F.col("nv")
    mean_x = F.col("sxv").cast("double") / F.col("nv")
    return g.crossJoin(F.broadcast(th)).select(
        "variant",
        F.col("nv").cast("long").alias("n"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(
            mean_y - F.col("theta") * (mean_x - F.col("mx")), 6
        ).alias("mean_y_cuped"),
        F.round("theta", 6).alias("theta"),
        F.round(1.0 - F.col("rho") * F.col("rho"), 6).alias("var_ratio"),
    )
