"""Round-29 breadth batch: a windowFunnel depth operator, the pass@k
evaluation estimator, and a winsorized robust mean.

- ``funnel_window`` — ClickHouse-style windowFunnel: the deepest
  view -> click -> purchase chain per user where EVERY step lands
  within a fixed window of the first event. The greedy earliest-next-
  step chain is provably optimal (an earlier click only widens the
  purchase search space), so the whole operator is keyed windows + one
  equi-join — no per-user sequence UDF.
- ``eval_pass_at_k`` — the HumanEval pass@k estimator (Chen et al.
  2021): per problem with n samples and c passes, pass@k =
  1 - C(n-c,k)/C(n,k), computed as the explicit 5-factor product so
  both engines run the identical IEEE expression. The model-eval
  aggregation every codegen benchmark pipeline needs.
- ``agg_winsorized_mean`` — mean after clamping to the exact
  nearest-rank P05/P95 per group (robust to the heavy tail that makes
  raw means useless for monitoring); integer rank cuts, exact clamped
  cent sums, one final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# funnel_window
# --------------------------------------------------------------------------

_FW_HOURS = 48
_FW_US = _FW_HOURS * 3600 * 1_000_000


@query(
    "funnel_window",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    v AS (SELECT * FROM e WHERE event_type = 'view'),
    ch2 AS (
        SELECT DISTINCT v.user_id
        FROM v JOIN e c
          ON c.user_id = v.user_id AND c.event_type = 'click'
         AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
         AND c.ts <= v.ts + INTERVAL {_FW_HOURS} HOUR
    ),
    ch3 AS (
        SELECT DISTINCT v.user_id
        FROM v
        JOIN e c
          ON c.user_id = v.user_id AND c.event_type = 'click'
         AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
         AND c.ts <= v.ts + INTERVAL {_FW_HOURS} HOUR
        JOIN e p
          ON p.user_id = v.user_id AND p.event_type = 'purchase'
         AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
         AND p.ts <= v.ts + INTERVAL {_FW_HOURS} HOUR
    ),
    du AS (
        SELECT u.user_id,
               CASE WHEN u.user_id IN (SELECT user_id FROM ch3) THEN 3
                    WHEN u.user_id IN (SELECT user_id FROM ch2) THEN 2
                    WHEN u.user_id IN (SELECT user_id FROM v) THEN 1
                    ELSE 0 END AS depth
        FROM (SELECT DISTINCT user_id FROM e) u
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users
    FROM du GROUP BY depth
    """,
)
def funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel({_FW_HOURS}h): per user, the deepest strictly-
    ordered view -> click -> purchase chain whose EVERY step falls
    within {_FW_HOURS}h of the chain's first view ("did the whole
    journey happen inside one attention window", not just ever —
    the conversion-quality cut funnel_conversion can't express).
    Greedy proof: for a fixed view, the earliest following click
    minimizes the click time, and purchases following an earlier
    click are a superset — so earliest-next-step dominates and two
    conditional-min windows decide depth exactly. Output is the
    per-depth user census.

    Scale: both windows are keyed by user (never global); the
    view->chosen-click lookup is a per-user equi-join on the struct
    min; depth census is a user-sized groupBy. The oracle is the
    brute-force triple EXISTS — semantics stated twice, independently.
    """
    ev = io.load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w_follow = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nc = F.min(
        F.when(
            F.col("event_type") == "click",
            F.struct("ts_us", "event_id"),
        )
    ).over(w_follow)
    np_ = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts_us"))
    ).over(w_follow)
    marked = ev.select(
        "*", nc.alias("nc"), np_.alias("np")
    )
    views = marked.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts_us").alias("v_ts"),
        F.col("nc.ts_us").alias("c_ts"),
        F.col("nc.event_id").alias("c_id"),
    )
    clicks = marked.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts_us").alias("cc_ts"),
        F.col("event_id").alias("cc_id"),
        F.col("np").alias("p_after"),
    )
    chains = views.join(
        clicks,
        (F.col("user_id") == F.col("cu"))
        & (F.col("c_ts") == F.col("cc_ts"))
        & (F.col("c_id") == F.col("cc_id")),
        "left",
    )
    click_ok = F.col("c_ts").isNotNull() & (
        F.col("c_ts") <= F.col("v_ts") + _FW_US
    )
    purchase_ok = F.col("p_after").isNotNull() & (
        F.col("p_after") <= F.col("v_ts") + _FW_US
    )
    view_depth = chains.groupBy("user_id").agg(
        F.max(
            F.when(click_ok & purchase_ok, 3)
            .when(click_ok, 2)
            .otherwise(1)
        ).alias("depth")
    )
    all_users = ev.select("user_id").distinct()
    return (
        all_users.join(view_depth, "user_id", "left")
        .select(
            F.coalesce(F.col("depth"), F.lit(0))
            .cast("long")
            .alias("depth")
        )
        .groupBy("depth")
        .agg(F.count("*").alias("n_users"))
    )


# --------------------------------------------------------------------------
# eval_pass_at_k
# --------------------------------------------------------------------------

_PK_K = 5


def _fail_ratio_sql() -> str:
    """C(n-c,5)/C(n,5) as the explicit left-folded 5-factor product —
    the SAME IEEE expression Spark runs (each factor is one exactly-
    rounded double division; association order pinned)."""
    parts = [
        f"(CAST(n - c - {j} AS DOUBLE) / CAST(n - {j} AS DOUBLE))"
        for j in range(_PK_K)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = f"({out} * {p})"
    return out


@query(
    "eval_pass_at_k",
    oracle=f"""
    WITH prob AS (
        SELECT user_id AS problem, count(*) AS n,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS c
        FROM events GROUP BY user_id
        HAVING count(*) >= {_PK_K}
    ),
    scored AS (
        SELECT problem, n, c,
               CAST(floor(1000000.0
                          * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          + 0.5) AS BIGINT) AS p1_micro,
               CASE WHEN n - c < {_PK_K}
                    THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(floor(1000000.0
                              * (1.0 - {_fail_ratio_sql()})
                              + 0.5) AS BIGINT)
               END AS p5_micro
        FROM prob
    )
    SELECT CAST(count(*) AS BIGINT) AS n_problems,
           round(sum(p1_micro) / (1000000.0 * count(*)), 6)
               AS pass_at_1,
           round(sum(p5_micro) / (1000000.0 * count(*)), 6)
               AS pass_at_{_PK_K},
           CAST(sum(CASE WHEN p5_micro = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_certain
    FROM scored
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (Chen et al. 2021, HumanEval): unbiased estimate
    1 - C(n-c,k)/C(n,k) of solving a problem within k={_PK_K} samples,
    given n observed samples with c passes (users stand in for
    problems, purchase events for passing samples). The binomial
    ratio telescopes to five double divisions multiplied in a pinned
    left fold — every operation an exactly-rounded IEEE op, so the
    value is bit-identical across engines without libm; per-problem
    scores are micro-rounded once and averaged as exact BIGINT sums.

    Scale: one groupBy over the samples fact (map-side partials),
    then problem-sized arithmetic and a one-row fold. The benchmark-
    eval aggregation is never the bottleneck — generation is."""
    prob = (
        io.load_events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("problem"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("c"),
        )
        .filter(F.col("n") >= _PK_K)
    )
    fail = None
    for j in range(_PK_K):
        factor = (F.col("n") - F.col("c") - j).cast("double") / (
            F.col("n") - j
        ).cast("double")
        fail = factor if fail is None else fail * factor
    scored = prob.select(
        half_up(
            F.col("c").cast("double") / F.col("n").cast("double"), 6
        ).alias("p1_micro"),
        F.when(
            F.col("n") - F.col("c") < _PK_K, F.lit(1000000).cast("long")
        )
        .otherwise(
            half_up(F.lit(1.0) - fail, 6)
        )
        .alias("p5_micro"),
    )
    return scored.agg(
        F.count("*").alias("n_problems"),
        F.round(
            F.sum("p1_micro") / (1000000.0 * F.count("*")), 6
        ).alias("pass_at_1"),
        F.round(
            F.sum("p5_micro") / (1000000.0 * F.count("*")), 6
        ).alias(f"pass_at_{_PK_K}"),
        F.sum(
            F.when(F.col("p5_micro") == 1000000, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_certain"),
    )


# --------------------------------------------------------------------------
# agg_winsorized_mean
# --------------------------------------------------------------------------


@query(
    "agg_winsorized_mean",
    oracle="""
    WITH cents AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               event_id
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM cents
    ),
    cuts AS (
        SELECT event_type,
               max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo,
               max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)
                   AS hi,
               max(n) AS n
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(c.n AS BIGINT) AS n,
           CAST(c.lo AS BIGINT) AS lo_cents,
           CAST(c.hi AS BIGINT) AS hi_cents,
           round(sum(least(greatest(r.cents, c.lo), c.hi))
                 / (100.0 * c.n), 6) AS winsorized_mean,
           round(sum(r.cents) / (100.0 * c.n), 6) AS raw_mean
    FROM ranked r JOIN cuts c ON r.event_type = c.event_type
    GROUP BY r.event_type, c.n, c.lo, c.hi
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values to the exact
    nearest-rank P05/P95 cut points (integer rank indices ceil(n/20)
    and ceil(19n/20) — no float percentile arithmetic, so no 0.05*n
    == 100.0000000000001 ceiling traps), then average the clamped
    integer cents. The robust companion to the raw mean it reports
    alongside — one fat-finger refund can't move it.

    Scale: the rank window is keyed by group; the cut table is
    group-cardinality-sized and broadcast back; the clamped sum is
    exact BIGINT with one final division. At fleet scale the P05/P95
    come from a mergeable quantile sketch instead (sketch_hist_
    quantile) — the exact-rank path is the correctness anchor."""
    cents = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            half_up(F.col("value"), 2).alias("cents"),
            "event_id",
        )
    )
    wp = Window.partitionBy("event_type")
    ranked = cents.select(
        "event_type",
        "cents",
        F.row_number()
        .over(wp.orderBy("cents", "event_id"))
        .alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 19) / 20),
                F.col("cents"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.floor((19 * F.col("n") + 19) / 20),
                F.col("cents"),
            )
        ).alias("hi"),
        F.max("n").alias("grp_n"),
    )
    clamped = ranked.drop("n").join(
        F.broadcast(cuts.withColumnRenamed("event_type", "ct")),
        F.col("event_type") == F.col("ct"),
    )
    return clamped.groupBy("event_type", "grp_n", "lo", "hi").agg(
        F.round(
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
            )
            / (100.0 * F.col("grp_n")),
            6,
        ).alias("winsorized_mean"),
        F.round(F.sum("cents") / (100.0 * F.col("grp_n")), 6).alias(
            "raw_mean"
        ),
    ).select(
        "event_type",
        F.col("grp_n").cast("long").alias("n"),
        F.col("lo").cast("long").alias("lo_cents"),
        F.col("hi").cast("long").alias("hi_cents"),
        "winsorized_mean",
        "raw_mean",
    )
