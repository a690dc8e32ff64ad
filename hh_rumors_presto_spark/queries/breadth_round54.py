"""Round-54 breadth batch: Markov entropy rate, Tukey median
polish, and hint-driven join-strategy control.

- ``ts_markov_entropy_rate`` — the sequence-predictability number:
  entropy rate H = -Σ π(v) Σ p(w|v) ln p(w|v) of the per-user
  event-type transition chain, in exact micro-nats. H near the
  uniform bound means next-event prediction is hopeless; a drop in
  H means behavior became scripted (bots, loops).
- ``ts_median_polish`` — one round of Tukey's median polish over the
  (weekday x week) grid of daily totals: exact nearest-rank row
  effects, then column effects of the residuals — the robust
  two-way decomposition that a single fat-finger day cannot drag,
  unlike the mean-based ANOVA decomposition.
- ``hint_no_broadcast`` — the join-strategy control surface: a
  ``merge`` hint must flip the customer-dim join from
  BroadcastHashJoin to a SortMergeJoin (plan-gated) — the knob you
  reach for when a "small" dim stops being small and executors start
  OOMing on broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ts_markov_entropy_rate
# --------------------------------------------------------------------------


@query(
    "ts_markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT event_type AS v,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS w
        FROM events
    ),
    trans AS (
        SELECT v, w, count(*) AS c FROM seq
        WHERE w IS NOT NULL GROUP BY v, w
    ),
    ctx AS (SELECT v, sum(c) AS cv FROM trans GROUP BY v),
    tot AS (SELECT sum(c) AS n FROM trans),
    terms AS (
        SELECT t.v, t.w, t.c, x.cv, n.n,
               CAST(floor(1000000.0
                    * (CAST(t.c AS DOUBLE) / n.n)
                    * ln(CAST(x.cv AS DOUBLE) / t.c) + 0.5)
                    AS BIGINT) AS h_micro
        FROM trans t
        JOIN ctx x ON x.v = t.v
        CROSS JOIN tot n
    )
    SELECT CAST(sum(c) AS BIGINT) AS n_transitions,
           CAST(count(*) AS BIGINT) AS n_distinct_pairs,
           CAST(sum(h_micro) AS BIGINT) AS entropy_rate_micro
    FROM terms
    """,
)
def ts_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = Σ_vw (c_vw/N)·ln(c_v/c_vw) — the empirical-weight form of
    -Σ π p ln p, with each term micro-nat rounded ONCE so the total
    is an order-free exact BIGINT sum. ln(5) ≈ 1.609e6 micro-nats is
    the uniform ceiling for 5 event types; H near it says next-event
    prediction is coin-flipping, a sharp drop says behavior became
    scripted (bot loops, replayed sessions) — the one-number
    predictability gate next to recs_covisit_next's full matrix.

    Scale: transitions via one keyed lead window; the term table is
    |types|²-sized. Nothing after the first fold scales with the
    fact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = io.load_events(spark, sf_dir).select(
        F.col("event_type").alias("v"),
        F.lead("event_type").over(w).alias("w"),
    )
    trans = (
        seq.filter(F.col("w").isNotNull())
        .groupBy("v", "w")
        .agg(F.count("*").alias("c"))
    )
    ctx = trans.groupBy("v").agg(F.sum("c").alias("cv"))
    tot = trans.agg(F.sum("c").alias("n"))
    terms = (
        trans.join(F.broadcast(ctx), "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            F.floor(
                1000000.0
                * (F.col("c").cast("double") / F.col("n"))
                * F.log(
                    F.col("cv").cast("double") / F.col("c")
                )
                + 0.5
            )
            .cast("long")
            .alias("h_micro"),
        )
    )
    return terms.agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.count("*").alias("n_distinct_pairs"),
        F.sum("h_micro").cast("long").alias("entropy_rate_micro"),
    )


# --------------------------------------------------------------------------
# ts_median_polish
# --------------------------------------------------------------------------


@query(
    "ts_median_polish",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-05',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7
                   AS dow,
               date_diff('day', DATE '1970-01-05',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7
                   AS wk,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    row_eff AS (
        SELECT dow, cents AS r_med FROM (
            SELECT dow, cents,
                   row_number() OVER (PARTITION BY dow
                                      ORDER BY cents) AS rn,
                   count(*) OVER (PARTITION BY dow) AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ),
    resid1 AS (
        SELECT d.dow, d.wk, d.cents - r.r_med AS res
        FROM daily d JOIN row_eff r ON r.dow = d.dow
    ),
    col_eff AS (
        SELECT wk, res AS c_med FROM (
            SELECT wk, res,
                   row_number() OVER (PARTITION BY wk
                                      ORDER BY res) AS rn,
                   count(*) OVER (PARTITION BY wk) AS n
            FROM resid1
        ) WHERE rn = (n + 1) // 2
    )
    SELECT r.dow AS dow, c.wk AS wk,
           CAST(r.r_med AS BIGINT) AS dow_effect_cents,
           CAST(c.c_med AS BIGINT) AS week_effect_cents,
           CAST(d.cents - r.r_med - c.c_med AS BIGINT)
               AS residual_cents
    FROM daily d
    JOIN row_eff r ON r.dow = d.dow
    JOIN col_eff c ON c.wk = d.wk
    """,
)
def ts_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of Tukey's median polish over the (weekday, week)
    grid of daily purchase-cents totals: weekday effects are exact
    lower-nearest-rank medians per row, week effects are medians of
    the row-polished residuals per column, and every cell ships its
    final residual. The ROBUST two-way decomposition — one fat-
    finger day shifts a mean-based ANOVA's entire row effect but
    moves a median effect not at all — which is why EDA on messy
    ops metrics starts here, not at least squares. All integer
    selections and subtractions.

    Scale: the grid is calendar-sized (weeks x 7); both median
    selections are keyed windows over rows/columns of that grid —
    per metric key at fleet scale."""
    epoch_days = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-05")
    )
    daily = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            (epoch_days % 7).alias("dow"),
            F.floor(epoch_days / 7).cast("long").alias("wk"),
        )
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
    )

    def _median(df, key, val, out):
        wk = Window.partitionBy(key).orderBy(val)
        wn = Window.partitionBy(key)
        return (
            df.select(
                key,
                F.col(val),
                F.row_number().over(wk).alias("rn"),
                F.count("*").over(wn).alias("n"),
            )
            .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .select(key, F.col(val).alias(out))
        )

    row_eff = _median(daily, "dow", "cents", "r_med")
    resid1 = daily.join(F.broadcast(row_eff), "dow").select(
        "dow",
        "wk",
        "cents",
        (F.col("cents") - F.col("r_med")).alias("res"),
        "r_med",
    )
    col_eff = _median(
        resid1.select("wk", "res"), "wk", "res", "c_med"
    )
    return resid1.join(F.broadcast(col_eff), "wk").select(
        F.col("dow").cast("long").alias("dow"),
        F.col("wk").cast("long").alias("wk"),
        F.col("r_med").cast("long").alias("dow_effect_cents"),
        F.col("c_med").cast("long").alias("week_effect_cents"),
        (F.col("cents") - F.col("r_med") - F.col("c_med"))
        .cast("long")
        .alias("residual_cents"),
    )


# --------------------------------------------------------------------------
# hint_no_broadcast
# --------------------------------------------------------------------------


@query(
    "hint_no_broadcast",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS cents_sum
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def hint_no_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: a ``merge`` hint on the customer side
    MUST planwise turn the customer-dim join from BroadcastHashJoin
    into a SortMergeJoin (asserted in-code against the physical plan),
    and the result must be byte-identical either way. This is the
    escape hatch for the day a "small" dimension grows past executor
    memory and broadcast builds start OOMing — and the proof that
    correctness never depended on the strategy.

    Scale: strategy choice changes shuffle topology, not semantics;
    the hint binds this join alone, so the session conf is untouched."""
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer").hint("merge")
    out = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                half_up(F.col("o_totalprice"), 2)
            )
            .cast("long")
            .alias("cents_sum"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" in plan:
        raise AssertionError(
            "the merge hint did not turn off the broadcast join"
        )
    if "SortMergeJoin" not in plan:
        raise AssertionError("expected a SortMergeJoin in the physical plan")
    return out
