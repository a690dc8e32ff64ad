"""Round-16 breadth batch: exact exponential time-decay scoring,
broadcast-stats feature standardization, and insert-only top-k IVM.

- ``agg_decay_sum`` — exponentially time-decayed totals (the freshness
  counter behind trending/ranking features) computed EXACTLY: integer
  half-life decay ``sign(c) * (|c| DIV 2^age)`` per whole day (and a
  7-day variant), so the usually-floaty decayed sum is a bit-stable
  BIGINT under any reduction order.
- ``feat_standardize`` — per-group z-score + min-max feature scaling
  with the group statistics computed once and broadcast back onto the
  stream — the standard ML feature-prep pass, with integer-exact
  numerators (degenerate groups yield NULL, not NaN).
- ``ivm_topk_delta`` — incremental maintenance of a per-group top-k
  under an insert batch: merging the OLD top-k with the delta and
  re-ranking provably equals recomputing from scratch (the oracle IS
  the from-scratch plan) — the monotone-view maintenance trick that
  keeps a leaderboard current without touching the base table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_decay_sum
# --------------------------------------------------------------------------


@query(
    "agg_decay_sum",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events WHERE value IS NOT NULL
    ),
    ref AS (SELECT max(day) AS ref_day FROM ev),
    aged AS (
        SELECT event_type, cents,
               least(date_diff('day', day, r.ref_day), 62) AS age
        FROM ev CROSS JOIN ref r
    )
    SELECT event_type,
           CAST(sum(CASE WHEN cents < 0 THEN -((-cents) // (1::BIGINT << age))
                         ELSE cents // (1::BIGINT << age) END)
                AS BIGINT) AS decayed_hl1,
           CAST(sum(CASE WHEN cents < 0
                         THEN -((-cents) // (1::BIGINT << least(age // 7, 62)))
                         ELSE cents // (1::BIGINT << least(age // 7, 62)) END)
                AS BIGINT) AS decayed_hl7,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(age) AS BIGINT) AS max_age_days
    FROM aged
    GROUP BY event_type
    """,
)
def agg_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed totals per event type — the freshness
    score behind trending feeds and decayed counters (half-life 1 day
    and 7 days). Because the half-life is applied per WHOLE day, the
    decay factor is an exact power of two and the decayed contribution
    is pure integer arithmetic: sign(c) * (|c| DIV 2^age) — truncation
    toward zero in both engines, no float pow anywhere, so the sum is
    bit-stable under any partitioning/reduction order.

    Scale: one fact scan; the reference day is a ONE-ROW broadcast max;
    the decayed partials combine map-side like any integer sum. Ages
    cap at 62 to keep the shift in BIGINT range (contributions are 0
    long before that)."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            half_up(F.col("value"), 2).alias("cents"),
            F.col("ts").cast("date").alias("day"),
        )
    )
    ref = ev.agg(F.max("day").alias("ref_day"))
    aged = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "cents",
        F.least(F.datediff("ref_day", "day"), F.lit(62)).alias("age"),
    )

    def decayed(age_expr: str) -> F.Column:
        return F.expr(
            f"CASE WHEN cents < 0"
            f" THEN -((-cents) DIV shiftleft(1L, {age_expr}))"
            f" ELSE cents DIV shiftleft(1L, {age_expr}) END"
        )

    return aged.groupBy("event_type").agg(
        F.sum(decayed("age")).cast("long").alias("decayed_hl1"),
        F.sum(decayed("least(age DIV 7, 62)"))
        .cast("long")
        .alias("decayed_hl7"),
        F.count("*").cast("long").alias("n_events"),
        F.max("age").cast("long").alias("max_age_days"),
    )


# --------------------------------------------------------------------------
# feat_standardize
# --------------------------------------------------------------------------


@query(
    "feat_standardize",
    oracle="""
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    stats AS (
        SELECT event_type, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS s2,
               min(cents) AS mn, max(cents) AS mx
        FROM ev GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(CASE WHEN st.n > 1 AND st.n * st.s2 > st.s * st.s
                 THEN (e.cents - CAST(st.s AS DOUBLE) / st.n)
                      / sqrt((CAST(st.n AS DOUBLE) * st.s2 - CAST(st.s AS DOUBLE) * st.s)
                             / (CAST(st.n AS DOUBLE) * (st.n - 1)))
                 END, 6) AS z_score,
           CAST(CASE WHEN st.mx > st.mn
                THEN (e.cents - st.mn) * 1000000 // (st.mx - st.mn)
                END AS BIGINT) AS minmax_micro
    FROM ev e JOIN stats st ON st.event_type = e.event_type
    """,
)
def feat_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling, the standard ML-prep pass: z-score
    (sample std from the exact integer moment sums n, Σc, Σc² — the
    only floats are one division and one sqrt of exact integers) and
    integer min-max scaling to [0, 1e6]. Degenerate groups (n=1 or
    constant) yield NULL, never NaN/Inf.

    Scale: the per-group stats are a tiny aggregate BROADCAST back
    onto the fact stream — one fact scan, one broadcast hash join,
    zero fact-sized shuffles; identical to how feature pipelines apply
    train-time statistics at serving time."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s").cast("double") / F.col("n")
    var_num = (
        F.col("n").cast("double") * F.col("s2")
        - F.col("s").cast("double") * F.col("s")
    )
    sd = F.sqrt(var_num / (F.col("n").cast("double") * (F.col("n") - 1)))
    return joined.select(
        "event_id",
        "event_type",
        F.round(
            F.when(
                (F.col("n") > 1)
                & (F.col("n") * F.col("s2") > F.col("s") * F.col("s")),
                (F.col("cents") - mean) / sd,
            ),
            6,
        ).alias("z_score"),
        F.when(
            F.col("mx") > F.col("mn"),
            F.expr("(cents - mn) * 1000000 DIV (mx - mn)"),
        )
        .cast("long")
        .alias("minmax_micro"),
    )


# --------------------------------------------------------------------------
# ivm_topk_delta
# --------------------------------------------------------------------------

_TK_K = 3


@query(
    "ivm_topk_delta",
    oracle=f"""
    WITH allrows AS (
        SELECT o_orderpriority AS grp, o_orderkey,
               CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS cents
        FROM orders
    )
    SELECT grp, o_orderkey, cents, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY grp
                   ORDER BY cents DESC, o_orderkey) AS rnk
        FROM allrows
    )
    WHERE rnk <= {_TK_K}
    """,
)
def ivm_topk_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only incremental top-k maintenance: the base view's
    per-group top-3 (orders with o_orderkey % 10 != 0) is MERGED with
    an insert delta (the % 10 == 0 rows) and re-ranked — k+|delta|
    rows per group, never the base table. For insert-only streams this
    is provably exact (a new row can only displace, never resurrect),
    and the oracle IS the from-scratch top-3 over the full table, so
    the equivalence is value-hash-checked.

    Scale: maintaining a leaderboard over a 100-TB fact means ranking
    |groups|*k + |delta| rows per refresh instead of rescanning the
    fact; both rank windows are group-limited (WindowGroupLimit)."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        half_up(F.col("o_totalprice"), 2).alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 != 0)
    delta = orders.filter(F.col("o_orderkey") % 10 == 0)
    w = Window.partitionBy("grp").orderBy(
        F.col("cents").desc(), "o_orderkey"
    )
    old_topk = (
        base.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TK_K)
        .drop("rnk")
    )
    return (
        old_topk.unionAll(delta)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TK_K)
        .select(
            "grp",
            "o_orderkey",
            "cents",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
