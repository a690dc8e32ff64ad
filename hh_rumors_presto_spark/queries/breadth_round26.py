"""Round-26 breadth batch: source-overlap matrix, heavy changers, and
time-to-convert.

- ``corpus_source_overlap`` — pairwise vocabulary Jaccard between
  sources via a token-blocked pair join (pair mass = Σ per-token
  source-count², never sources²·vocab) — the "which sources duplicate
  each other" matrix that drives source-level dedup decisions.
- ``dq_heavy_changers`` — the top-10 users by absolute metric delta
  between the two halves of the data — the entity-level drill-down
  after ``dq_change_attribution`` says a segment moved.
- ``ts_time_to_convert`` — per-user first-view → first-purchase
  latency with exact selected median/p90 per prior-exposure cohort —
  the time-to-event readout that complements ``ts_kaplan_meier``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# corpus_source_overlap
# --------------------------------------------------------------------------


@query(
    "corpus_source_overlap",
    oracle="""
    WITH st AS (
        SELECT DISTINCT source,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (SELECT source, count(*) AS v FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        FROM st a JOIN st b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(va.v AS BIGINT) AS v_a,
           CAST(vb.v AS BIGINT) AS v_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(i.n_inter * 1000000 // (va.v + vb.v - i.n_inter)
                AS BIGINT) AS jaccard_micro
    FROM inter i
    JOIN vocab va ON va.source = i.src_a
    JOIN vocab vb ON vb.source = i.src_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: the overlap matrix
    that tells a corpus owner which sources are near-copies of each
    other BEFORE document-level dedup spends compute on them. Source
    pairs meet only through shared tokens (equi-join on the token —
    pair mass is Σ per-token source-count², bounded by source
    cardinality per token, never |sources|²·|vocab|), intersections
    are exact distinct counts, and Jaccard is an exact integer micro
    ratio via inclusion–exclusion.

    Scale: one DISTINCT (source, token) projection (map-side
    combinable), one token-blocked self-join, and vocab-table joins
    that broadcast. The output is |sources|²/2 rows."""
    st = (
        io.load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint()
    )
    vocab = st.groupBy("source").agg(F.count("*").alias("v"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    va = vocab.select(
        F.col("source").alias("src_a"), F.col("v").alias("v_a")
    )
    vb = vocab.select(
        F.col("source").alias("src_b"), F.col("v").alias("v_b")
    )
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("v_a").cast("long").alias("v_a"),
            F.col("v_b").cast("long").alias("v_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.expr("n_inter * 1000000 DIV (v_a + v_b - n_inter)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


# --------------------------------------------------------------------------
# dq_heavy_changers
# --------------------------------------------------------------------------

_HC_TOP = 10


@query(
    "dq_heavy_changers",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    span AS (
        SELECT min(day) + (max(day) - min(day)) // 2 * INTERVAL 1 DAY
                   AS mid
        FROM ev
    ),
    per_user AS (
        SELECT user_id,
               sum(CASE WHEN e.day <= s.mid THEN cents ELSE 0 END) AS a_c,
               sum(CASE WHEN e.day > s.mid THEN cents ELSE 0 END) AS b_c
        FROM ev e CROSS JOIN span s
        GROUP BY user_id
    )
    SELECT user_id, CAST(a_c AS BIGINT) AS a_cents,
           CAST(b_c AS BIGINT) AS b_cents,
           CAST(b_c - a_c AS BIGINT) AS delta,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY abs(b_c - a_c) DESC, user_id) AS rnk
        FROM per_user
    )
    WHERE rnk <= {_HC_TOP}
    """,
)
def dq_heavy_changers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level change drill-down: after dq_change_attribution says
    WHICH segment moved, this names the top-{_HC_TOP} USERS by absolute
    cents delta between the two halves of the data — the individual
    accounts an on-call analyst actually inspects. Exact integer
    period sums; |delta| ranking with a deterministic id tiebreak.

    Scale: one fact scan into per-user period sums (ONE-ROW midpoint
    broadcast); the global top-10 is a partial take-ordered rank over
    the user table — no full sort."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    span = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.expr("date_add(lo, CAST(datediff(hi, lo) DIV 2 AS INT))").alias(
            "mid"
        )
    )
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("day") <= F.col("mid"), F.col("cents")).otherwise(
                    F.lit(0)
                )
            ).alias("a_c"),
            F.sum(
                F.when(F.col("day") > F.col("mid"), F.col("cents")).otherwise(
                    F.lit(0)
                )
            ).alias("b_c"),
        )
    )
    w = Window.orderBy(
        F.abs(F.col("b_c") - F.col("a_c")).desc(), "user_id"
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HC_TOP)
        .select(
            "user_id",
            F.col("a_c").cast("long").alias("a_cents"),
            F.col("b_c").cast("long").alias("b_cents"),
            (F.col("b_c") - F.col("a_c")).cast("long").alias("delta"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# ts_time_to_convert
# --------------------------------------------------------------------------


@query(
    "ts_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_view,
               min(CASE WHEN event_type = 'purchase'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_buy
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT (first_buy - first_view) // 3600000000 AS hours
        FROM firsts
        WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
          AND first_buy >= first_view
    ),
    ranked AS (
        SELECT hours, row_number() OVER (ORDER BY hours) AS rn,
               count(*) OVER () AS n
        FROM conv
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converters,
           CAST(min(CASE WHEN rn = (n + 1) // 2 THEN hours END)
                AS BIGINT) AS median_hours,
           CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN hours END)
                AS BIGINT) AS p90_hours,
           CAST(min(hours) AS BIGINT) AS min_hours,
           CAST(max(hours) AS BIGINT) AS max_hours
    FROM ranked
    """,
)
def ts_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user whose first purchase follows
    their first view, the whole-hour latency between the two, with the
    SELECTED (nearest-rank) median and p90 — never interpolated, so
    the readout is exact integers end-to-end. The funnel-latency
    companion to funnel_conversion (did they convert) and
    ts_kaplan_meier (how long until churn).

    Scale: one per-user min-pair aggregate (map-side partials), then
    rank selection over the |converters| table via the bucketed
    two-pass cumsum (operators/windows.py:bucketed_rank_cumsum
    rank-only — converted round 10): converters are user-cardinality,
    so no data-scaled single-partition window; at extreme scale the
    same selection also works per cohort key."""
    firsts = io.load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view", F.unix_micros(F.col("ts"))
            )
        ).alias("first_view"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts")),
            )
        ).alias("first_buy"),
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        F.expr("(first_buy - first_view) DIV 3600000000").alias("hours"),
        "user_id",
    )
    ranked = bucketed_rank_cumsum(
        conv, order_key="hours", tiebreak="user_id"
    ).select("hours", F.col("rk").alias("rn"), "n")
    return ranked.agg(
        F.max("n").cast("long").alias("n_converters"),
        F.min(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("hours"))
        )
        .cast("long")
        .alias("median_hours"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("hours")
            )
        )
        .cast("long")
        .alias("p90_hours"),
        F.min("hours").cast("long").alias("min_hours"),
        F.max("hours").cast("long").alias("max_hours"),
    )
