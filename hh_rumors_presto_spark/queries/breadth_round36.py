"""Round-36 breadth batch: a blocked kNN classifier, VWAP/TWAP, and
activity-streak census.

- ``ml_knn_classifier`` — leave-one-out kNN label prediction over
  embeddings inside label-independent hash blocks (the LSH-bucket
  stand-in): top-5 cosine neighbors, majority vote with
  deterministic tie-breaks, per-label accuracy. The lazy-learner
  baseline every embedding-quality eval starts with.
- ``agg_vwap_twap`` — daily volume-weighted vs time-weighted average
  price over lineitem: exact cents x integer quantity sums, one
  division per day each. The execution-quality pair from finance,
  and a worked example of "weighted mean done in integers".
- ``win_streak_days`` — longest run of consecutive active days per
  user via per-user gaps-and-islands, censused by streak length —
  the engagement-streak readout (win_gaps_islands compresses global
  id runs; this is the keyed, calendar-grain fold of the same
  idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions import cosine_sql
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.cosblocks import block_topk_fn
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ml_knn_classifier
# --------------------------------------------------------------------------

_KNN_K = 5
_KNN_BLOCKS = 16


@query(
    "ml_knn_classifier",
    oracle=f"""
    WITH nb AS (
        SELECT a.vec_id, a.label AS true_label, b.label AS nb_label
        FROM (
            SELECT a.vec_id, a.label, b.vec_id AS nb_id, b.label AS blabel,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql("a.embedding", "b.embedding")} DESC,
                                b.vec_id) AS rn
            FROM embeddings a JOIN embeddings b
              ON a.vec_id % {_KNN_BLOCKS} = b.vec_id % {_KNN_BLOCKS}
             AND a.vec_id <> b.vec_id
        ) t(vec_id, label, nb_id, blabel, rn)
        JOIN embeddings a ON a.vec_id = t.vec_id
        JOIN embeddings b ON b.vec_id = t.nb_id
        WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT vec_id, true_label, nb_label, count(*) AS v
        FROM nb GROUP BY vec_id, true_label, nb_label
    ),
    pred AS (
        SELECT vec_id, true_label,
               min(nb_label ORDER BY v DESC, nb_label) AS pred_label
        FROM (
            SELECT vec_id, true_label, nb_label, v,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY v DESC, nb_label) AS pr
            FROM votes
        ) WHERE pr = 1
        GROUP BY vec_id, true_label
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred_label = true_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((2000000 * sum(CASE WHEN pred_label = true_label
                               THEN 1 ELSE 0 END) + count(*))
               // (2 * count(*)) AS BIGINT) AS acc_micro
    FROM pred GROUP BY true_label
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label prediction: each vector's top-{_KNN_K}
    cosine neighbors are found INSIDE its label-independent hash
    block (vec_id % {_KNN_BLOCKS} — label-independent so nothing
    leaks; the LSH/IVF-bucket stand-in exactly as emb_knn_graph
    documents), the majority neighbor label wins (count DESC, label
    ASC tie-break — fully deterministic), and per-label accuracy
    lands in half-up micro units. The classic embedding-quality
    probe: if kNN can't recover labels, the space is noise.

    Scale: pair mass is Σ block² (blocks are corpus/{_KNN_BLOCKS}
    here; real deployments block by IVF cell so blocks stay O(n/k)),
    per-node top-k is a keyed group-limited window, voting and
    accuracy are node- then label-sized folds."""
    # the per-block top-k runs inside the block worker
    # (operators/cosblocks.py ``block_topk_fn``) behind one thin
    # blk-keyed shuffle; labels re-attach to the k*n edge list by key
    emb = io.load_table(spark, sf_dir, "embeddings")
    edges = (
        emb.select(
            "vec_id", "embedding", (F.col("vec_id") % _KNN_BLOCKS).alias("blk")
        )
        .groupBy("blk")
        .applyInPandas(
            block_topk_fn(_KNN_K), "vec_a long, vec_b long, cos_sim double"
        )
    )
    la = emb.select("vec_id", F.col("label").alias("true_label"))
    lb = emb.select(
        F.col("vec_id").alias("nb_id"), F.col("label").alias("nb_label")
    )
    nb = (
        edges.withColumnRenamed("vec_a", "vec_id")
        .withColumnRenamed("vec_b", "nb_id")
        .join(F.broadcast(la), "vec_id")
        .join(F.broadcast(lb), "nb_id")
    )
    votes = nb.groupBy("vec_id", "true_label", "nb_label").agg(
        F.count("*").alias("v")
    )
    wp = Window.partitionBy("vec_id").orderBy(
        F.col("v").desc(), "nb_label"
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("true_label", F.col("nb_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy(
        F.col("true_label").alias("label")
    ).agg(
        F.count("*").alias("n"),
        correct.cast("long").alias("n_correct"),
        F.floor(
            (2000000 * correct + F.count("*")) / (2 * F.count("*"))
        )
        .cast("long")
        .alias("acc_micro"),
    )


# --------------------------------------------------------------------------
# agg_vwap_twap
# --------------------------------------------------------------------------


@query(
    "agg_vwap_twap",
    oracle="""
    WITH t AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
        FROM lineitem
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_fills,
           CAST(sum(qty) AS BIGINT) AS volume,
           CAST((2000000 * sum(cents * qty) + 100 * sum(qty))
               // (200 * sum(qty)) AS BIGINT) AS vwap_micro,
           CAST((2000000 * sum(cents) + 100 * count(*))
               // (200 * count(*)) AS BIGINT) AS twap_micro
    FROM t GROUP BY day
    """,
)
def agg_vwap_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP vs TWAP over lineitem fills: price in exact cents,
    quantity as exact integer units, so Σ(price×qty) and Σqty are
    order-free BIGINTs and each day's VWAP is a half-up integer
    micro-dollar division — NO float round() at all, because a
    quotient can land exactly on a rounding tie where engines'
    round() disagree (a fuzz seed found exactly that). VWAP drifting above TWAP
    flags size-concentrated expensive fills — the execution-quality
    readout, and the canonical "weighted mean without float
    row-sums" shape.

    Scale: one fact groupBy to day grain with map-side partials (per
    instrument key at fleet scale); nothing else."""
    t = io.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("day"),
        half_up(F.col("l_extendedprice"), 2).alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )
    # integral `div` (matches DuckDB //): the VWAP numerator passes
    # 2^53 at modest scale, where floor(double-division) goes 1-off
    return (
        t.groupBy("day")
        .agg(
            F.count("*").alias("n_fills"),
            F.sum("qty").alias("volume"),
            F.sum(F.col("cents") * F.col("qty")).alias("pq"),
            F.sum("cents").alias("p"),
        )
        .select(
            "day",
            F.col("n_fills").cast("long").alias("n_fills"),
            F.col("volume").cast("long").alias("volume"),
            # pq = sum(cents*qty), p = sum(cents): CENTS-sum numerators —
            # widened to DECIMAL(38,0) so the 2^63 micro-ratio cliff
            # (registry.py envelope note) can't bite; DuckDB's sum() side
            # is HUGEINT already
            F.expr(
                "CAST((2000000 * CAST(pq AS DECIMAL(38,0)) + 100 * volume)"
                " DIV (200 * volume) AS BIGINT)"
            ).alias("vwap_micro"),
            F.expr(
                "CAST((2000000 * CAST(p AS DECIMAL(38,0)) + 100 * n_fills)"
                " DIV (200 * n_fills) AS BIGINT)"
            ).alias("twap_micro"),
        )
    )


# --------------------------------------------------------------------------
# win_streak_days
# --------------------------------------------------------------------------


@query(
    "win_streak_days",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    isl AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
        FROM active
    ),
    runs AS (
        SELECT user_id, count(*) AS run_len
        FROM isl GROUP BY user_id, island
    ),
    best AS (
        SELECT user_id, max(run_len) AS best_streak
        FROM runs GROUP BY user_id
    )
    SELECT CAST(best_streak AS BIGINT) AS streak_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM best GROUP BY best_streak
    """,
)
def win_streak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, censused by
    streak length — the engagement-streak leaderboard readout. The
    per-user gaps-and-islands fold: distinct active days, epoch-day
    minus per-user row_number is constant within a run, run lengths
    fold to a per-user max, users fold to a histogram.

    Scale: everything is keyed by user — the distinct collapses the
    fact with map-side combine, the island window is per-user over
    that user's calendar days, and the census is a tiny fold. The
    keyed form of the win_gaps_islands idiom, as its docstring
    promises at 100 TB."""
    active = (
        io.load_events(spark, sf_dir)
        .select(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .distinct()
    )
    wi = Window.partitionBy("user_id").orderBy("day")
    isl = active.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01"))
            - F.row_number().over(wi)
        ).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len")
    )
    best = runs.groupBy("user_id").agg(
        F.max("run_len").alias("best_streak")
    )
    return best.groupBy(
        F.col("best_streak").cast("long").alias("streak_days")
    ).agg(F.count("*").alias("n_users"))
