"""Round-31 breadth batch: the ranking-metrics eval family — exact
AUC, NDCG@10, and MRR@10.

- ``eval_auc_roc`` — exact tie-corrected ROC AUC via the Mann–Whitney
  rank-sum identity: doubled midranks keep every intermediate a
  BIGINT, so the statistic is order-free exact with ONE final
  division. The binary-classifier readout.
- ``eval_ndcg`` — NDCG@10 per user against the value-ranked event
  list (purchases are the relevant items): micro-rounded log2
  position discounts, exact BIGINT DCG/IDCG, per-user rounded ratio,
  exact-mean fold. The learning-to-rank readout.
- ``eval_mrr`` — MRR@10: reciprocal rank of the first relevant item
  in each user's predicted top-10 as exact integer micro units, plus
  hit@1 / hit@10 counts. The retrieval-eval companion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_auc_roc
# --------------------------------------------------------------------------


@query(
    "eval_auc_roc",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    grp AS (SELECT s, count(*) AS c, sum(y) AS pos FROM pts GROUP BY s),
    ranked AS (
        SELECT s, c, pos,
               coalesce(sum(c) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cb
        FROM grp
    ),
    agg AS (
        SELECT sum(pos) AS n1, sum(c - pos) AS n0,
               sum(pos * (2 * cb + c + 1)) AS r2
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2,
           round(CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(2 * n1 * n0 AS DOUBLE), 6) AS auc
    FROM agg
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the value score separating purchases from
    views, via the Mann–Whitney identity AUC = U/(n1*n0) with midrank
    tie correction. Doubled midranks (2*mr = 2*count_below + tied + 1)
    make every intermediate an exact BIGINT — the doubled U statistic
    is emitted alongside so the hash pins the integer path, and the
    AUC itself is ONE final division.

    Scale: the fact collapses to one row per DISTINCT score first
    (map-side partials); the cumulative window runs over the score
    domain, not the fact (and at fleet scale per model/slice key).
    This is the exact-counting form of the trapezoidal ROC sweep."""
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
        )
    )
    grp = pts.groupBy("s").agg(
        F.count("*").alias("c"), F.sum("y").alias("pos")
    )
    wb = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = grp.select(
        "c",
        "pos",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb"),
    )
    agg = ranked.agg(
        F.sum("pos").alias("n1"),
        F.sum(F.col("c") - F.col("pos")).alias("n0"),
        F.sum(
            F.col("pos") * (2 * F.col("cb") + F.col("c") + 1)
        ).alias("r2"),
    )
    u2 = F.col("r2") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        u2.cast("long").alias("u2"),
        F.round(
            u2.cast("double")
            / (2 * F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# shared: the micro-rounded log2 discount table for NDCG
# --------------------------------------------------------------------------

_NDCG_K = 10

_DISCOUNT_SQL = f"""
    wt AS (
        SELECT CAST(range AS BIGINT) + 1 AS i,
               CAST(floor(1000000.0
                          / log2(CAST(range AS DOUBLE) + 2.0) + 0.5)
                    AS BIGINT) AS w
        FROM range({_NDCG_K})
    ),
    cumw AS (SELECT i, sum(w) OVER (ORDER BY i) AS cw FROM wt)
"""


def _discounts(spark: SparkSession):
    """(i, w, cw): position 1..{k}, micro discount 1e6/log2(i+1), and
    its prefix sum (= ideal DCG with i relevant items)."""
    wt = spark.range(_NDCG_K).select(
        (F.col("id") + 1).alias("i"),
        F.floor(
            1000000.0 / F.log2(F.col("id").cast("double") + 2.0) + 0.5
        )
        .cast("long")
        .alias("w"),
    )
    return wt.select(
        "i", "w", F.sum("w").over(Window.orderBy("i")).alias("cw")
    )


def _user_topk(spark: SparkSession, sf_dir: str):
    """Each user's predicted top-{k}: their value-bearing events
    ranked by (cents DESC, event_id) — the stand-in model ranking —
    with purchase as the relevance label."""
    ev = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            half_up(F.col("value"), 2).alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("cents").desc(), "event_id"
    )
    return ev.withColumn("pos", F.row_number().over(wr)).filter(
        F.col("pos") <= _NDCG_K
    )


_TOPK_SQL = f"""
    ev AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS rel
        FROM events WHERE value IS NOT NULL
    ),
    topk AS (
        SELECT user_id, rel, pos FROM (
            SELECT user_id, rel,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY cents DESC, event_id)
                       AS pos
            FROM ev
        ) WHERE pos <= {_NDCG_K}
    )
"""


@query(
    "eval_ndcg",
    oracle=f"""
    WITH {_DISCOUNT_SQL.strip()},
    {_TOPK_SQL.strip()},
    nrel AS (
        SELECT user_id, sum(rel) AS r_total
        FROM ev GROUP BY user_id HAVING sum(rel) >= 1
    ),
    dcg AS (
        SELECT t.user_id, sum(t.rel * wt.w) AS dcg_micro
        FROM topk t JOIN wt ON wt.i = t.pos
        GROUP BY t.user_id
    ),
    per_user AS (
        SELECT n.user_id,
               (2000000 * d.dcg_micro + c.cw) // (2 * c.cw) AS nd
        FROM nrel n
        JOIN dcg d ON d.user_id = n.user_id
        JOIN cumw c ON c.i = least({_NDCG_K}, n.r_total)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(sum(nd) / (1000000.0 * count(*)), 6)
               AS mean_ndcg_at_{_NDCG_K},
           CAST(sum(CASE WHEN nd = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_perfect
    FROM per_user
    """,
)
def eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{_NDCG_K} of the value-ranked event list per user, with
    purchases as relevant items. Position discounts 1/log2(i+1) are
    micro-rounded ONCE into a {_NDCG_K}-row table whose prefix sums
    ARE the ideal DCGs, so per-user DCG and IDCG are exact BIGINTs;
    each user's ratio is half-up-rounded to integer micro units
    ((2e6*dcg + idcg) // (2*idcg)) and the corpus mean is an exact
    sum. Users with no relevant items are excluded (IDCG undefined) —
    the standard convention.

    Scale: one keyed top-{_NDCG_K} window (WindowGroupLimit), the
    discount table is {_NDCG_K} rows broadcast, and the fold is a
    user-sized groupBy. The eval is never the bottleneck."""
    topk = _user_topk(spark, sf_dir)
    disc = _discounts(spark)
    nrel = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("r_total")
        )
        .filter(F.col("r_total") >= 1)
    )
    dcg = (
        topk.join(
            F.broadcast(disc.select(F.col("i"), F.col("w"))),
            topk.pos == F.col("i"),
        )
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") * F.col("w")).alias("dcg_micro"))
    )
    per_user = (
        nrel.join(
            dcg.withColumnRenamed("user_id", "du"),
            F.col("user_id") == F.col("du"),
        )
        .join(
            F.broadcast(disc.select(F.col("i").alias("ci"), "cw")),
            F.least(F.lit(_NDCG_K), F.col("r_total")) == F.col("ci"),
        )
        .select(
            F.floor(
                (2000000 * F.col("dcg_micro") + F.col("cw"))
                / (2 * F.col("cw"))
            )
            .cast("long")
            .alias("nd")
        )
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum("nd") / (1000000.0 * F.count("*")), 6
        ).alias(f"mean_ndcg_at_{_NDCG_K}"),
        F.sum(F.when(F.col("nd") == 1000000, 1).otherwise(0))
        .cast("long")
        .alias("n_perfect"),
    )


# --------------------------------------------------------------------------
# eval_mrr
# --------------------------------------------------------------------------


@query(
    "eval_mrr",
    oracle=f"""
    WITH {_TOPK_SQL.strip()},
    firsts AS (
        SELECT user_id, min(pos) AS first_rel
        FROM topk WHERE rel = 1 GROUP BY user_id
    ),
    users AS (SELECT DISTINCT user_id FROM ev),
    rr AS (
        SELECT u.user_id,
               CASE WHEN f.first_rel IS NULL THEN 0
                    ELSE (2000000 + f.first_rel) // (2 * f.first_rel)
               END AS rr_micro,
               f.first_rel
        FROM users u LEFT JOIN firsts f ON f.user_id = u.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(sum(rr_micro) / (1000000.0 * count(*)), 6)
               AS mrr_at_{_NDCG_K},
           CAST(sum(CASE WHEN first_rel = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_at_1,
           CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_at_{_NDCG_K}
    FROM rr
    """,
)
def eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@{_NDCG_K}: the reciprocal rank of the first purchase in
    each user's value-ranked top-{_NDCG_K} (0 when none lands there —
    the standard cut-off convention), plus hit@1 and hit@{_NDCG_K}
    counts. Reciprocals are half-up integer micro units
    ((2e6 + r) // (2r)) so the corpus mean is an exact BIGINT sum
    with one final division.

    Scale: same keyed group-limited window as eval_ndcg, then a
    user-sized min + left join against the user universe (every user
    counts in the denominator, found or not)."""
    topk = _user_topk(spark, sf_dir)
    firsts = (
        topk.filter(F.col("rel") == 1)
        .groupBy("user_id")
        .agg(F.min("pos").alias("first_rel"))
    )
    users = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id")
        .distinct()
    )
    rr = users.join(
        firsts.withColumnRenamed("user_id", "fu"),
        F.col("user_id") == F.col("fu"),
        "left",
    ).select(
        F.when(F.col("first_rel").isNull(), F.lit(0))
        .otherwise(
            F.floor(
                (2000000 + F.col("first_rel"))
                / (2 * F.col("first_rel"))
            ).cast("long")
        )
        .alias("rr_micro"),
        "first_rel",
    )
    return rr.agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum("rr_micro") / (1000000.0 * F.count("*")), 6
        ).alias(f"mrr_at_{_NDCG_K}"),
        F.sum(F.when(F.col("first_rel") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hit_at_1"),
        F.sum(
            F.when(F.col("first_rel").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias(f"n_hit_at_{_NDCG_K}"),
    )
