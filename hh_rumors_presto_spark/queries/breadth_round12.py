"""Round-12 breadth batch: deterministic online bootstrap and a
backoff bigram LM.

- ``aqp_bootstrap_ci`` — confidence interval for the mean via the
  ONLINE (Poisson) bootstrap: every (row, replica) pair draws a
  deterministic Poisson(1) weight from md5, each replica is one
  weighted partial aggregate, and the CI is read off the sorted
  replica means. The resampling scheme that works in one streaming
  pass over distributed data (Oza/Russell online bagging; Efron's
  bootstrap weights) — no row index, no global shuffle of samples.
- ``text_lm_bigram_backoff`` — per-document bigram log-probability
  with Stupid Backoff (Brants et al., EMNLP'07: score = c2/c1 if the
  bigram was seen, else 0.4 * unigram): the stronger perplexity-proxy
  quality filter over text_lm_score's unigram. Every term is rounded
  to integer micro-nats BEFORE summing, so the per-doc score is an
  order-free exact BIGINT sum.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# aqp_bootstrap_ci
# --------------------------------------------------------------------------

_BS_B = 32  # bootstrap replicas
# Poisson(1) inverse-CDF thresholds scaled to the md5-top-32-bit range,
# computed once here and inlined as INTEGER literals in both engines
_BS_CDF = []
_acc = 0.0
_p = math.exp(-1.0)
for _k in range(5):
    _acc += _p
    _BS_CDF.append(int(math.floor(_acc * 4294967296.0)))
    _p /= _k + 1


def _bs_weight_sql(u: str) -> str:
    """Poisson(1) weight from a uniform 32-bit integer column."""
    return (
        f"CASE WHEN {u} < {_BS_CDF[0]} THEN 0"
        f" WHEN {u} < {_BS_CDF[1]} THEN 1"
        f" WHEN {u} < {_BS_CDF[2]} THEN 2"
        f" WHEN {u} < {_BS_CDF[3]} THEN 3"
        f" WHEN {u} < {_BS_CDF[4]} THEN 4 ELSE 5 END"
    )


@query(
    "aqp_bootstrap_ci",
    oracle=f"""
    WITH rows_in AS (
        SELECT event_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    reps AS (
        SELECT r.event_id, r.cents, b.b,
               CAST(('0x' || substring(md5(CAST(r.event_id AS VARCHAR)
                     || '#' || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        FROM rows_in r JOIN unnest(generate_series(0, {_BS_B - 1})) AS b(b)
          ON true
    ),
    weighted AS (
        SELECT b, cents, {_bs_weight_sql('u')} AS w FROM reps
    ),
    means AS (
        SELECT b,
               CAST(sum(w * cents) * 1000000 // sum(w) AS BIGINT)
                   AS mean_micro
        FROM weighted GROUP BY b HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT mean_micro,
               row_number() OVER (ORDER BY mean_micro, b) AS r,
               count(*) OVER () AS nb
        FROM means
    ),
    point AS (
        SELECT CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
                   AS point_micro
        FROM rows_in
    )
    SELECT p.point_micro,
           CAST(min(CASE WHEN r.r = 2 THEN r.mean_micro END) AS BIGINT)
               AS lo_micro,
           CAST(min(CASE WHEN r.r = r.nb - 1 THEN r.mean_micro END)
                AS BIGINT) AS hi_micro,
           CAST(min(r.nb) AS BIGINT) AS n_replicas
    FROM ranked r CROSS JOIN point p
    GROUP BY p.point_micro
    """,
)
def aqp_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-bootstrap confidence interval for the mean event value:
    each of 32 replicas reweights every row by a DETERMINISTIC
    Poisson(1) draw (md5 of (event_id, replica) against precomputed
    inverse-CDF integer thresholds — no RNG state, reproducible under
    any partitioning), each replica mean is one weighted aggregate in
    exact integer micro-cents, and the interval is the 2nd-lowest /
    2nd-highest replica mean (a ~94% percentile-bootstrap CI at B=32).
    The uncertainty quantifier for every AQP answer (aqp_sample_mean
    gives the point estimate; this prices its error).

    Scale: the row x replica expansion is the textbook online-bootstrap
    cost (B partial aggregates in ONE pass, mergeable map-side — at
    100 TB you fold the 32 weights into one pass per row rather than
    exploding, same math); the final rank-off is over B rows."""
    ev = io.load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    rows_in = ev.select(
        "event_id",
        half_up(F.col("value"), 2).alias("cents"),
    )
    reps = rows_in.withColumn(
        "b", F.explode(F.array(*[F.lit(i) for i in range(_BS_B)]))
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("event_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    w = (
        F.when(F.col("u") < _BS_CDF[0], 0)
        .when(F.col("u") < _BS_CDF[1], 1)
        .when(F.col("u") < _BS_CDF[2], 2)
        .when(F.col("u") < _BS_CDF[3], 3)
        .when(F.col("u") < _BS_CDF[4], 4)
        .otherwise(5)
    )
    means = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("b", F.expr("swc * 1000000 DIV sw").alias("mean_micro"))
    )
    ranked = means.select(
        "mean_micro",
        F.row_number()
        .over(Window.orderBy("mean_micro", "b"))
        .alias("r"),
        F.count("*").over(Window.partitionBy()).alias("nb"),
    )
    point = rows_in.agg(
        F.expr("sum(cents) * 1000000 DIV count(*)").alias("point_micro")
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("point_micro")
        .agg(
            F.min(F.when(F.col("r") == 2, F.col("mean_micro")))
            .cast("long")
            .alias("lo_micro"),
            F.min(
                F.when(F.col("r") == F.col("nb") - 1, F.col("mean_micro"))
            )
            .cast("long")
            .alias("hi_micro"),
            F.min("nb").cast("long").alias("n_replicas"),
        )
        .select("point_micro", "lo_micro", "hi_micro", "n_replicas")
    )


# --------------------------------------------------------------------------
# text_lm_bigram_backoff
# --------------------------------------------------------------------------

_BO_ALPHA = 0.4  # stupid-backoff discount


@query(
    "text_lm_bigram_backoff",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, tok, pos FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ) WHERE tok <> ''
    ),
    uni AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
    total AS (SELECT count(*) AS n FROM tok),
    -- prev = previous SURVIVING token (lag over position order), the
    -- same pairing the Spark side's keyed lag window produces — NOT a
    -- pos+1 self-join, which would break across multi-space runs
    seq AS (
        SELECT doc_id, tok, pos,
               lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM tok
    ),
    big AS (
        SELECT prev AS w1, tok AS w2, count(*) AS c2
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    terms AS (
        SELECT t.doc_id,
               CASE
                 WHEN t.prev IS NULL THEN
                   ln(CAST(u2.c1 AS DOUBLE) / tot.n)
                 WHEN bg.c2 IS NOT NULL THEN
                   ln(CAST(bg.c2 AS DOUBLE) / u1.c1)
                 ELSE
                   ln({_BO_ALPHA} * CAST(u2.c1 AS DOUBLE) / tot.n)
               END AS logp
        FROM seq t
        JOIN uni u2 ON u2.tok = t.tok
        LEFT JOIN uni u1 ON u1.tok = t.prev
        LEFT JOIN big bg ON bg.w1 = t.prev AND bg.w2 = t.tok
        CROSS JOIN total tot
    )
    SELECT doc_id,
           CAST(sum(CAST(floor(logp * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM terms GROUP BY doc_id
    """,
)
def text_lm_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram log-probability with Stupid Backoff (Brants
    et al. 2007): a seen bigram scores ln(c2/c1), an unseen one backs
    off to ln(0.4 * unigram), the first token scores its unigram. The
    web-scale LM scoring scheme (no discount estimation, counts only)
    — the stronger perplexity-proxy quality filter over text_lm_score's
    unigram. Each term is rounded to integer MICRO-NATS before the
    per-doc sum, so the score is an order-free exact BIGINT (no float
    reduction-order drift, unlike a naive sum of doubles).

    Scale: unigram/bigram count tables are vocabulary-sized hash aggs
    (broadcast here, co-partitioned joins at web scale); the previous
    token comes from a keyed window, not a self-join, on the Spark
    side; one per-doc fold ends the plan."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
        )
        .filter(F.col("tok") != "")
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    uni = tok.groupBy("tok").agg(F.count("*").alias("c1"))
    total = tok.agg(F.count("*").alias("n"))
    wprev = Window.partitionBy("doc_id").orderBy("pos")
    seq = tok.withColumn("prev", F.lag("tok").over(wprev))
    u2 = uni.select(F.col("tok").alias("tok"), F.col("c1").alias("c1_cur"))
    u1 = uni.select(
        F.col("tok").alias("prev"), F.col("c1").alias("c1_prev")
    )
    big = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("w1"), F.col("tok").alias("w2"))
        .agg(F.count("*").alias("c2"))
    )
    joined = (
        seq.join(F.broadcast(u2), "tok")
        .join(F.broadcast(u1), "prev", "left")
        .join(
            F.broadcast(big),
            (F.col("prev") == F.col("w1")) & (F.col("tok") == F.col("w2")),
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    logp = (
        F.when(
            F.col("prev").isNull(),
            F.log(F.col("c1_cur").cast("double") / F.col("n")),
        )
        .when(
            F.col("c2").isNotNull(),
            F.log(F.col("c2").cast("double") / F.col("c1_prev")),
        )
        .otherwise(
            F.log(
                F.lit(_BO_ALPHA)
                * F.col("c1_cur").cast("double")
                / F.col("n")
            )
        )
    )
    term = half_up(logp, 6)
    return joined.groupBy("doc_id").agg(
        F.sum(term).cast("long").alias("score_micro"),
        F.count("*").cast("long").alias("n_tokens"),
    )
