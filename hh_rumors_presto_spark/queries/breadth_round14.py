"""Round-14 breadth batch: in-plan multinomial Naive Bayes, exact
mutual-information dependence audit, and the Theil–Sen robust trend.

- ``ml_naive_bayes`` — add-one-smoothed multinomial Naive Bayes trained
  AND applied in one plan (language classification over the document
  corpus): per-(class, token) counts are the sufficient statistics, every
  log term is rounded to integer micro-nats before summing so the
  per-document class score is an order-free exact BIGINT.
- ``agg_mutual_info`` — exact mutual information (and per-cell PMI)
  between two categorical columns across a join (market segment x order
  priority): the feature-selection / dependence audit, computed from
  exact integer contingency counts with per-cell micro-nat rounding.
- ``ts_theil_sen`` — the Theil–Sen estimator (median of pairwise
  slopes) per event-type daily series: the robust trend line that
  ignores outlier days, with pair mass bounded by days^2 per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ml_naive_bayes
# --------------------------------------------------------------------------


@query(
    "ml_naive_bayes",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    classes AS (
        SELECT lang AS cls, count(DISTINCT doc_id) AS n_docs
        FROM tok WHERE lang IS NOT NULL GROUP BY lang
    ),
    prior AS (
        SELECT cls, n_docs,
               CAST(floor(ln(CAST(n_docs AS DOUBLE)
                             / (SELECT sum(n_docs) FROM classes))
                          * 1000000.0 + 0.5) AS BIGINT) AS prior_mnat
        FROM classes
    ),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM tok),
    cnt AS (
        SELECT lang AS cls, tok, count(*) AS n_ct
        FROM tok WHERE lang IS NOT NULL GROUP BY lang, tok
    ),
    ctot AS (SELECT cls, sum(n_ct) AS n_c FROM cnt GROUP BY cls),
    scored AS (
        SELECT t.doc_id, t.lang, p.cls,
               p.prior_mnat + sum(
                   CAST(floor(ln(CAST(coalesce(c.n_ct, 0) + 1 AS DOUBLE)
                                 / CAST(ct.n_c + vv.v AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT)) AS score_mnat
        FROM tok t
        CROSS JOIN prior p
        JOIN ctot ct ON ct.cls = p.cls
        CROSS JOIN vocab vv
        LEFT JOIN cnt c ON c.cls = p.cls AND c.tok = t.tok
        GROUP BY t.doc_id, t.lang, p.cls, p.prior_mnat
    )
    SELECT doc_id, cls AS pred_lang,
           CAST(score_mnat AS BIGINT) AS score_mnat,
           cls IS NOT DISTINCT FROM lang AS correct
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_mnat DESC, cls) AS rnk
        FROM scored
    )
    WHERE rnk = 1
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed multinomial Naive Bayes, trained and applied in
    ONE declarative plan: the per-(class, token) occurrence counts ARE
    the model (the sufficient statistics of NB), class priors come from
    document counts, and every log term — prior and per-occurrence
    likelihood ln((n_ct+1)/(n_c+V)) — is rounded to integer micro-nats
    BEFORE summing, so each document's class score is an order-free
    exact BIGINT and the argmax (ties to the lexicographically smallest
    class) is deterministic.

    Scale: the model tables (|V| x K counts, K priors, one V scalar)
    are corpus aggregates with map-side partials, then BROADCAST to the
    token stream — scoring is one fact-sized pass with zero fact
    shuffles before the per-doc fold; the argmax is a group-limited
    window (WindowGroupLimit). NULL-lang docs are excluded from
    training but still scored."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    train = tok.filter(F.col("lang").isNotNull())
    classes = train.groupBy(F.col("lang").alias("cls")).agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    prior = classes.crossJoin(
        F.broadcast(classes.agg(F.sum("n_docs").alias("tot_docs")))
    ).select(
        "cls",
        half_up(
            F.log(F.col("n_docs").cast("double") / F.col("tot_docs")), 6
        ).alias("prior_mnat"),
    )
    vocab = tok.agg(F.count_distinct("tok").alias("v"))
    cnt = train.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count("*").alias("n_ct")
    )
    ctot = cnt.groupBy("cls").agg(F.sum("n_ct").alias("n_c"))
    term = half_up(
        F.log(
            (F.coalesce(F.col("n_ct"), F.lit(0)) + 1).cast("double")
            / (F.col("n_c") + F.col("v")).cast("double")
        ),
        6,
    ).alias("term_mnat")
    scored = (
        tok.crossJoin(F.broadcast(prior.join(ctot, "cls")))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(cnt), ["cls", "tok"], "left")
        .groupBy("doc_id", "lang", "cls", "prior_mnat")
        .agg(F.sum(term).alias("lik_mnat"))
        .select(
            "doc_id",
            "lang",
            "cls",
            (F.col("prior_mnat") + F.col("lik_mnat")).alias("score_mnat"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_mnat").desc(), "cls"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "doc_id",
            F.col("cls").alias("pred_lang"),
            F.col("score_mnat").cast("long").alias("score_mnat"),
            F.col("cls").eqNullSafe(F.col("lang")).alias("correct"),
        )
    )


# --------------------------------------------------------------------------
# agg_mutual_info
# --------------------------------------------------------------------------


@query(
    "agg_mutual_info",
    oracle="""
    WITH joined AS (
        SELECT c.c_mktsegment AS x, o.o_orderpriority AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cell AS (SELECT x, y, count(*) AS n_xy FROM joined GROUP BY x, y),
    mx AS (SELECT x, sum(n_xy) AS n_x FROM cell GROUP BY x),
    my AS (SELECT y, sum(n_xy) AS n_y FROM cell GROUP BY y),
    tot AS (SELECT sum(n_xy) AS n FROM cell),
    pmi AS (
        SELECT c.x, c.y, c.n_xy,
               CAST(floor(ln(CAST(c.n_xy * t.n AS DOUBLE)
                             / CAST(mx.n_x * my.n_y AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS pmi_mnat
        FROM cell c
        JOIN mx ON mx.x = c.x
        JOIN my ON my.y = c.y
        CROSS JOIN tot t
    )
    SELECT x, y, CAST(n_xy AS BIGINT) AS n_xy, pmi_mnat,
           CAST(n_xy * pmi_mnat AS BIGINT) AS contrib_mnat,
           CAST(sum(n_xy * pmi_mnat) OVER () AS BIGINT) AS mi_total_mnat
    FROM pmi
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual information between two categorical columns across
    a join (market segment x order priority) — the dependence audit /
    feature-selection statistic. Per-cell PMI ln(n_xy*N / (n_x*n_y)) is
    computed from EXACT integer contingency counts (the BIGINT products
    stay well inside 2^63 at any realistic cardinality), rounded to
    micro-nats per cell, and the N-weighted total Σ n_xy*pmi is a pure
    integer sum — MI in nats is mi_total_mnat / N / 1e6.

    Scale: one fact-sized join+groupBy produces the |X|x|Y| cell table;
    margins, the total, and the window fold all run on that tiny table.
    The fact is touched exactly once."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cell = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("x"),
            F.col("o_orderpriority").alias("y"),
        )
        .agg(F.count("*").alias("n_xy"))
    )
    mx = cell.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = cell.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = cell.agg(F.sum("n_xy").alias("n"))
    pmi = (
        cell.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n_xy",
            half_up(
                F.log(
                    (F.col("n_xy") * F.col("n")).cast("double")
                    / (F.col("n_x") * F.col("n_y")).cast("double")
                ),
                6,
            ).alias("pmi_mnat"),
        )
    )
    return pmi.select(
        "x",
        "y",
        F.col("n_xy").cast("long").alias("n_xy"),
        "pmi_mnat",
        (F.col("n_xy") * F.col("pmi_mnat")).cast("long").alias("contrib_mnat"),
        F.sum(F.col("n_xy") * F.col("pmi_mnat"))
        .over(Window.partitionBy())
        .cast("long")
        .alias("mi_total_mnat"),
    )


# --------------------------------------------------------------------------
# ts_theil_sen
# --------------------------------------------------------------------------


@query(
    "ts_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.cents - a.cents AS DOUBLE)
                   / date_diff('day', a.day, b.day) AS slope,
               a.day AS d1, b.day AS d2
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY slope, d1, d2) AS r,
               count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM pairs
    )
    SELECT r.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           round(r.slope, 6) AS sen_slope
    FROM ranked r
    JOIN (SELECT event_type, count(*) AS n_days FROM daily
          GROUP BY event_type) d
      ON d.event_type = r.event_type
    WHERE r.r = (r.n_pairs + 1) // 2
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event-type daily series: the (lower)
    median of all pairwise slopes (cents_j - cents_i)/(day_j - day_i) —
    the estimator with a 29% breakdown point that a handful of outlier
    days cannot bend, unlike OLS (`agg_regression`). Slopes are IEEE
    doubles of exact integers (deterministic), the median is a SELECTED
    element (row_number = (n+1)//2 with (slope, d1, d2) total order),
    never an average — so no float summation anywhere.

    Scale: the fact collapses to per-(type, day) partials first (one
    map-side-combine shuffle); the pair join is blocked per group with
    pair mass Σ days^2 — bounded by the calendar, not the event count.
    For year-scale series, PAA-compress days to weeks first
    (`ts_paa_sax`) to keep the quadratic term trivial."""
    daily = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
        F.col("a.day").alias("d1"),
        F.col("b.day").alias("d2"),
    )
    wrank = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wcount = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wrank).alias("r"),
        F.count("*").over(wcount).alias("n_pairs"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days")
    )
    return (
        ranked.filter(
            F.col("r") == F.floor((F.col("n_pairs") + 1) / 2)
        )
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round("slope", 6).alias("sen_slope"),
        )
    )
