"""Round-60 breadth batch: Burrows' Delta stylometry, selective
prediction risk, and feed-gap probing.

- ``text_burrows_delta`` — the authorship-attribution classic:
  per-source relative frequencies of the top function words,
  z-scored against corpus norms, and Delta = mean |z_a - z_b| for
  every source pair — the smallest-Delta pairs write alike, which
  in a crawl usually means the same CMS or the same spam farm, not
  the same author.
- ``eval_selective_risk`` — the abstention curve: keep only the
  top-d% most confident predictions and report the accuracy of what
  remains at each coverage decile — the readout that prices a
  human-review budget (risk-coverage tradeoff from selective
  prediction).
- ``dq_feed_gaps`` — the feed-outage probe: per event type, the
  largest and the exact-rank p99 inter-arrival gap — a max gap that
  dwarfs p99 is an outage, a p99 that grew with a flat max is
  thinning traffic; the pair separates the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# text_burrows_delta
# --------------------------------------------------------------------------

_BD_WORDS = 30
_BD_TOP_PAIRS = 10


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    topw AS (
        SELECT t FROM (
            SELECT t, count(*) AS c,
                   row_number() OVER (ORDER BY count(*) DESC, t)
                       AS rk
            FROM tok GROUP BY t
        ) WHERE rk <= {_BD_WORDS}
    ),
    src_tot AS (
        SELECT source, count(*) AS n_tok FROM tok GROUP BY source
    ),
    freq AS (
        SELECT k.source, w.t,
               CAST(floor(1000000.0 * coalesce(c.c, 0) / k.n_tok
                          + 0.5) AS BIGINT) AS f_micro
        FROM src_tot k
        CROSS JOIN topw w
        LEFT JOIN (
            SELECT source, t, count(*) AS c
            FROM tok JOIN topw USING (t)
            GROUP BY source, t
        ) c ON c.source = k.source AND c.t = w.t
    ),
    norms AS (
        SELECT t, count(*) AS k,
               sum(f_micro) AS s, sum(f_micro * f_micro) AS ss
        FROM freq GROUP BY t
    ),
    z AS (
        SELECT f.source, f.t,
               CAST(floor(1000.0 * (f.f_micro * n.k - n.s)
                    / sqrt(greatest(CAST(n.k AS DOUBLE) * n.ss
                                    - CAST(n.s AS DOUBLE) * n.s,
                                    1.0)) + 0.5) AS BIGINT)
                   AS z_milli
        FROM freq f JOIN norms n ON n.t = f.t
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               (2 * sum(abs(a.z_milli - b.z_milli)) + count(*))
                   // (2 * count(*)) AS delta_milli
        FROM z a JOIN z b ON b.t = a.t AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b,
           CAST(delta_milli AS BIGINT) AS delta_milli,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY delta_milli, src_a, src_b) AS rnk
        FROM pairs
    ) WHERE rnk <= {_BD_TOP_PAIRS}
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources over the top-{_BD_WORDS}
    corpus words: per-source relative frequencies (micro-rounded
    once), z-scored against the across-source norm for each word
    (k-scaled exact moments, milli-rounded once), Delta = mean
    |z_a - z_b| per source pair in half-up milli units — the
    {_BD_TOP_PAIRS} smallest-Delta pairs are the sources that write
    most alike. Function-word profiles survive topic changes, which
    is why Delta attributes AUTHORS — in a crawl, near-zero pairs
    mean shared CMS boilerplate or one spam operation wearing two
    domains.

    Scale: the pair join is blocked by word over a |sources| x
    {_BD_WORDS} profile table — Σ per-word source-pair mass, never
    corpus pairs; every float is rounded once into integers before
    any sum."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("t")
    )
    wr = Window.orderBy(F.col("c").desc(), "t")
    topw = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _BD_WORDS)
        .select("t")
    )
    src_tot = tok.groupBy("source").agg(
        F.count("*").alias("n_tok")
    )
    counts = (
        tok.join(F.broadcast(topw), "t")
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    freq = (
        src_tot.crossJoin(F.broadcast(topw))
        .join(counts, ["source", "t"], "left")
        .select(
            "source",
            "t",
            F.floor(
                1000000.0
                * F.coalesce("c", F.lit(0))
                / F.col("n_tok")
                + 0.5
            )
            .cast("long")
            .alias("f_micro"),
        )
    )
    norms = freq.groupBy("t").agg(
        F.count("*").alias("k"),
        F.sum("f_micro").alias("s"),
        F.sum(F.col("f_micro") * F.col("f_micro")).alias("ss"),
    )
    z = freq.join(F.broadcast(norms), "t").select(
        "source",
        "t",
        F.floor(
            1000.0
            * (F.col("f_micro") * F.col("k") - F.col("s"))
            / F.sqrt(
                F.greatest(
                    F.col("k").cast("double") * F.col("ss")
                    - F.col("s").cast("double") * F.col("s"),
                    F.lit(1.0),
                )
            )
            + 0.5
        )
        .cast("long")
        .alias("z_milli"),
    )
    a = z.select(
        F.col("source").alias("src_a"), "t",
        F.col("z_milli").alias("za"),
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("t").alias("tb"),
        F.col("z_milli").alias("zb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("t") == F.col("tb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.expr(
                "(2 * sum(abs(za - zb)) + count(*))"
                " div (2 * count(*))"
            ).alias("delta_milli")
        )
    )
    wp = Window.orderBy("delta_milli", "src_a", "src_b")
    return (
        pairs.withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= _BD_TOP_PAIRS)
        .select(
            "src_a", "src_b",
            F.col("delta_milli").cast("long").alias("delta_milli"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# eval_selective_risk
# --------------------------------------------------------------------------


@query(
    "eval_selective_risk",
    oracle="""
    WITH pts AS (
        SELECT cents,
               CASE WHEN (CASE WHEN cents < 2000 THEN 'view'
                               WHEN cents < 4000 THEN 'click'
                               WHEN cents < 6000 THEN 'signup'
                               WHEN cents < 8000 THEN 'purchase'
                               ELSE 'error' END) = event_type
                    THEN 1 ELSE 0 END AS correct,
               abs(cents % 2000 - 1000) AS conf,
               event_id
        FROM (
            SELECT event_type,
                   CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT) AS cents,
                   event_id
            FROM events WHERE value IS NOT NULL
        )
    ),
    ranked AS (
        SELECT correct,
               row_number() OVER (ORDER BY conf DESC, event_id)
                   AS rn,
               count(*) OVER () AS n
        FROM pts
    ),
    dec AS (SELECT CAST(range AS BIGINT) + 1 AS d FROM range(10))
    SELECT CAST(dec.d AS BIGINT) AS coverage_decile,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(r.correct) AS BIGINT) AS n_correct,
           CAST((2000000 * sum(r.correct) + count(*)) // (2 * count(*))
               AS BIGINT) AS selective_acc_micro
    FROM dec JOIN ranked r ON r.rn <= (dec.d * r.n + 9) // 10
    GROUP BY dec.d
    """,
)
def eval_selective_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The risk-coverage curve for selective prediction: the value-
    bucket router's predictions ranked by a confidence proxy
    (distance from the bucket boundary — boundary cases are the
    unsure ones), and at each coverage decile the accuracy of the
    kept head. A steeply falling curve prices a human-review budget
    exactly: answer the confident 60% automatically, route the rest
    — the deployment pattern selective-prediction papers formalize
    as risk@coverage. Exact counts, integral micro divisions.

    Scale: confidence ranks from the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum rank-only on the
    negated proxy — converted round 10; a mergeable quantile sketch
    is the even-cheaper cut at fleet scale), a 10-row decile
    broadcast folded in one pass — eval_gains_chart's plan with
    accuracy as the objective."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            half_up(F.col("value"), 2).alias("cents"),
            "event_type",
            "event_id",
        )
        .select(
            F.when(
                F.when(F.col("cents") < 2000, "view")
                .when(F.col("cents") < 4000, "click")
                .when(F.col("cents") < 6000, "signup")
                .when(F.col("cents") < 8000, "purchase")
                .otherwise("error")
                == F.col("event_type"),
                1,
            )
            .otherwise(0)
            .alias("correct"),
            (-F.abs(F.col("cents") % 2000 - 1000)).alias("neg_conf"),
            "event_id",
        )
    )
    ranked = bucketed_rank_cumsum(
        pts, order_key="neg_conf", tiebreak="event_id"
    ).select("correct", F.col("rk").alias("rn"), "n")
    dec = spark.range(10).select(
        (F.col("id") + 1).alias("coverage_decile")
    )
    return (
        dec.join(
            ranked,
            F.col("rn")
            <= F.floor(
                (F.col("coverage_decile") * F.col("n") + 9) / 10
            ),
        )
        .groupBy("coverage_decile")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("correct").alias("n_correct"),
        )
        .select(
            F.col("coverage_decile").cast("long").alias(
                "coverage_decile"
            ),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.expr(
                "(2000000 * n_correct + n_kept) div (2 * n_kept)"
            ).alias("selective_acc_micro"),
        )
    )


# --------------------------------------------------------------------------
# dq_feed_gaps
# --------------------------------------------------------------------------


@query(
    "dq_feed_gaps",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY event_type
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS gap_us
        FROM events
    ),
    gaps AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL),
    ranked AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM gaps
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100
                    THEN gap_us END) AS BIGINT) AS p99_gap_us
    FROM ranked GROUP BY event_type
    """,
)
def dq_feed_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-gap probe per event type: every inter-arrival gap in
    exact microseconds ((ts, event_id) total order), with the MAX
    and the exact nearest-rank P99. The pair is the diagnosis: max
    >> p99 means one discrete outage (a hole in an otherwise healthy
    feed); p99 creeping up under a stable max means the feed is
    thinning everywhere — two failure modes one number would
    conflate, and the alert thresholds differ for each.

    Scale: the lag pass and the rank selection are both keyed by
    feed — no global windows; gaps collapse map-side."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = io.load_events(spark, sf_dir).select(
        "event_type",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    gaps = seq.filter(F.col("gap_us").isNotNull())
    wk = Window.partitionBy("event_type").orderBy("gap_us")
    wn = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wk).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.max(
            F.when(
                F.col("rn")
                == F.floor((99 * F.col("n") + 99) / 100),
                F.col("gap_us"),
            )
        )
        .cast("long")
        .alias("p99_gap_us"),
    )
