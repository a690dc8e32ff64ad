"""Round-53 breadth batch: split-leakage auditing, the cumulative
gains chart, and the Poisson dispersion test.

- ``pipeline_split_leakage`` — the train/val contamination audit:
  after the standard salted-hash split, count documents whose
  5-gram fingerprints also appear across the boundary — near-dups
  straddling the split silently inflate every validation number,
  and this census is the pre-training gate that catches them
  (text_decontaminate handles benchmark overlap; this handles the
  corpus leaking into itself).
- ``eval_gains_chart`` — the cumulative gains (lift) chart at
  population deciles: what share of all positives the top-d% by
  score captures — the campaign-targeting readout whose diagonal
  is random targeting (ROC's cousin on the
  population-effort axis).
- ``ts_dispersion_test`` — the index-of-dispersion (variance/mean)
  test on hourly event counts: Poisson arrivals give VMR=1;
  VMR >> 1 is burstiness/batching, VMR << 1 is rate limiting —
  with the chi-square statistic (n-1)*VMR that makes it a test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# pipeline_split_leakage
# --------------------------------------------------------------------------

_SL_NGRAM = 5
_SL_SALT = "split-v1"


@query(
    "pipeline_split_leakage",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, text,
               CASE WHEN CAST(('0x' || substring(md5(
                        '{_SL_SALT}' || CAST(doc_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 10 < 8
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
    ),
    tok AS (
        SELECT doc_id, split, t,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY pos) AS idx
        FROM (
            SELECT doc_id, split, u.t, u.pos
            FROM docs,
                 LATERAL (SELECT unnest(string_split(text, ' ')) AS t,
                          generate_subscripts(
                              string_split(text, ' '), 1) AS pos) u
        )
    ),
    grams AS (
        SELECT DISTINCT a.doc_id, a.split,
               md5(a.t || ' ' || b.t || ' ' || c.t || ' '
                   || d.t || ' ' || e.t) AS g
        FROM tok a
        JOIN tok b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
        JOIN tok c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
        JOIN tok d ON d.doc_id = a.doc_id AND d.idx = a.idx + 3
        JOIN tok e ON e.doc_id = a.doc_id AND e.idx = a.idx + 4
    ),
    train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    val_docs AS (
        SELECT doc_id, count(*) AS n_grams,
               sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_leaked
        FROM grams v LEFT JOIN train_g tg ON tg.g = v.g
        WHERE v.split = 'val'
        GROUP BY doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_val_docs,
           CAST(sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(sum(n_leaked) AS BIGINT) AS leaked_grams,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST((2000000 * sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END)
            + count(*)) // (2 * count(*)) AS BIGINT)
               AS contamination_micro
    FROM val_docs
    """,
)
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split-leakage audit: documents split 80/20 by the
    standard salted md5 hash, every document's DISTINCT {_SL_NGRAM}-
    gram fingerprints computed, and each validation document checked
    for fingerprints that also occur ANYWHERE in train. A val doc
    with leaked grams shares verbatim spans with training data — its
    loss is partially memorization, and the contamination rate here
    is the honest discount to apply to every eval on that split.
    Duplicate documents straddling the split are the common cause —
    which is why dedup must run BEFORE splitting, and this key is
    the regression gate for that ordering.

    Scale: fingerprints form per doc (keyed window + adjacent-
    position equi-joins, Σ doc_len bounded); the train fingerprint
    set joins as a hash join (broadcast here, co-partitioned at web
    scale); the verdict is a doc-grain fold to one row."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(_SL_SALT),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
            < 8,
            "train",
        )
        .otherwise("val")
        .alias("split"),
    )
    tok = docs.select(
        "doc_id",
        "split",
        F.posexplode(F.split("text", " ")).alias("idx", "t"),
    )
    joined = tok.alias("a")
    for i, al in enumerate(("b", "c", "d", "e"), start=1):
        joined = joined.join(
            tok.select(
                F.col("doc_id").alias(f"{al}_d"),
                F.col("idx").alias(f"{al}_i"),
                F.col("t").alias(f"{al}_t"),
            ),
            (F.col("a.doc_id") == F.col(f"{al}_d"))
            & (F.col(f"{al}_i") == F.col("a.idx") + i),
        )
    grams = joined.select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.split").alias("split"),
        F.md5(
            F.concat_ws(
                " ",
                F.col("a.t"),
                F.col("b_t"),
                F.col("c_t"),
                F.col("d_t"),
                F.col("e_t"),
            )
        ).alias("g"),
    ).distinct()
    train_g = (
        grams.filter(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    val_docs = (
        grams.filter(F.col("split") == "val")
        .join(train_g, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_leaked"),
        )
    )
    return val_docs.agg(
        F.count("*").alias("n_val_docs"),
        F.sum(F.when(F.col("n_leaked") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum("n_leaked").cast("long").alias("leaked_grams"),
        F.sum("n_grams").cast("long").alias("total_grams"),
        F.expr(
            "(2000000 * sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END)"
            " + count(*)) div (2 * count(*))"
        ).alias("contamination_micro"),
    )


# --------------------------------------------------------------------------
# eval_gains_chart
# --------------------------------------------------------------------------


@query(
    "eval_gains_chart",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y,
               event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    ranked AS (
        SELECT y,
               row_number() OVER (ORDER BY s DESC, event_id) AS rn,
               count(*) OVER () AS n,
               sum(y) OVER () AS pos
        FROM pts
    ),
    dec AS (SELECT CAST(range AS BIGINT) + 1 AS d FROM range(10))
    SELECT CAST(dec.d AS BIGINT) AS decile,
           CAST(sum(r.y) AS BIGINT) AS captured,
           CAST((2000000 * sum(r.y) + max(r.pos)) // (2 * max(r.pos))
               AS BIGINT) AS gain_micro,
           CAST((2 * 10000 * sum(r.y) + dec.d * max(r.pos))
               // (2 * dec.d * max(r.pos)) AS BIGINT) AS lift_milli
    FROM dec JOIN ranked r ON r.rn <= (dec.d * r.n + 9) // 10
    GROUP BY dec.d
    """,
)
def eval_gains_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative gains chart: score-sort the population
    descending, and at each population decile report how many of ALL
    positives the head captures (gain, micro units) plus the lift
    over random targeting (gain/(d/10), milli units — lift 1000 =
    random). This is the chart a campaign-budget decision actually
    reads: "calling the top 30% reaches X% of converters". The
    diagonal baseline and the ROC curve are both derivable, but the
    population-effort axis is what operations people think in.

    Scale: rank, population count, AND total positives all come from
    ONE bucketed two-pass cumsum (operators/windows.py:
    bucketed_rank_cumsum on the negated score with value_col=y —
    converted round 10; a mergeable quantile sketch is the even-
    cheaper cut at fleet scale), a 10-row decile join folded in one
    pass."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            (-half_up(F.col("value"), 2)).alias("neg_s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
            "event_id",
        )
    )
    ranked = bucketed_rank_cumsum(
        pts, order_key="neg_s", tiebreak="event_id", value_col="y"
    ).select(
        "y",
        F.col("rk").alias("rn"),
        "n",
        F.col("total").alias("pos"),
    )
    dec = spark.range(10).select((F.col("id") + 1).alias("decile"))
    return (
        dec.join(
            ranked,
            F.col("rn")
            <= F.floor((F.col("decile") * F.col("n") + 9) / 10),
        )
        .groupBy("decile")
        .agg(
            F.sum("y").alias("captured"),
            F.max("pos").alias("pos"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("captured").cast("long").alias("captured"),
            F.expr(
                "(2000000 * captured + pos) div (2 * pos)"
            ).alias("gain_micro"),
            F.expr(
                "(2 * 10000 * captured + decile * pos)"
                " div (2 * decile * pos)"
            ).alias("lift_milli"),
        )
    )


# --------------------------------------------------------------------------
# ts_dispersion_test
# --------------------------------------------------------------------------


@query(
    "ts_dispersion_test",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               count(*) AS c
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss
        FROM hourly
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(s AS BIGINT) AS n_events,
           CAST((2000000 * (n * ss - s * s) + n * s) // (2 * n * s)
               AS BIGINT) AS vmr_micro,
           round(CAST(n * ss - s * s AS DOUBLE) / s, 4)
               AS chi2_stat,
           CAST(n - 1 AS BIGINT) AS df
    FROM m
    """,
)
def ts_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion test on hourly arrival counts: VMR =
    variance/mean as the exact integer rational (N*Σc² - S²)/(N*S),
    and the chi-square statistic (n-1)*VMR = (NΣc²-S²)/S against
    n-1 df. Poisson arrivals give VMR=1; VMR >> 1 means bursty or
    batched ingestion (retries, upstream buffering), VMR << 1 means
    something is rate-limiting the feed — either way the "events
    arrive independently" assumption behind every Poisson-based
    alert threshold is broken, and this is the one-row check that
    says so.

    Scale: fact -> hourly counts (map-side partials) -> one-row
    moment fold."""
    hourly = (
        io.load_events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("c"))
    )
    m = hourly.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_hours"),
        F.col("s").cast("long").alias("n_events"),
        # n*ss and s*s are HUGEINT on the DuckDB side (ss, s from sum());
        # DECIMAL(38,0)-widened here so the variance-to-mean numerator
        # can't hit the 2^63 cliff (registry.py envelope note)
        F.expr(
            "CAST((2000000 * (CAST(n AS DECIMAL(38,0)) * ss"
            " - CAST(s AS DECIMAL(38,0)) * s) + n * s)"
            " DIV (2 * CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("vmr_micro"),
        F.round(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast(
                "double"
            )
            / F.col("s"),
            4,
        ).alias("chi2_stat"),
        (F.col("n") - 1).cast("long").alias("df"),
    )
