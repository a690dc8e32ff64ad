"""Round-28 breadth batch: weight-of-evidence encoding, a DFT power
spectrum, and DSIR importance selection.

- ``feat_woe_iv`` — weight-of-evidence + information value of the
  customer market segment against order finality (the credit-scoring
  categorical-strength readout; IV is THE classic screen for whether a
  feature is worth one-hot/target encoding at all).
- ``ts_dft_power`` — discrete-Fourier power at harmonics k=1..8 of the
  daily event-count series, micro-rounded trig weights so the spectral
  sums are exact BIGINTs (the seasonality detector: the top-power
  harmonic names the dominant period).
- ``corpus_dsir_select`` — DSIR-style importance selection (Xie et
  al. 2023, "Data Selection for Language Models via Importance
  Resampling"): per-token log-ratio of a target unigram LM over the
  raw-corpus LM, per-doc exact BIGINT micro-nat sums, top-k admission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# feat_woe_iv
# --------------------------------------------------------------------------

# Laplace half-count keeps empty cells finite; totals use the SAME
# smoothed masses so each distribution still sums to exactly 1.
_WOE_A = 0.5


@query(
    "feat_woe_iv",
    oracle=f"""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS n_good,
               sum(CASE WHEN o.o_orderstatus = 'F' THEN 0 ELSE 1 END)
                   AS n_bad
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    ),
    tot AS (
        SELECT sum(n_good + {_WOE_A}) AS g, sum(n_bad + {_WOE_A}) AS b
        FROM seg
    )
    SELECT segment,
           CAST(n_good AS BIGINT) AS n_good,
           CAST(n_bad AS BIGINT) AS n_bad,
           round(ln(((n_good + {_WOE_A}) / tot.g)
                    / ((n_bad + {_WOE_A}) / tot.b)), 6) AS woe,
           round(((n_good + {_WOE_A}) / tot.g
                  - (n_bad + {_WOE_A}) / tot.b)
                 * ln(((n_good + {_WOE_A}) / tot.g)
                      / ((n_bad + {_WOE_A}) / tot.b)), 6) AS iv_term
    FROM seg CROSS JOIN tot
    ORDER BY segment
    """,
)
def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value of ``c_mktsegment``
    against order finality (label good = status 'F'): WOE_i =
    ln((g_i/G)/(b_i/B)) on half-count-smoothed masses, and the IV
    contribution (g_i/G - b_i/B)*WOE_i whose sum screens the feature
    (rule of thumb: IV < 0.02 useless, > 0.5 suspicious). Counts are
    exact BIGINTs; the two floats are fixed formulas on them, rounded
    once.

    Scale: one fact-sized groupBy (customer dim joined broadcast-style
    by Catalyst at this dim size), then the totals are a one-row cross
    join over the segment-cardinality aggregate. No window over the
    fact, no float row-sums."""
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer")
    seg = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("n_good"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 0).otherwise(1)
            ).alias("n_bad"),
        )
    )
    tot = seg.agg(
        F.sum(F.col("n_good") + _WOE_A).alias("g"),
        F.sum(F.col("n_bad") + _WOE_A).alias("b"),
    )
    dg = (F.col("n_good") + _WOE_A) / F.col("g")
    db = (F.col("n_bad") + _WOE_A) / F.col("b")
    woe = F.log(dg / db)
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("n_good").cast("long").alias("n_good"),
            F.col("n_bad").cast("long").alias("n_bad"),
            F.round(woe, 6).alias("woe"),
            F.round((dg - db) * woe, 6).alias("iv_term"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# ts_dft_power
# --------------------------------------------------------------------------

_DFT_K = 8
# double repr of 2*pi, written literally so BOTH engines fold the same
# constant instead of each calling its own pi()
_TWO_PI = "6.283185307179586"


@query(
    "ts_dft_power",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               count(*) AS x
        FROM events
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    bounds AS (
        SELECT min(day) AS dmin,
               date_diff('day', min(day), max(day)) + 1 AS n_span,
               count(*) AS d_obs, sum(x) AS s
        FROM daily
    ),
    terms AS (
        SELECT k.k,
               d.x * b.d_obs - b.s AS xc,
               CAST(floor(cos(({_TWO_PI} * (k.k * date_diff(
                        'day', b.dmin, d.day))) / b.n_span)
                    * 1000000.0 + 0.5) AS BIGINT) AS wc,
               CAST(floor(sin(({_TWO_PI} * (k.k * date_diff(
                        'day', b.dmin, d.day))) / b.n_span)
                    * 1000000.0 + 0.5) AS BIGINT) AS ws,
               b.n_span
        FROM daily d
        CROSS JOIN bounds b
        CROSS JOIN (SELECT CAST(range AS BIGINT) + 1 AS k
                    FROM range({_DFT_K})) k
    ),
    spec AS (
        SELECT k, max(n_span) AS n_span,
               sum(xc * wc) AS sc, sum(xc * ws) AS ss
        FROM terms GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k,
           round(CAST(n_span AS DOUBLE) / k, 4) AS period_days,
           round((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
                 / sum(CAST(sc AS DOUBLE) * sc
                       + CAST(ss AS DOUBLE) * ss) OVER (), 6)
               AS power_rel
    FROM spec
    """,
)
def ts_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power spectrum of the daily event-count series at harmonics
    k=1..{_DFT_K}: the seasonality detector (a weekly cycle shows as a
    power spike at period~7). Samples are centered exactly in integers
    (x*D_obs - S), trig weights are micro-rounded ONCE to BIGINT, so
    each spectral sum Σ xc*w is an order-free exact integer; power and
    its normalization are fixed float formulas on those integers.
    Missing days contribute nothing — this is the DFT of the observed
    samples at their true day offsets (the Lomb–Scargle posture for
    irregular sampling), not of a gap-filled grid.

    Scale: the fact collapses to one row per day first (map-side
    partial counts); the spectrum is {_DFT_K} x calendar-sized rows.
    At fleet scale the harmonic fan-out happens per series key —
    never on the raw fact."""
    daily = (
        io.load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    bounds = daily.agg(
        F.min("day").alias("dmin"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("n_span"),
        F.count("*").alias("d_obs"),
        F.sum("x").alias("s"),
    )
    ks = spark.range(_DFT_K).select((F.col("id") + 1).alias("k"))
    angle = (
        F.lit(float(_TWO_PI))
        * (F.col("k") * F.datediff(F.col("day"), F.col("dmin")))
    ) / F.col("n_span")
    terms = (
        daily.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            "n_span",
            (F.col("x") * F.col("d_obs") - F.col("s")).alias("xc"),
            half_up(F.cos(angle), 6).alias("wc"),
            half_up(F.sin(angle), 6).alias("ws"),
        )
    )
    spec = terms.groupBy("k").agg(
        F.max("n_span").alias("n_span"),
        F.sum(F.col("xc") * F.col("wc")).alias("sc"),
        F.sum(F.col("xc") * F.col("ws")).alias("ss"),
    )
    pw = F.col("sc").cast("double") * F.col("sc") + F.col(
        "ss"
    ).cast("double") * F.col("ss")
    return spec.select(
        F.col("k").cast("long").alias("k"),
        F.round(F.col("n_span").cast("double") / F.col("k"), 4).alias(
            "period_days"
        ),
        F.round(pw / F.sum(pw).over(Window.partitionBy()), 6).alias(
            "power_rel"
        ),
    )


# --------------------------------------------------------------------------
# corpus_dsir_select
# --------------------------------------------------------------------------

_DSIR_ALPHA = 0.5  # add-alpha smoothing on both LMs
_DSIR_TOP = 100
# the curated-target stand-in: every 7th doc plays the "trusted
# high-quality corpus" whose distribution we want the selection to
# match (in production this is Wikipedia/books — a corpus you trust,
# small next to the raw crawl)
_DSIR_SEED_MOD = 7


@query(
    "corpus_dsir_select",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok,
               count(*) AS c_raw,
               sum(CASE WHEN doc_id % {_DSIR_SEED_MOD} = 0
                   THEN 1 ELSE 0 END) AS c_tgt
        FROM tok GROUP BY tok
    ),
    tot AS (
        SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt,
               count(*) AS v
        FROM vocab
    ),
    w AS (
        SELECT tok,
               CAST(floor(1000000.0 * ln(
                        ((c_tgt + {_DSIR_ALPHA})
                         / (tot.n_tgt + {_DSIR_ALPHA} * tot.v))
                        / ((c_raw + {_DSIR_ALPHA})
                           / (tot.n_raw + {_DSIR_ALPHA} * tot.v)))
                    + 0.5) AS BIGINT) AS w_micro
        FROM vocab CROSS JOIN tot
    )
    SELECT doc_id, score_micro, n_tokens, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT t.doc_id,
               CAST(sum(w.w_micro) AS BIGINT) AS score_micro,
               CAST(count(*) AS BIGINT) AS n_tokens,
               row_number() OVER (
                   ORDER BY sum(w.w_micro) DESC, t.doc_id) AS rnk
        FROM tok t JOIN w ON t.tok = w.tok
        GROUP BY t.doc_id
    )
    WHERE rnk <= {_DSIR_TOP}
    """,
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023): build a
    target unigram LM from the curated seed subset (doc_id %
    {_DSIR_SEED_MOD} == 0 stands in for the trusted corpus) and a raw
    LM from everything; each token's importance is ln(p_tgt/p_raw)
    under shared add-{_DSIR_ALPHA} smoothing, rounded ONCE to integer
    micro-nats, so each document's score is an order-free exact BIGINT
    sum. The top-{_DSIR_TOP} documents are the ones whose content
    looks most like the target distribution relative to the crawl —
    the importance-resampling admission list.

    Scale: one vocab aggregate (map-side partials) produces a
    |V|-sized weight table — broadcast here, co-partitioned hash join
    at web scale; the doc score is a plain groupBy fold and the
    admission cut is a rank over doc-level rows (doc grain — at fleet
    scale a mergeable quantile sketch supplies the admission threshold,
    or the rank becomes the bucketed two-pass cumsum of
    operators/windows.py:bucketed_rank_cumsum). Pair-free, window-
    free on the token stream."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(
        F.count("*").alias("c_raw"),
        F.sum(
            F.when(F.col("doc_id") % _DSIR_SEED_MOD == 0, 1).otherwise(0)
        ).alias("c_tgt"),
    )
    tot = vocab.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"),
    )
    p_tgt = (F.col("c_tgt") + _DSIR_ALPHA) / (
        F.col("n_tgt") + _DSIR_ALPHA * F.col("v")
    )
    p_raw = (F.col("c_raw") + _DSIR_ALPHA) / (
        F.col("n_raw") + _DSIR_ALPHA * F.col("v")
    )
    w = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            half_up(F.log(p_tgt / p_raw), 6).alias("w_micro"),
        )
    )
    scored = (
        tok.join(F.broadcast(w), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("w_micro").cast("long").alias("score_micro"),
            F.count("*").alias("n_tokens"),
        )
    )
    rw = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= _DSIR_TOP)
        .select(
            "doc_id",
            "score_micro",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
