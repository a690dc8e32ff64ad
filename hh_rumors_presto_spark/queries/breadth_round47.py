"""Round-47 breadth batch: Lorenz-curve deciles, a day-of-week
profile, and pseudo-relevance-feedback query expansion.

- ``agg_lorenz_deciles`` — the Lorenz curve sampled at population
  deciles: what share of total customer revenue the bottom d/10 of
  customers carry, all in exact integers (the curve whose area gap
  IS agg_gini — this key draws the picture, that one states the
  number).
- ``ts_dow_profile`` — the weekday mix with a chi-square
  uniformity gate: per epoch-anchored weekday (no locale/dayofweek
  engine traps), observed counts vs the uniform expectation and the
  exact-rational chi-square contribution — the weekly-seasonality
  quick check beside ts_dft_power's spectral view.
- ``text_prf_expansion`` — Rocchio-style pseudo-relevance feedback:
  for the corpus' top query terms, retrieve the tf-idf top-5
  documents and mine the top expansion terms from exactly those
  docs — the classic query-expansion loop (retrieve, assume the
  head is relevant, re-weight) as three deterministic ranked folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_lorenz_deciles
# --------------------------------------------------------------------------


@query(
    "agg_lorenz_deciles",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rk,
               sum(cents) OVER (ORDER BY cents, o_custkey) AS cum,
               count(*) OVER () AS n,
               sum(cents) OVER () AS total
        FROM cust
    ),
    dec AS (SELECT CAST(range AS BIGINT) + 1 AS d FROM range(10))
    SELECT CAST(dec.d AS BIGINT) AS decile,
           CAST(r.rk AS BIGINT) AS n_customers,
           CAST(r.cum AS BIGINT) AS cum_cents,
           CAST((2000000 * r.cum + r.total) // (2 * r.total)
               AS BIGINT) AS share_micro
    FROM dec JOIN ranked r ON r.rk = (dec.d * r.n + 9) // 10
    """,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve of customer revenue at population deciles:
    customers sorted poorest-first (cents ASC, custkey tiebreak),
    and at each decile cut ceil(d*n/10) the cumulative revenue share
    in half-up integral micro units — "the bottom 50% of customers
    carry X% of revenue". The bow of this curve below the diagonal
    is exactly what agg_gini integrates; this key ships the curve
    itself, which is what the revenue-concentration review actually
    looks at.

    Scale: one customer-grain fold, then the bucketed two-pass
    cumsum (operators/windows.py:bucketed_rank_cumsum) — range-bucket
    the sort key, rank/cumsum per bucket in parallel, prefix-sum the
    32-row bucket table, broadcast the offsets back. Bit-identical to
    the single-partition window (pure integer arithmetic) but with no
    data-scaled SinglePartition exchange: customers can be 10^8+ rows
    and the plan still spreads over every executor. A 10-row decile
    join finishes it."""
    cust = (
        io.load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                half_up(F.col("o_totalprice"), 2)
            ).alias("cents")
        )
    )
    ranked = bucketed_rank_cumsum(
        cust, order_key="cents", tiebreak="o_custkey", value_col="cents"
    ).select("cents", "rk", "cum", "n", "total")
    dec = spark.range(10).select((F.col("id") + 1).alias("decile"))
    return (
        dec.join(
            ranked,
            F.col("rk")
            == F.floor((F.col("decile") * F.col("n") + 9) / 10),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("rk").cast("long").alias("n_customers"),
            F.col("cum").cast("long").alias("cum_cents"),
            # numerator widened to DECIMAL(38,0): cum is a CENTS sum, so
            # 2000000*cum passes 2^63 near sf0.4 global revenue; DuckDB's
            # sum() side is already HUGEINT — the widening makes the
            # agreement unconditional (tests/test_numeric_envelope.py
            # proves the widened form bit-exact, any sign)
            F.expr(
                "CAST((2000000 * CAST(cum AS DECIMAL(38,0)) + total)"
                " DIV (2 * total) AS BIGINT)"
            ).alias("share_micro"),
        )
    )


# --------------------------------------------------------------------------
# ts_dow_profile
# --------------------------------------------------------------------------


@query(
    "ts_dow_profile",
    oracle="""
    WITH dow AS (
        SELECT date_diff('day', DATE '1970-01-05',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7
                   AS dow,
               count(*) AS n
        FROM events
        GROUP BY 1
    )
    SELECT dow, n, share_micro,
           chi2_term_micro,
           CAST(sum(chi2_term_micro) OVER () AS BIGINT)
               AS chi2_total_micro
    FROM (
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(n AS BIGINT) AS n,
               CAST((2000000 * n + sum(n) OVER ())
                   // (2 * sum(n) OVER ()) AS BIGINT) AS share_micro,
               CAST((2000000 * (7 * n - sum(n) OVER ())
                             * (7 * n - sum(n) OVER ())
                + 7 * sum(n) OVER ())
                   // (14 * sum(n) OVER ()) AS BIGINT)
                   AS chi2_term_micro
        FROM dow
    )
    """,
)
def ts_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday activity profile with a chi-square uniformity gate:
    weekdays are epoch-anchored integers (days since Monday
    1970-01-05, mod 7 — immune to locale and dayofweek-convention
    engine differences), each day's share ships in integral micro
    units, and the chi-square term (7n - N)^2 / (7N) is an exact
    rational per weekday with the 6-df total on every row. chi2 >
    12.6 at 6 df says the week has a real shape — the cheap
    companion to ts_dft_power's period-7 spectral peak.

    Scale: one groupBy to 7 rows; the windows run over those 7."""
    ev = io.load_events(spark, sf_dir)
    dow = ev.groupBy(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-05")
            )
            % 7
        ).alias("dow")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy()
    return (
        dow.withColumn("total", F.sum("n").over(wt))
        # exact micro chi2 term: dev^2 is BIGINT, one integral div —
        # so the total is an order-free integer window sum, never a
        # float sum over rows
        .withColumn(
            "chi2_term_micro",
            F.expr(
                "(2000000 * (7 * n - total) * (7 * n - total)"
                " + 7 * total) div (14 * total)"
            ),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("n").cast("long").alias("n"),
            F.expr("(2000000 * n + total) div (2 * total)").alias(
                "share_micro"
            ),
            "chi2_term_micro",
            F.sum("chi2_term_micro")
            .over(wt)
            .cast("long")
            .alias("chi2_total_micro"),
        )
    )


# --------------------------------------------------------------------------
# text_prf_expansion
# --------------------------------------------------------------------------

_PRF_QUERIES = 3
_PRF_DOCS = 5
_PRF_TERMS = 3


@query(
    "text_prf_expansion",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t
    ),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    nd AS (SELECT count(*) AS n FROM documents),
    qterms AS (
        SELECT t AS q, df AS q_df,
               row_number() OVER (ORDER BY df DESC, t) AS q_rank
        FROM df
        QUALIFY q_rank <= {_PRF_QUERIES}
    ),
    hits AS (
        SELECT q.q, q.q_rank, f.doc_id,
               CAST(floor(1000000.0 * f.tf
                          * ln(CAST(nd.n AS DOUBLE) / q.q_df) + 0.5)
                    AS BIGINT) AS score_micro,
               row_number() OVER (
                   PARTITION BY q.q
                   ORDER BY f.tf * ln(CAST(nd.n AS DOUBLE) / q.q_df)
                            DESC, f.doc_id) AS doc_rank
        FROM qterms q
        JOIN tf f ON f.t = q.q
        CROSS JOIN nd
        QUALIFY doc_rank <= {_PRF_DOCS}
    ),
    expansion AS (
        SELECT h.q, h.q_rank, f.t AS term,
               CAST(floor(1000000.0 * sum(f.tf)
                          * ln(CAST(max(nd.n) AS DOUBLE) / max(d.df))
                          + 0.5) AS BIGINT) AS exp_micro
        FROM hits h
        JOIN tf f ON f.doc_id = h.doc_id AND f.t <> h.q
        JOIN df d ON d.t = f.t
        CROSS JOIN nd
        GROUP BY h.q, h.q_rank, f.t
    )
    SELECT q AS query_term, term AS expansion_term,
           CAST(exp_micro AS BIGINT) AS exp_micro,
           CAST(term_rank AS BIGINT) AS term_rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY q
                   ORDER BY exp_micro DESC, term) AS term_rank
        FROM expansion
    )
    WHERE term_rank <= {_PRF_TERMS}
    """,
)
def text_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the Rocchio loop):
    the {_PRF_QUERIES} highest-df corpus terms play the queries, each
    retrieves its tf-idf top-{_PRF_DOCS} documents, those documents
    are ASSUMED relevant, and the top-{_PRF_TERMS} co-occurring terms
    by summed tf-idf (query term excluded) become the expansion —
    the retrieve/assume/re-weight cycle behind every classic search
    engine's "did you also mean". All counts exact; each score is
    one micro-rounded fixed-shape formula; every rank carries a
    total order.

    Scale: tf/df are one token pass each (map-side partials); the
    query side is {_PRF_QUERIES} rows broadcast; doc retrieval and
    term mining are group-limited keyed ranks over the postings of
    just the retrieved docs."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    tf = tf.localCheckpoint()
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n"))
    wq = Window.orderBy(F.col("df").desc(), "t")
    qterms = (
        df.withColumn("q_rank", F.row_number().over(wq))
        .filter(F.col("q_rank") <= _PRF_QUERIES)
        .select(
            F.col("t").alias("q"),
            F.col("df").alias("q_df"),
            "q_rank",
        )
    )
    wd = Window.partitionBy("q").orderBy(
        F.col("raw_score").desc(), "doc_id"
    )
    hits = (
        tf.join(F.broadcast(qterms), tf.t == qterms.q)
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "raw_score",
            F.col("tf")
            * F.log(F.col("n").cast("double") / F.col("q_df")),
        )
        .withColumn("doc_rank", F.row_number().over(wd))
        .filter(F.col("doc_rank") <= _PRF_DOCS)
        .select("q", "doc_id")
    )
    expansion = (
        hits.join(
            tf.select(
                F.col("doc_id").alias("hd"),
                F.col("t").alias("term"),
                F.col("tf").alias("etf"),
            ),
            (F.col("doc_id") == F.col("hd"))
            & (F.col("term") != F.col("q")),
        )
        .join(
            F.broadcast(
                df.select(F.col("t").alias("dt"), F.col("df").alias("edf"))
            ),
            F.col("term") == F.col("dt"),
        )
        .crossJoin(F.broadcast(nd))
        .groupBy("q", "term")
        .agg(
            F.floor(
                1000000.0
                * F.sum("etf")
                * F.log(
                    F.max("n").cast("double") / F.max("edf")
                )
                + 0.5
            )
            .cast("long")
            .alias("exp_micro")
        )
    )
    wt = Window.partitionBy("q").orderBy(
        F.col("exp_micro").desc(), "term"
    )
    return (
        expansion.withColumn("term_rank", F.row_number().over(wt))
        .filter(F.col("term_rank") <= _PRF_TERMS)
        .select(
            F.col("q").alias("query_term"),
            F.col("term").alias("expansion_term"),
            "exp_micro",
            F.col("term_rank").cast("long").alias("term_rank"),
        )
    )
