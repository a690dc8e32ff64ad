"""Round-42 breadth batch: token burstiness, autoperiod detection,
and tie-corrected Spearman correlation.

- ``text_burstiness`` — Church–Gale burstiness (variance-to-mean
  ratio of per-document counts) for the top-50 corpus tokens, as
  exact integer rationals: VMR >> 1 marks content words that clump
  into few documents, VMR ~ 1 marks function words spread evenly —
  the vocabulary-statistics signal behind stopword induction and
  topical-term mining.
- ``ts_autoperiod`` — the AUTOPERIOD method (Vlachos et al. 2005):
  DFT power proposes candidate periods, the autocorrelation at
  exactly those lags validates them, best candidate wins — each
  stage in exact integers/micro units. The two-stage design kills
  both failure modes: DFT alone aliases, ACF alone peaks at
  multiples.
- ``eval_spearman_rho`` — tie-corrected Spearman rank correlation
  between two document signals (char length vs token count), as
  Pearson over DOUBLED midranks so every moment is an exact BIGINT
  and ties are handled exactly (the same doubled-midrank idiom as
  eval_auc_roc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# text_burstiness
# --------------------------------------------------------------------------

_BURST_TOP = 50


@query(
    "text_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    n_docs AS (SELECT count(*) AS nd FROM documents),
    per_doc AS (
        SELECT t, doc_id, count(*) AS c FROM tok GROUP BY t, doc_id
    ),
    term AS (
        SELECT t, sum(c) AS s, sum(c * c) AS s2, count(*) AS df
        FROM per_doc GROUP BY t
    ),
    ranked AS (
        SELECT t, s, s2, df,
               row_number() OVER (ORDER BY s DESC, t) AS rk
        FROM term
    )
    SELECT t AS token,
           CAST(s AS BIGINT) AS total,
           CAST(df AS BIGINT) AS doc_freq,
           CAST((2000000 * (nd.nd * s2 - s * s) + nd.nd * s)
               // (2 * nd.nd * s) AS BIGINT) AS vmr_micro,
           CAST(rk AS BIGINT) AS rnk
    FROM ranked CROSS JOIN n_docs nd
    WHERE rk <= {_BURST_TOP}
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness for the top-{_BURST_TOP} tokens:
    VMR = variance/mean of the per-document count (documents without
    the token count as zero), computed as the exact integer rational
    (N*Σc² - S²)/(N*S) in half-up micro units. Function words sit
    near their corpus mean everywhere (VMR~1, Poisson-like); content
    words clump (VMR>>1) — the statistic that induces stopword lists
    from data instead of from a shipped list, and flags topical
    terms for index/mining pipelines.

    Scale: one (token, doc) fold with map-side partials, a token-
    grain moment fold, a partial top-k rank over the vocabulary, and
    a one-row doc-count broadcast. Absent-doc zeros are handled
    algebraically — no dense token x doc grid is ever built."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    n_docs = docs.agg(F.count("*").alias("nd"))
    per_doc = tok.groupBy("t", "doc_id").agg(F.count("*").alias("c"))
    term = per_doc.groupBy("t").agg(
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.count("*").alias("df"),
    )
    wr = Window.orderBy(F.col("s").desc(), "t")
    return (
        term.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _BURST_TOP)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("t").alias("token"),
            F.col("s").cast("long").alias("total"),
            F.col("df").cast("long").alias("doc_freq"),
            # integral `div` (matches DuckDB //): the numerator can
            # pass 2^53 at larger corpora, where floor(a/b) goes 1-off
            F.expr(
                "(2000000 * (nd * s2 - s * s) + nd * s)"
                " div (2 * nd * s)"
            ).alias("vmr_micro"),
            F.col("rk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# ts_autoperiod
# --------------------------------------------------------------------------

_AP_KMIN, _AP_KMAX = 2, 10
_AP_CANDS = 3
_TWO_PI = "6.283185307179586"


@query(
    "ts_autoperiod",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               count(*) AS x
        FROM events GROUP BY 1
    ),
    bounds AS (
        SELECT min(day) AS dmin,
               date_diff('day', min(day), max(day)) + 1 AS n_span,
               count(*) AS d_obs, sum(x) AS s
        FROM daily
    ),
    cen AS (
        SELECT d.day, d.x * b.d_obs - b.s AS xc,
               date_diff('day', b.dmin, d.day) AS t, b.n_span
        FROM daily d CROSS JOIN bounds b
    ),
    spec AS (
        SELECT k.k, max(c.n_span) AS n_span,
               sum(c.xc * CAST(floor(cos(({_TWO_PI} * (k.k * c.t))
                        / c.n_span) * 1000000.0 + 0.5) AS BIGINT))
                   AS sc,
               sum(c.xc * CAST(floor(sin(({_TWO_PI} * (k.k * c.t))
                        / c.n_span) * 1000000.0 + 0.5) AS BIGINT))
                   AS ss
        FROM cen c
        CROSS JOIN (SELECT CAST(range AS BIGINT) + {_AP_KMIN} AS k
                    FROM range({_AP_KMAX - _AP_KMIN + 1})) k
        GROUP BY k.k
    ),
    cand AS (
        SELECT k, n_span,
               CAST(floor(CAST(n_span AS DOUBLE) / k + 0.5) AS BIGINT)
                   AS period,
               row_number() OVER (
                   ORDER BY CAST(sc AS DOUBLE) * sc
                            + CAST(ss AS DOUBLE) * ss DESC, k)
                   AS prank
        FROM spec
    ),
    den AS (SELECT sum(xc * xc) AS d2 FROM cen),
    acf AS (
        SELECT c.k, c.period, c.prank,
               (2000000 * sum(a.xc * b.xc) + max(den.d2))
                   // (2 * max(den.d2)) AS acf_micro
        FROM cand c
        JOIN cen a ON TRUE
        JOIN cen b ON b.day = a.day + to_days(CAST(c.period AS INT))
        CROSS JOIN den
        WHERE c.prank <= {_AP_CANDS}
        GROUP BY c.k, c.period, c.prank
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(period AS BIGINT) AS period_days,
           CAST(prank AS BIGINT) AS power_rank,
           CAST(acf_micro AS BIGINT) AS acf_micro,
           CAST(CASE WHEN row_number() OVER (
                         ORDER BY acf_micro DESC, period) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM acf
    """,
)
def ts_autoperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOPERIOD (Vlachos et al. 2005) on the daily event counts:
    the DFT (harmonics {_AP_KMIN}..{_AP_KMAX}, micro-rounded trig
    weights over exactly-centered integer samples) proposes the
    {_AP_CANDS} highest-power candidate periods; the autocorrelation
    AT those exact lags (exact integer numerator over the shared
    Σxc² denominator) validates them; the candidate with the highest
    validated ACF wins. Two stages because each alone fails: pure
    DFT aliases to near-multiples, pure ACF peaks at every multiple
    of the true period.

    Scale: everything after the daily collapse runs on calendar-
    sized rows; the lag joins are per-candidate equi-joins on
    shifted dates ({_AP_CANDS} x series length, never quadratic)."""
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
    cen = daily.crossJoin(F.broadcast(bounds)).select(
        "day",
        (F.col("x") * F.col("d_obs") - F.col("s")).alias("xc"),
        F.datediff(F.col("day"), F.col("dmin")).alias("t"),
        "n_span",
    ).localCheckpoint()
    ks = spark.range(_AP_KMAX - _AP_KMIN + 1).select(
        (F.col("id") + _AP_KMIN).alias("k")
    )
    angle = (
        F.lit(float(_TWO_PI)) * (F.col("k") * F.col("t"))
    ) / F.col("n_span")
    spec = (
        cen.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.max("n_span").alias("n_span"),
            F.sum(
                F.col("xc")
                * half_up(F.cos(angle), 6)
            ).alias("sc"),
            F.sum(
                F.col("xc")
                * half_up(F.sin(angle), 6)
            ).alias("ss"),
        )
    )
    pw = F.col("sc").cast("double") * F.col("sc") + F.col("ss").cast(
        "double"
    ) * F.col("ss")
    cand = (
        spec.withColumn(
            "period",
            F.floor(
                F.col("n_span").cast("double") / F.col("k") + 0.5
            ).cast("long"),
        )
        .withColumn(
            "prank",
            F.row_number().over(Window.orderBy(pw.desc(), "k")),
        )
        .filter(F.col("prank") <= _AP_CANDS)
    )
    den = cen.agg(F.sum(F.col("xc") * F.col("xc")).alias("d2"))
    a = cen.select(F.col("day").alias("a_day"), F.col("xc").alias("a_xc"))
    b = cen.select(F.col("day").alias("b_day"), F.col("xc").alias("b_xc"))
    acf = (
        cand.crossJoin(a)
        .join(
            b,
            F.col("b_day")
            == F.date_add(F.col("a_day"), F.col("period").cast("int")),
        )
        .crossJoin(F.broadcast(den))
        .groupBy("k", "period", "prank")
        .agg(
            F.sum(F.col("a_xc") * F.col("b_xc")).alias("acf_num"),
            F.max("d2").alias("d2"),
        )
        # exact integral `div` — Spark div and DuckDB // BOTH truncate
        # toward zero, so they match bit-for-bit on negative ACF sums
        # too. floor(a/b) via double division is the trap: the
        # numerator exceeds 2^53 here and diverged from // by one ulp.
        .select(
            "k",
            "period",
            "prank",
            # acf_num / d2 are sums of centered-value PRODUCTS: DuckDB's
            # sum() side is HUGEINT, so both operands are DECIMAL(38,0)-
            # widened here to keep agreement unconditional past 2^63
            # (negative acf_num included — DIV and // both truncate
            # toward zero; pinned in tests/test_numeric_envelope.py)
            F.expr(
                "CAST((2000000 * CAST(acf_num AS DECIMAL(38,0)) + d2)"
                " DIV (2 * CAST(d2 AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("acf_micro"),
        )
    )
    wb = Window.orderBy(F.col("acf_micro").desc(), "period")
    return acf.select(
        F.col("k").cast("long").alias("k"),
        F.col("period").cast("long").alias("period_days"),
        F.col("prank").cast("long").alias("power_rank"),
        "acf_micro",
        F.when(F.row_number().over(wb) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# --------------------------------------------------------------------------
# eval_spearman_rho
# --------------------------------------------------------------------------


@query(
    "eval_spearman_rho",
    oracle="""
    WITH sig AS (
        SELECT doc_id, n_chars AS a,
               length(string_split(text, ' ')) AS b
        FROM documents
    ),
    ra AS (
        SELECT a, 2 * cb + c + 1 AS mr2a FROM (
            SELECT a, count(*) AS c,
                   coalesce(sum(count(*)) OVER (ORDER BY a
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cb
            FROM sig GROUP BY a
        )
    ),
    rb AS (
        SELECT b, 2 * cb + c + 1 AS mr2b FROM (
            SELECT b, count(*) AS c,
                   coalesce(sum(count(*)) OVER (ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cb
            FROM sig GROUP BY b
        )
    ),
    pts AS (
        SELECT ra.mr2a AS x, rb.mr2b AS y
        FROM sig JOIN ra ON ra.a = sig.a JOIN rb ON rb.b = sig.b
    ),
    m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx,
               sum(y * y) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
               AS spearman_rho
    FROM m
    """,
)
def eval_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between two document
    signals (character length vs whitespace token count): Pearson
    over DOUBLED midranks (2*mr = 2*count_below + tied + 1 per
    distinct value — the eval_auc_roc idiom), so every moment is an
    exact BIGINT and the statistic is ONE closed-form expression.
    The monotone-agreement check for any pair of quality signals —
    rho near 1 means one of them is redundant.

    Scale: two distinct-value rank passes (windows over the signal
    domains, not the corpus), two broadcast-sized rank joins, one
    moment fold."""
    sig = io.load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("a"),
        F.size(F.split("text", " ")).alias("b"),
    )

    def _midranks(col: str, out: str):
        wb = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            sig.groupBy(col)
            .agg(F.count("*").alias("c"))
            .select(
                col,
                (
                    2 * F.coalesce(F.sum("c").over(wb), F.lit(0))
                    + F.col("c")
                    + 1
                ).alias(out),
            )
        )

    ra = _midranks("a", "mr2a")
    rb = _midranks("b", "mr2b")
    pts = sig.join(F.broadcast(ra), "a").join(
        F.broadcast(rb), "b"
    ).select(F.col("mr2a").alias("x"), F.col("mr2b").alias("y"))
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    dy = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / F.sqrt(dx * dy), 6).alias("spearman_rho"),
    )
