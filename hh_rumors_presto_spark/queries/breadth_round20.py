"""Round-20 breadth batch: delta-method ratio-metric testing, HITS
hubs/authorities, and the Zipf-law corpus fit.

- ``ab_ratio_delta_method`` — the experiment readout for RATIO metrics
  (cents per event): user-level ratio-of-sums with the delta-method
  variance (most business metrics are ratios, and naive per-user
  averaging gets both the estimate and the variance wrong).
- ``graph_hits`` — Kleinberg's HITS on the bipartite order graph
  (customers are hubs, suppliers are authorities), 2 mutual-update
  rounds in BIGINT fixed point with max-normalization — deterministic
  and oracle-unrolled like graph_pagerank.
- ``text_zipf_fit`` — fit the Zipf exponent over the top-100 token
  frequency ranks by OLS on micro-nat log-log points — the classic
  corpus-health diagnostic (natural text slopes ≈ -1; synthetic or
  templated corpora deviate hard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ab_ratio_delta_method
# --------------------------------------------------------------------------


@query(
    "ab_ratio_delta_method",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS x,
               count(*) AS y
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    g AS (
        SELECT variant, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM per_user GROUP BY variant
    ),
    s AS (
        SELECT variant, n,
               CAST(sx AS DOUBLE) / sy AS r,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy AS DOUBLE) / n AS my,
               (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   / (CAST(n AS DOUBLE) * (n - 1)) AS vx,
               (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * (n - 1)) AS vy,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * (n - 1)) AS cxy
        FROM g
    ),
    v AS (
        SELECT variant, n, r,
               (vx + r * r * vy - 2 * r * cxy) / (n * my * my) AS var_r
        FROM s
    )
    SELECT CAST(a.n AS BIGINT) AS n0, CAST(b.n AS BIGINT) AS n1,
           round(a.r, 6) AS ratio0, round(b.r, 6) AS ratio1,
           round((b.r - a.r) / sqrt(a.var_r + b.var_r), 6) AS t_stat,
           abs((b.r - a.r) / sqrt(a.var_r + b.var_r)) > 1.96 AS significant
    FROM v a JOIN v b ON a.variant = 0 AND b.variant = 1
    """,
)
def ab_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method test for a RATIO metric (total cents / total
    events per variant, user-randomized): the ratio-of-sums estimator
    Σx/Σy with variance (vx + r²vy - 2r·cov)/(n·ȳ²) — the Taylor
    linearization every mature experimentation platform applies,
    because users (the randomization unit) contribute unequal
    denominators and the naive within-user average is a different,
    biased estimand. All moments are exact integer sums; the formula
    is a handful of deterministic float ops on them.

    Scale: one per-user fact aggregate, a 2-row moment table, a
    one-row fold — the ab_welch_ttest shape with one extra moment."""
    per_user = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("x"),
            F.count("*").alias("y"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "x", "y")
    )
    g = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    s = g.select(
        "variant",
        "n",
        (F.col("sx").cast("double") / F.col("sy")).alias("r"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            / (nd * (F.col("n") - 1))
        ).alias("vx"),
        (
            (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            / (nd * (F.col("n") - 1))
        ).alias("vy"),
        (
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (nd * (F.col("n") - 1))
        ).alias("cxy"),
    )
    v = s.select(
        "variant",
        "n",
        "r",
        (
            (
                F.col("vx")
                + F.col("r") * F.col("r") * F.col("vy")
                - 2 * F.col("r") * F.col("cxy")
            )
            / (F.col("n") * F.col("my") * F.col("my"))
        ).alias("var_r"),
    )
    a = v.filter(F.col("variant") == 0).alias("a")
    b = v.filter(F.col("variant") == 1).alias("b")
    t = (F.col("b.r") - F.col("a.r")) / F.sqrt(
        F.col("a.var_r") + F.col("b.var_r")
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").cast("long").alias("n0"),
        F.col("b.n").cast("long").alias("n1"),
        F.round(F.col("a.r"), 6).alias("ratio0"),
        F.round(F.col("b.r"), 6).alias("ratio1"),
        F.round(t, 6).alias("t_stat"),
        (F.abs(t) > 1.96).alias("significant"),
    )


# --------------------------------------------------------------------------
# graph_hits
# --------------------------------------------------------------------------

_HITS_SCALE = 1_000_000


def _hits_round_sql(h_prev: str, a_out: str, h_out: str) -> str:
    """One HITS round: authorities from hubs, hubs from the NEW
    authorities, each max-normalized to fixed-point SCALE."""
    return f"""
    {a_out}_raw AS (
        SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
        FROM cedges e JOIN {h_prev} h ON h.node = e.src
        GROUP BY e.dst
    ),
    {a_out} AS (
        SELECT node,
               raw * {_HITS_SCALE} // (SELECT max(raw) FROM {a_out}_raw)
                   AS score
        FROM {a_out}_raw
    ),
    {h_out}_raw AS (
        SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
        FROM cedges e JOIN {a_out} a ON a.node = e.dst
        GROUP BY e.src
    ),
    {h_out} AS (
        SELECT node,
               raw * {_HITS_SCALE} // (SELECT max(raw) FROM {h_out}_raw)
                   AS score
        FROM {h_out}_raw
    )"""


@query(
    "graph_hits",
    oracle=_GRAPH_SQL
    + f""",
    cedges AS (SELECT src, dst FROM edges WHERE src % 2 = 0),
    h0 AS (SELECT DISTINCT src AS node, {_HITS_SCALE} AS score FROM cedges),
    """
    + ",".join(
        _hits_round_sql(f"h{i}", f"a{i + 1}", f"h{i + 1}") for i in range(2)
    )
    + """
    SELECT n.node,
           CASE WHEN n.node % 2 = 0 THEN 'hub' ELSE 'authority' END AS role,
           CAST(coalesce(h.score, a.score) AS BIGINT) AS score_fp
    FROM (SELECT node FROM h2 UNION ALL SELECT node FROM a2) n
    LEFT JOIN h2 h ON h.node = n.node AND n.node % 2 = 0
    LEFT JOIN a2 a ON a.node = n.node AND n.node % 2 = 1
    ORDER BY score_fp DESC, n.node
    LIMIT 100
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's HITS on the bipartite order graph: customers are
    hubs, suppliers authorities; 2 mutual-update rounds (a = Σ h over
    customer→supplier edges, then h = Σ a back) with MAX-normalization
    to BIGINT fixed point (1.0 == 1e6; raw sums stay far inside int64
    headroom even at web-scale degrees) each half-step — integer multiply + floor
    division only, so the scores are bit-identical to the unrolled SQL
    oracle under any partitioning (graph_pagerank's discipline; max
    instead of L2 keeps normalization in exact integers). Top-100 by
    score with role labels.

    Scale: per half-round one edge equi-join + node-sized aggregate +
    a ONE-ROW max broadcast — Pregel-as-joins; the customer→supplier
    direction halves the edge list once up front."""
    cedges = (
        _edges(spark, sf_dir)
        .filter(F.col("src") % 2 == 0)
        .localCheckpoint()
    )
    hubs = (
        cedges.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.lit(_HITS_SCALE).cast("long").alias("score"),
        )
        .localCheckpoint()
    )

    def half_step(scores: DataFrame, join_col: str, out_col: str) -> DataFrame:
        raw = (
            cedges.join(
                F.broadcast(scores), cedges[join_col] == scores.node
            )
            .groupBy(out_col)
            .agg(F.sum("score").cast("long").alias("raw"))
            .select(F.col(out_col).alias("node"), "raw")
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"raw * {_HITS_SCALE} DIV mx").alias("score"),
            )
            .localCheckpoint()
        )

    auth = None
    for _ in range(2):
        auth = half_step(hubs, "src", "dst")
        hubs = half_step(auth, "dst", "src")
    out = hubs.select(
        "node", F.lit("hub").alias("role"), F.col("score").alias("score_fp")
    ).unionByName(
        auth.select(
            "node",
            F.lit("authority").alias("role"),
            F.col("score").alias("score_fp"),
        )
    )
    return (
        out.select("node", "role", F.col("score_fp").cast("long").alias("score_fp"))
        .orderBy(F.col("score_fp").desc(), "node")
        .limit(100)
    )


# --------------------------------------------------------------------------
# text_zipf_fit
# --------------------------------------------------------------------------

_ZIPF_TOP = 100


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM vocab
    ),
    pts AS (
        SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS y
        FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ),
    m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
               AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - sx * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                          / (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)))
                 / n / 1000000.0, 6) AS ln_c_intercept,
           round(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS r2
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-100 token frequency ranks: OLS of
    ln(freq) on ln(rank) — natural language slopes near -1, so a
    corpus whose slope collapses toward 0 (templated/duplicated) or
    dives steep (tiny head dominating) fails the linguistic-health
    gate. The log-log points are micro-nat-rounded INTEGERS, so the
    OLS moment sums are exact BIGINTs (the slope/intercept/r² are a
    few deterministic float ops at the end; the intercept is reported
    back in nats).

    Scale: one vocab aggregate (map-side partials), a top-100 rank
    window on the vocab table, and a one-row moment fold — nothing
    fact-sized past the first aggregate."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    ranked = vocab.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "tok")),
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    pts = ranked.select(
        half_up(F.log(F.col("rnk").cast("double")), 6).alias("x"),
        half_up(F.log(F.col("cnt").cast("double")), 6).alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    slope = num / denx
    return m.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - F.col("sx") * slope)
            / F.col("n")
            / 1000000.0,
            6,
        ).alias("ln_c_intercept"),
        F.round(F.pow(num, F.lit(2)) / (denx * deny), 6).alias("r2"),
    )
