"""Round-15 breadth batch: label-propagation communities, Markov
next-event transitions, and the Mann–Kendall trend test.

- ``graph_label_prop`` — 3 synchronous rounds of label propagation
  (Raghavan et al. 2007) over the bipartite order graph with the
  deterministic (count DESC, label ASC) vote — community detection as
  pure equi-join + argmax rounds, oracle-unrolled in SQL.
- ``recs_covisit_next`` — the first-order Markov next-event model from
  per-user event streams: consecutive transitions within a 30-minute
  gap, exact integer transition probabilities, per-state ranking. The
  "users who did X next did Y" recommender primitive.
- ``ts_mann_kendall`` — the Mann–Kendall trend significance test per
  event-type daily series: the exact-integer S statistic, tie-corrected
  variance, and z-score — the hypothesis-test companion to
  ``ts_theil_sen``'s slope estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

_LP_ROUNDS = 3


def _lp_round_sql(prev: str, out: str) -> str:
    """One unrolled synchronous LPA round as SQL CTE text."""
    return f"""
    {out}_cnt AS (
        SELECT e.src AS node, l.lbl, count(*) AS c
        FROM edges e JOIN {prev} l ON l.node = e.dst
        GROUP BY e.src, l.lbl
    ),
    {out} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER (
                       PARTITION BY node ORDER BY c DESC, lbl) AS r
            FROM {out}_cnt
        ) WHERE r = 1
    )"""


@query(
    "graph_label_prop",
    oracle=_GRAPH_SQL
    + """,
    l0 AS (SELECT node, node AS lbl FROM deg),
    """
    + ",".join(_lp_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LP_ROUNDS))
    + f"""
    SELECT l.node, CAST(l.lbl AS BIGINT) AS label,
           CAST(count(*) OVER (PARTITION BY l.lbl) AS BIGINT) AS comm_size
    FROM l{_LP_ROUNDS} l
    """,
)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for 3 fixed
    rounds over the bipartite customer↔supplier graph: every node votes
    the most frequent label among its neighbours, ties broken by the
    SMALLEST label — fully deterministic, so the usually-heuristic LPA
    becomes value-hash-verifiable (the oracle unrolls the same 3 rounds
    as SQL CTEs). Labels start as node ids; communities are whatever
    labels survive, sized by a keyed window.

    Scale: each round is ONE edge equi-join + ONE (node, label) count +
    ONE group-limited argmax window — the Pregel-as-joins shape shared
    with graph_pagerank; labels are node-sized, never edge-sized.
    localCheckpoint per round truncates the iterative lineage. Fixed
    round count bounds the work regardless of graph size."""
    # r11 (guide §2.4, the graph_pagerank/graph_coreness discipline):
    # loop-invariant edges pre-partitioned by src and PERSISTED (hash
    # metadata kept), node-sized labels broadcast into each round's join
    # — the per-round (src, lbl) vote count and the argmax window both
    # run on the preserved src partitioning, zero edge-scale exchanges
    # per round (was one groupBy exchange each).
    from hh_rumors_presto_spark.session import default_parallelism

    edges = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "src")
        .persist()
    )
    labels = (
        edges.groupBy("src")
        .agg(F.count("*").alias("_d"))
        .select(F.col("src").alias("node"), F.col("src").alias("lbl"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
    for _ in range(_LP_ROUNDS):
        cnt = (
            edges.join(F.broadcast(labels), edges.dst == labels.node)
            .groupBy(edges.src, "lbl")
            .agg(F.count("*").alias("c"))
            .select(F.col("src").alias("node"), "lbl", "c")
        )
        labels = (
            cnt.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("node", "lbl")
            .localCheckpoint()
        )
    edges.unpersist()
    wsize = Window.partitionBy("lbl")
    return labels.select(
        "node",
        F.col("lbl").cast("long").alias("label"),
        F.count("*").over(wsize).cast("long").alias("comm_size"),
    )


# --------------------------------------------------------------------------
# recs_covisit_next
# --------------------------------------------------------------------------

_CV_GAP_US = 1800 * 1_000_000  # 30-minute session gap


@query(
    "recs_covisit_next",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER w AS nxt,
               lead(us) OVER w - us AS gap_us
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    trans AS (
        SELECT cur, nxt, count(*) AS cnt
        FROM seq
        WHERE nxt IS NOT NULL AND gap_us <= {_CV_GAP_US}
        GROUP BY cur, nxt
    )
    SELECT cur, nxt, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // sum(cnt) OVER (PARTITION BY cur)
                AS BIGINT) AS prob_micro,
           CAST(row_number() OVER (
                    PARTITION BY cur ORDER BY cnt DESC, nxt)
                AS BIGINT) AS rnk
    FROM trans
    """,
)
def recs_covisit_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event model: consecutive per-user
    transitions (ordered by timestamp with event_id tiebreak) that occur
    within a 30-minute gap, counted into a transition matrix with exact
    integer micro-probabilities (cnt*1e6 DIV row total) and a
    deterministic per-state ranking — the sequential "what happens
    after X" recommender / journey-analysis primitive.

    Scale: one keyed window over the user-partitioned stream (lead is
    computed per user partition, no global sort), then a |types|^2
    aggregate — the matrix is type-cardinality-sized, so the row-total
    window and ranking run on a tiny table. The fact is read once."""
    ev = io.load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        (F.lead("us").over(w) - F.col("us")).alias("gap_us"),
    )
    trans = (
        seq.filter(
            F.col("nxt").isNotNull() & (F.col("gap_us") <= _CV_GAP_US)
        )
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    wtot = Window.partitionBy("cur")
    wrnk = Window.partitionBy("cur").orderBy(F.col("cnt").desc(), "nxt")
    return (
        trans.select(
            "cur",
            "nxt",
            F.col("cnt").cast("long").alias("cnt"),
            F.sum("cnt").over(wtot).alias("_tot"),
            F.row_number().over(wrnk).cast("long").alias("rnk"),
        )
        .withColumn(
            "prob_micro", F.expr("cnt * 1000000 DIV _tot").cast("long")
        )
        .select("cur", "nxt", "cnt", "prob_micro", "rnk")
    )


# --------------------------------------------------------------------------
# ts_mann_kendall
# --------------------------------------------------------------------------


@query(
    "ts_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    s AS (
        SELECT a.event_type,
               sum(CASE WHEN b.cents > a.cents THEN 1
                        WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY a.event_type
    ),
    n AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type),
    ties AS (
        SELECT event_type,
               coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (
            SELECT event_type, cents, count(*) AS t
            FROM daily GROUP BY event_type, cents
        ) WHERE t > 1
        GROUP BY event_type
    ),
    mk AS (
        SELECT n.event_type, n.n_days, s.s_stat,
               n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                   - coalesce(t.tie_term, 0) AS var18
        FROM n
        JOIN s ON s.event_type = n.event_type
        LEFT JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(var18 AS BIGINT) AS var18,
           round(CASE
               WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
               WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
               ELSE 0.0 END, 6) AS z_score,
           CASE
               WHEN s_stat > 0 AND (s_stat - 1) / sqrt(var18 / 18.0) > 1.96
                   THEN 'increasing'
               WHEN s_stat < 0 AND (s_stat + 1) / sqrt(var18 / 18.0) < -1.96
                   THEN 'decreasing'
               ELSE 'no_trend' END AS trend
    FROM mk
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per event-type daily series: the S
    statistic (Σ sign of all pairwise forward differences — an EXACT
    integer), the tie-corrected variance n(n-1)(2n+5) - Σ t(t-1)(2t+5)
    kept as the integer var18 (=18·Var), and the continuity-corrected
    z-score with the 5% two-sided verdict. The nonparametric "is there
    a monotone trend at all" gate that pairs with ts_theil_sen's
    "how steep" answer.

    Scale: same posture as ts_theil_sen — the fact collapses to
    per-(type, day) partials first; the pair join is blocked per group
    with pair mass Σ days², bounded by the calendar. All test inputs
    are exact integers; the only float is the final z division."""
    daily = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
        .localCheckpoint()
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    mk = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("var18"),
        )
    )
    sd = F.sqrt(F.col("var18") / 18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return mk.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("var18").cast("long").alias("var18"),
        F.round(z, 6).alias("z_score"),
        F.when(
            (F.col("s_stat") > 0) & ((F.col("s_stat") - 1) / sd > 1.96),
            F.lit("increasing"),
        )
        .when(
            (F.col("s_stat") < 0) & ((F.col("s_stat") + 1) / sd < -1.96),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )
