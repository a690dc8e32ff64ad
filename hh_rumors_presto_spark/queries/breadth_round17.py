"""Round-17 breadth batch: personalized PageRank, a streaming
leaderboard on a persisted-state fold, and generalized-ESD
outlier peeling.

- ``graph_ppr_seeded`` — personalized PageRank (random walk with
  restart to a seed set): the recommendation / relevance-propagation
  primitive, on ``graph_pagerank``'s fixed-point walk (graph._rank_walk)
  with the seeds as the restart set.
- ``stream_topk_merge`` — a continuously-maintained per-key top-3
  leaderboard folded by ``fold_stream_state``: each micro-batch merges
  with the stored top-k and is cut back to the top-k (insert-only
  streams make this exact), oracle = the from-scratch batch top-k.
- ``ts_esd_outliers`` — 3 rounds of generalized-ESD outlier peeling
  (Rosner 1983) per series: argmax |deviation| by EXACT integer
  comparison |n*c - s|, remove, recompute moments, repeat — the
  iterative anomaly sweep whose every pick is value-hash-pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import (
    _DAMP_DEN,
    _DAMP_NUM,
    _GRAPH_SQL,
    _SCALE,
    _rank_walk,
)
from hh_rumors_presto_spark.registry import query
from hh_rumors_presto_spark.streaming import (
    fold_stream_state,
    read_events_stream,
)

# --------------------------------------------------------------------------
# graph_ppr_seeded
# --------------------------------------------------------------------------

_PPR_MAX_SEED_CUSTKEY = 50


def _ppr_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT d.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN (15 * {_SCALE}) // (100 * (SELECT k FROM kk))
                    ELSE 0 END
               + coalesce(c.contrib, 0) AS rank_fp
        FROM deg d
        LEFT JOIN seeds sd ON sd.node = d.node
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(((r.rank_fp * {_DAMP_NUM}) // {_DAMP_DEN})
                            // dg.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg dg ON dg.node = e.src
            GROUP BY e.dst
        ) c ON c.node = d.node
    )"""


@query(
    "graph_ppr_seeded",
    oracle=_GRAPH_SQL
    + f""",
    seeds AS (
        SELECT node FROM deg
        WHERE node % 2 = 0 AND node // 2 <= {_PPR_MAX_SEED_CUSTKEY}
    ),
    kk AS (SELECT count(*) AS k FROM seeds),
    p0 AS (
        SELECT d.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN {_SCALE} // (SELECT k FROM kk)
                    ELSE 0 END AS rank_fp
        FROM deg d LEFT JOIN seeds sd ON sd.node = d.node
    ),
    """
    + ",".join(_ppr_round_sql(f"p{i}", f"p{i + 1}") for i in range(3))
    + """
    SELECT p.node,
           sd.node IS NOT NULL AS is_seed,
           CAST(p.rank_fp AS BIGINT) AS rank_fp
    FROM p3 p LEFT JOIN seeds sd ON sd.node = p.node
    ORDER BY p.rank_fp DESC, p.node
    LIMIT 100
    """,
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart): mass teleports
    back to a SEED SET (customers 1..50) instead of uniformly, so the
    stationary ranks measure relevance TO those seeds — the classic
    graph-recommendation primitive (pins-to-boards, who-to-follow).
    It is graph._rank_walk with the seeds as the restart set: 3 rounds,
    bit-identical to the unrolled-SQL oracle under any partitioning.
    Sparse restart means unreached nodes carry rank 0 and the vector
    compresses at web scale."""
    seeds = (F.col("node") % 2 == 0) & (
        F.expr("node DIV 2") <= F.lit(_PPR_MAX_SEED_CUSTKEY)
    )
    return _rank_walk(spark, sf_dir, seeds).select(
        "node", F.col("restart").alias("is_seed"), "rank_fp"
    )


# --------------------------------------------------------------------------
# stream_topk_merge
# --------------------------------------------------------------------------

_STK_K = 3


@query(
    "stream_topk_merge",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, event_id, cents, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY cents DESC, event_id) AS rnk
        FROM ev
    )
    WHERE rnk <= {_STK_K}
    """,
)
def stream_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-key top-3 leaderboard over the event
    stream, folded by ``fold_stream_state`` (never memory-sink rows):
    each micro-batch merges with the stored top-3 and is re-ranked —
    k + |batch| rows per key per refresh. Insert-only streams make this
    EXACT (a new event can displace but never resurrect), so the final
    state equals the from-scratch batch top-3 the oracle computes. Two
    separate stream runs feed disjoint halves, proving the state really
    is merged.

    Scale: per refresh the merge touches O(k·|keys| + |batch|) rows;
    state is a keyed parquet rewrite that would be a partition-scoped
    MERGE on a lakehouse table."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), "event_id"
    )

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _STK_K)
            .drop("rnk")
        )

    halves = [
        read_events_stream(spark, sf_dir)
        .filter((F.col("event_id") % 2 == half) & F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            half_up(F.col("value"), 2).alias("cents"),
        )
        for half in (0, 1)
    ]
    return fold_stream_state(
        halves, topk, n_rows=io.table_num_rows(sf_dir, "events")
    ).select(
        "event_type",
        "event_id",
        "cents",
        F.row_number().over(w).cast("long").alias("rnk"),
    )


# --------------------------------------------------------------------------
# ts_esd_outliers
# --------------------------------------------------------------------------

_ESD_ROUNDS = 3

_ESD_DAILY_SQL = """
    WITH d0 AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    )
"""


def _esd_round_sql(i: int) -> str:
    """Round i: argmax |n*c - s| over d{i-1}, then peel it off."""
    p, o, d = f"d{i - 1}", f"o{i}", f"d{i}"
    return f"""
    m{i} AS (
        SELECT event_type, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS s2
        FROM {p} GROUP BY event_type
    ),
    {o} AS (
        SELECT event_type, day, cents, n, s, s2 FROM (
            SELECT x.event_type, x.day, x.cents, m.n, m.s, m.s2,
                   row_number() OVER (
                       PARTITION BY x.event_type
                       ORDER BY abs(m.n * x.cents - m.s) DESC, x.day) AS rr
            FROM {p} x JOIN m{i} m ON m.event_type = x.event_type
            WHERE m.n > 4 AND m.n * m.s2 > m.s * m.s
        ) WHERE rr = 1
    ),
    {d} AS (
        SELECT x.* FROM {p} x
        LEFT JOIN {o} oo
          ON oo.event_type = x.event_type AND oo.day = x.day
        WHERE oo.day IS NULL
    )"""


@query(
    "ts_esd_outliers",
    oracle=_ESD_DAILY_SQL
    + ","
    + ",".join(_esd_round_sql(i) for i in range(1, _ESD_ROUNDS + 1))
    + f"""
    SELECT event_type, CAST(peel_round AS BIGINT) AS peel_round, day,
           CAST(cents AS BIGINT) AS cents,
           round(abs(n * cents - s)
                 / (n * sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS r_stat
    FROM (
        {" UNION ALL ".join(f"SELECT *, {i} AS peel_round FROM o{i}" for i in range(1, _ESD_ROUNDS + 1))}
    )
    """,
)
def ts_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD outlier peeling (Rosner 1983), 3 rounds per
    event-type daily series: each round removes the single most
    deviant day and recomputes the moments — the iterative sweep that
    finds masked outliers a one-shot z-score misses (win_anomaly_zscore
    is the one-shot sibling). The argmax is decided by the EXACT
    integer |n*cents - s| (no float compare anywhere in the selection;
    ties to the earliest day), so every peel is deterministic; the
    reported R statistic is the usual studentized deviation.

    Scale: the fact collapses to per-(type, day) partials once; each
    round is one tiny moments aggregate joined back (group-limited
    argmax window) and one anti-join on the day table — all work after
    the first aggregate is calendar-sized, not event-sized."""
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
    outliers = []
    cur = daily
    wpick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("n") * F.col("cents") - F.col("s")).desc(), "day"
    )
    for rnd in range(1, _ESD_ROUNDS + 1):
        m = cur.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        picked = (
            cur.join(F.broadcast(m), "event_type")
            .filter(
                (F.col("n") > 4)
                & (F.col("n") * F.col("s2") > F.col("s") * F.col("s"))
            )
            .withColumn("rr", F.row_number().over(wpick))
            .filter(F.col("rr") == 1)
            .select(
                "event_type",
                "day",
                "cents",
                "n",
                "s",
                "s2",
                F.lit(rnd).alias("peel_round"),
            )
            .localCheckpoint()
        )
        outliers.append(picked)
        cur = cur.join(
            picked.select("event_type", "day"), ["event_type", "day"], "left_anti"
        ).localCheckpoint()
    allo = outliers[0]
    for o in outliers[1:]:
        allo = allo.unionByName(o)
    sd = F.sqrt(
        (F.col("n").cast("double") * F.col("s2") - F.col("s").cast("double") * F.col("s"))
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return allo.select(
        "event_type",
        F.col("peel_round").cast("long").alias("peel_round"),
        "day",
        F.col("cents").cast("long").alias("cents"),
        F.round(
            F.abs(F.col("n") * F.col("cents") - F.col("s")) / (F.col("n") * sd),
            6,
        ).alias("r_stat"),
    )
