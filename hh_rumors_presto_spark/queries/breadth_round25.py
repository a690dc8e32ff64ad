"""Round-25 breadth batch: deterministic random walks, the one-pass
decision stump, and corpus n-gram novelty.

- ``graph_random_walk`` — DeepWalk-style truncated walks with the
  repo's md5 determinism: each step picks the neighbor whose
  dst-ordered rank equals hash(node, step) mod degree — walk corpora
  for embedding training, reproducible to the bit (no RNG).
- ``ml_decision_stump`` — boosting's weak learner trained in ONE
  window pass: every split threshold's weighted Gini impurity falls
  out of prefix sums over the sorted distinct feature values (the
  classic scalable split-finding trick), argmin micro-rounded with a
  deterministic tiebreak.
- ``text_ngram_novelty`` — per arrival period, how much of the
  trigram vocabulary is NEW (global first occurrence in that period)
  and the running vocabulary size — the corpus-freshness curve that
  flags a crawl gone stale or duplicative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# graph_random_walk
# --------------------------------------------------------------------------

_RW_MAX_START_CUSTKEY = 20
_RW_STEPS = 3


def _h_sql(node: str, step: int) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({node} AS VARCHAR) || '#'"
        f" || '{step}'), 1, 15)) AS BIGINT)"
    )


def _rw_round_sql(i: int) -> str:
    """Step i: from w{i-1}'s frontier pick the hash-ranked neighbor."""
    return f"""
    w{i} AS (
        SELECT w.start_node, r.dst AS node
        FROM w{i - 1} w
        JOIN deg d ON d.node = w.node
        JOIN ranked r
          ON r.src = w.node
         AND r.rn = {_h_sql("w.node", i)} % d.outdeg + 1
    )"""


@query(
    "graph_random_walk",
    oracle=_GRAPH_SQL
    + f""",
    ranked AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
        FROM edges
    ),
    w0 AS (
        SELECT node AS start_node, node FROM deg
        WHERE node % 2 = 0 AND node // 2 <= {_RW_MAX_START_CUSTKEY}
    ),
    """
    + ",".join(_rw_round_sql(i) for i in range(1, _RW_STEPS + 1))
    + """
    SELECT start_node, CAST(step AS BIGINT) AS step, node
    FROM (
        SELECT start_node, 0 AS step, node FROM w0
        UNION ALL SELECT start_node, 1, node FROM w1
        UNION ALL SELECT start_node, 2, node FROM w2
        UNION ALL SELECT start_node, 3, node FROM w3
    )
    """,
)
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style truncated random walks (3 steps from each seed
    customer) with deterministic pseudo-randomness: the step-s choice
    at node v is the neighbor whose dst-ordered rank equals
    md5(v, s) mod degree(v) — a fixed hash family instead of an RNG,
    so the walk corpus (the input to skip-gram graph embeddings) is
    bit-reproducible and value-hash-verified against the unrolled
    oracle.

    Scale: the neighbor ranking is computed ONCE (keyed window over
    the edge list); each step is one equi-join of the frontier
    (|seeds| rows) against (deg, ranked) on (node, rank) — frontier-
    sized work per step, the standard distributed walk shape."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranked = edges.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("src").orderBy("dst")),
    ).localCheckpoint()
    frontier = (
        deg.filter(
            (F.col("src") % 2 == 0)
            & (F.expr("src DIV 2") <= _RW_MAX_START_CUSTKEY)
        )
        .select(
            F.col("src").alias("start_node"), F.col("src").alias("node")
        )
    )
    out = frontier.select(
        "start_node", F.lit(0).cast("long").alias("step"), "node"
    )
    for step in range(1, _RW_STEPS + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("node").cast("string"),
                        F.lit("#"),
                        F.lit(str(step)),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        frontier = (
            frontier.join(
                deg, frontier.node == deg.src
            )
            .select(
                "start_node",
                "node",
                (h % F.col("outdeg") + 1).alias("pick_rn"),
            )
            .join(
                ranked,
                (F.col("node") == ranked.src)
                & (F.col("pick_rn") == ranked.rn),
            )
            .select(
                "start_node", F.col("dst").alias("node")
            )
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "start_node",
                F.lit(step).cast("long").alias("step"),
                "node",
            )
        )
    return out


# --------------------------------------------------------------------------
# ml_decision_stump
# --------------------------------------------------------------------------


@query(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n, sum(y) AS p FROM pts),
    lvl AS (
        SELECT x, count(*) AS cnt, sum(y) AS pos FROM pts GROUP BY x
    ),
    pre AS (
        SELECT x,
               sum(cnt) OVER (ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS n_l,
               sum(pos) OVER (ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS p_l
        FROM lvl
    ),
    scored AS (
        SELECT pre.x AS threshold, pre.n_l, pre.p_l,
               t.n - pre.n_l AS n_r, t.p - pre.p_l AS p_r,
               CAST(floor(
                   2000000.0 / t.n
                   * (CAST(pre.p_l AS DOUBLE) * (pre.n_l - pre.p_l) / pre.n_l
                      + CAST(t.p - pre.p_l AS DOUBLE)
                        * ((t.n - pre.n_l) - (t.p - pre.p_l))
                        / (t.n - pre.n_l))
                   + 0.5) AS BIGINT) AS gini_micro
        FROM pre CROSS JOIN tot t
        WHERE pre.n_l < t.n
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(n_l AS BIGINT) AS n_left, CAST(p_l AS BIGINT) AS pos_left,
           CAST(n_r AS BIGINT) AS n_right, CAST(p_r AS BIGINT) AS pos_right,
           gini_micro
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY gini_micro, threshold) AS rr
        FROM scored
    )
    WHERE rr = 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump (boosting's weak learner) trained in ONE window
    pass: classify 'is this a purchase event' from the value. For every
    candidate threshold (each distinct feature value), the weighted
    Gini impurity of the x<=t / x>t split falls out of PREFIX SUMS of
    (count, positives) over the sorted distinct values — the classic
    split-finding trick that makes tree training O(sort) instead of
    O(thresholds x rows). Impurity is micro-rounded (argmin ties to
    the smaller threshold), all counts exact BIGINTs.

    Scale: one grouped count by distinct value (map-side partials),
    one ordered window over the |distinct values| table, a ONE-ROW
    total broadcast, a 1-row argmin. The fact is scanned once."""
    pts = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            half_up(F.col("value"), 2).alias("x"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    tot = pts.agg(F.count("*").alias("n"), F.sum("y").alias("p"))
    lvl = pts.groupBy("x").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    wcum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = lvl.select(
        "x",
        F.sum("cnt").over(wcum).alias("n_l"),
        F.sum("pos").over(wcum).alias("p_l"),
    )
    j = pre.crossJoin(F.broadcast(tot)).filter(F.col("n_l") < F.col("n"))
    n_r = F.col("n") - F.col("n_l")
    p_r = F.col("p") - F.col("p_l")
    gini = F.floor(
        2000000.0
        / F.col("n")
        * (
            F.col("p_l").cast("double")
            * (F.col("n_l") - F.col("p_l"))
            / F.col("n_l")
            + p_r.cast("double") * (n_r - p_r) / n_r
        )
        + 0.5
    ).cast("long")
    scored = j.select(
        F.col("x").alias("threshold"),
        "n_l",
        "p_l",
        n_r.alias("n_r"),
        p_r.alias("p_r"),
        gini.alias("gini_micro"),
    )
    return (
        scored.withColumn(
            "rr",
            F.row_number().over(
                Window.orderBy("gini_micro", "threshold")
            ),
        )
        .filter(F.col("rr") == 1)
        .select(
            F.col("threshold").cast("long").alias("threshold"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("p_l").cast("long").alias("pos_left"),
            F.col("n_r").cast("long").alias("n_right"),
            F.col("p_r").cast("long").alias("pos_right"),
            "gini_micro",
        )
    )


# --------------------------------------------------------------------------
# text_ngram_novelty
# --------------------------------------------------------------------------

_NV_PERIOD_DOCS = 100  # docs per arrival period (by doc_id order)


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id // {_NV_PERIOD_DOCS} AS period,
               w1 || ' ' || w2 || ' ' || w3 AS tri
        FROM (
            SELECT doc_id, tok AS w1,
                   lead(tok, 1) OVER w AS w2,
                   lead(tok, 2) OVER w AS w3
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1)
                           AS pos
                FROM documents
            )
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        )
        WHERE w2 IS NOT NULL AND w3 IS NOT NULL
    ),
    first_seen AS (
        SELECT tri, min(period) AS first_period FROM tok GROUP BY tri
    ),
    per AS (
        SELECT t.period,
               count(DISTINCT t.tri) AS types_seen,
               count(DISTINCT CASE WHEN f.first_period = t.period
                              THEN t.tri END) AS new_types
        FROM tok t JOIN first_seen f ON f.tri = t.tri
        GROUP BY t.period
    )
    SELECT CAST(period AS BIGINT) AS period,
           CAST(types_seen AS BIGINT) AS types_seen,
           CAST(new_types AS BIGINT) AS new_types,
           CAST(new_types * 1000000 // types_seen AS BIGINT)
               AS novelty_micro,
           CAST(sum(new_types) OVER (
                    ORDER BY period
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS vocab_cum
    FROM per
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram novelty curve: documents arrive in doc_id order in
    periods of {_NV_PERIOD_DOCS}; per period, how many distinct word
    trigrams appear at all, how many appear for the FIRST time in the
    whole corpus, the integer novelty share, and the cumulative trigram
    vocabulary. A healthy growing crawl keeps novelty high; a stale or
    self-duplicating one collapses toward zero — the freshness gate
    beside text_hapax_ratio (static diversity) and dedup (exact
    repeats).

    Scale: trigrams come from a per-doc keyed window (posexplode +
    lead, no single-partition anything); first-seen is one min
    aggregate over the trigram vocab; the per-period fold and the
    cumulative window run on the |periods| table."""
    toks = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.select(
            F.expr(f"doc_id DIV {_NV_PERIOD_DOCS}").alias("period"),
            F.concat_ws(
                " ",
                "tok",
                F.lead("tok", 1).over(w),
                F.lead("tok", 2).over(w),
            ).alias("tri"),
            F.lead("tok", 2).over(w).alias("_w3"),
            F.lead("tok", 1).over(w).alias("_w2"),
        )
        .filter(F.col("_w2").isNotNull() & F.col("_w3").isNotNull())
        .select("period", "tri")
    )
    first_seen = tri.groupBy("tri").agg(F.min("period").alias("first_period"))
    per = (
        tri.join(first_seen, "tri")
        .groupBy("period")
        .agg(
            F.count_distinct("tri").alias("types_seen"),
            F.count_distinct(
                F.when(
                    F.col("first_period") == F.col("period"), F.col("tri")
                )
            ).alias("new_types"),
        )
    )
    wcum = Window.orderBy("period").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        F.col("period").cast("long").alias("period"),
        F.col("types_seen").cast("long").alias("types_seen"),
        F.col("new_types").cast("long").alias("new_types"),
        F.expr("new_types * 1000000 DIV types_seen")
        .cast("long")
        .alias("novelty_micro"),
        F.sum("new_types").over(wcum).cast("long").alias("vocab_cum"),
    )
