"""Round-49 breadth batch: global transitivity, the zstd codec
contract, and TOST equivalence testing.

- ``graph_transitivity`` — the global clustering (transitivity)
  ratio 3T/W: closed triangles over open wedges, both as exact
  integers (wedges from the degree fold, triangles from the
  canonical wedge join) — the one-number cohesion summary whose
  per-node counterpart is graph_clustering_coeff.
- ``sink_zstd_codec`` — parquet with compression=zstd round-tripped
  and proven lossless, with the codec asserted from the physical
  file names — the storage-efficiency contract (zstd is the default
  answer to "our parquet bill doubled").
- ``ab_tost_equivalence`` — two one-sided tests: the launch-review
  gate that PROVES absence of regression (a non-significant t-test
  never does — absence of evidence isn't evidence of absence; TOST
  bounds the effect inside ±margin at 95%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# graph_transitivity
# --------------------------------------------------------------------------


@query(
    "graph_transitivity",
    oracle=_GRAPH_SQL
    + """,
    fwd AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    tri AS (
        SELECT count(*) AS t
        FROM fwd e1
        JOIN fwd e2 ON e2.a = e1.b
        JOIN fwd e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wedges AS (
        SELECT sum(outdeg * (outdeg - 1)) // 2 AS w FROM deg
    )
    SELECT CAST(w.w AS BIGINT) AS n_wedges,
           CAST(t.t AS BIGINT) AS n_triangles,
           CAST(CASE WHEN w.w > 0
                     THEN (2000000 * 3 * t.t + w.w) // (2 * w.w)
                END AS BIGINT) AS transitivity_micro
    FROM wedges w CROSS JOIN tri t
    """,
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity of the bipartite order graph: 3T/W where
    W = Σ d(d-1)/2 open wedges (one degree fold) and T = closed
    triangles via the canonical a<b forward-edge wedge join. For a
    strictly bipartite graph T is 0 by construction — which is
    itself the check: transitivity_micro > 0 here would mean the
    edge builder leaked a same-side edge. On one-mode graphs the
    same plan yields the classic cohesion ratio.

    Scale: W is one aggregation over the node-degree table; T is
    the Σ deg²-bounded triangle join (graph_triangles' shape); the
    ratio is one integral micro division."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    wedges = deg.agg(
        F.expr(
            "sum(outdeg * (outdeg - 1)) div 2"
        ).alias("w")
    )
    fwd = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    e2 = fwd.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = fwd.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        fwd.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count("*").alias("t"))
    )
    return (
        wedges.crossJoin(F.broadcast(tri))
        .select(
            F.col("w").cast("long").alias("n_wedges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.expr(
                "CASE WHEN w > 0"
                " THEN (2000000 * 3 * t + w) div (2 * w) END"
            ).alias("transitivity_micro"),
        )
    )


# --------------------------------------------------------------------------
# sink_zstd_codec
# --------------------------------------------------------------------------


@query(
    "sink_zstd_codec",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_zstd_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zstd-compressed parquet round trip: write orders with
    compression=zstd, assert from the PHYSICAL file names (via
    _metadata.file_path) that the codec actually took effect —
    '.zstd.parquet' suffixes, not silently snappy — and prove the
    re-read content lossless against the source census. The storage
    knob that routinely halves a large parquet footprint for ~equal
    scan speed.

    Scale: codec choice is a write-side setting; the proof is one
    re-read census with map-side partials."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out_dir = io.scoped_tmp_dir(spark, "zstd", sf_dir)
    (
        orders.write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out_dir)
    )
    back = spark.read.schema(orders.schema).parquet(out_dir)
    # codec assertion: every data file carries the zstd suffix
    bad = (
        back.select(F.col("_metadata.file_path").alias("fp"))
        .distinct()
        .filter(~F.col("fp").endswith(".zstd.parquet"))
        .count()
    )
    if bad:
        raise AssertionError(
            f"{bad} parquet files missing the zstd codec suffix"
        )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(
            half_up(F.col("o_totalprice"), 2)
        )
        .cast("long")
        .alias("cents_sum"),
    )


# --------------------------------------------------------------------------
# ab_tost_equivalence
# --------------------------------------------------------------------------

# equivalence margin: ±2% of a dollar on the mean event value
_TOST_MARGIN = 0.02
_TOST_Z = 1.6448536269514722  # one-sided 95% normal critical value


@query(
    "ab_tost_equivalence",
    oracle=f"""
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT arm, count(*) AS n, sum(cents) AS s,
               sum(cents * cents) AS ss
        FROM arms GROUP BY arm
    ),
    w AS (
        SELECT max(CASE WHEN arm = 1 THEN n END) AS n_t,
               max(CASE WHEN arm = 1 THEN s END) AS s_t,
               max(CASE WHEN arm = 1 THEN ss END) AS ss_t,
               max(CASE WHEN arm = 0 THEN n END) AS n_c,
               max(CASE WHEN arm = 0 THEN s END) AS s_c,
               max(CASE WHEN arm = 0 THEN ss END) AS ss_c
        FROM m
    ),
    calc AS (
        SELECT n_t, n_c,
               CAST(s_t AS DOUBLE) / n_t / 100.0
               - CAST(s_c AS DOUBLE) / n_c / 100.0 AS diff,
               sqrt(((CAST(ss_t AS DOUBLE) * n_t
                      - CAST(s_t AS DOUBLE) * s_t)
                     / (CAST(n_t AS DOUBLE) * n_t * (n_t - 1))
                     + (CAST(ss_c AS DOUBLE) * n_c
                        - CAST(s_c AS DOUBLE) * s_c)
                       / (CAST(n_c AS DOUBLE) * n_c * (n_c - 1)))
                    / 10000.0) AS se
        FROM w
    )
    SELECT CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_control,
           round(diff, 6) AS diff_dollars,
           round(se, 6) AS se_dollars,
           round((diff + {_TOST_MARGIN}) / se, 4) AS t_lower,
           round(({_TOST_MARGIN} - diff) / se, 4) AS t_upper,
           CAST(CASE WHEN (diff + {_TOST_MARGIN}) / se > {_TOST_Z}
                      AND ({_TOST_MARGIN} - diff) / se > {_TOST_Z}
                THEN 1 ELSE 0 END AS BIGINT) AS equivalent
    FROM calc
    """,
)
def ab_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test on mean event value between the
    hash-split arms: both one-sided statistics (diff vs -margin,
    +margin vs diff, margin = ±${_TOST_MARGIN}) must clear the
    one-sided 95% critical value for the arms to be declared
    EQUIVALENT — the launch gate that proves a refactor didn't move
    the metric, which a merely non-significant Welch t can never do.
    Moments are exact BIGINT cent sums; diff/SE are fixed-shape
    float formulas on them (Welch SE, dollars).

    Scale: one fact pass to two moment rows — map-side partials all
    the way; the verdict is arithmetic on one row."""
    arms = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 2).alias("arm"),
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    m = arms.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s_t"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss_t"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s_c"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss_c"),
    )
    diff = (
        F.col("s_t").cast("double") / F.col("n_t") / 100.0
        - F.col("s_c").cast("double") / F.col("n_c") / 100.0
    )
    se = F.sqrt(
        (
            (
                F.col("ss_t").cast("double") * F.col("n_t")
                - F.col("s_t").cast("double") * F.col("s_t")
            )
            / (
                F.col("n_t").cast("double")
                * F.col("n_t")
                * (F.col("n_t") - 1)
            )
            + (
                F.col("ss_c").cast("double") * F.col("n_c")
                - F.col("s_c").cast("double") * F.col("s_c")
            )
            / (
                F.col("n_c").cast("double")
                * F.col("n_c")
                * (F.col("n_c") - 1)
            )
        )
        / 10000.0
    )
    t_lo = (diff + _TOST_MARGIN) / se
    t_hi = (F.lit(_TOST_MARGIN) - diff) / se
    return w.select(
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_control"),
        F.round(diff, 6).alias("diff_dollars"),
        F.round(se, 6).alias("se_dollars"),
        F.round(t_lo, 4).alias("t_lower"),
        F.round(t_hi, 4).alias("t_upper"),
        F.when((t_lo > _TOST_Z) & (t_hi > _TOST_Z), 1)
        .otherwise(0)
        .cast("long")
        .alias("equivalent"),
    )
