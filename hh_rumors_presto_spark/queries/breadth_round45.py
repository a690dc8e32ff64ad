"""Round-45 breadth batch: edge truss support, ID-continuity audit,
and Kneser–Ney smoothing.

- ``graph_truss_support`` — per-EDGE triangle support over the
  near-dup graph, censused: the k-truss building block (an edge in a
  k-truss sits in >= k-2 triangles), which separates clique-like
  duplicate families from chain-like false-positive runs one level
  finer than per-node triangle counts.
- ``dq_id_continuity`` — the dropped-batch audit: per event type,
  the ID span vs the row count (missing = span+1-n) and the density
  — a sudden density drop in one type's ID range means an upstream
  producer lost a batch.
- ``text_lm_kneser_ney`` — interpolated Kneser–Ney bigram
  probabilities with absolute discount D=0.75: the continuation-
  count insight ("how many contexts has this word followed", not
  "how often") that made KN the standard n-gram smoothing — exact
  integer count plumbing, one micro-rounded probability per bigram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.extensions_dedup import (
    _jaccard_pairs_sql,
)
from hh_rumors_presto_spark.queries.graph import _neardup_tri_frames
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# graph_truss_support
# --------------------------------------------------------------------------


@query(
    "graph_truss_support",
    oracle=_jaccard_pairs_sql()
    + """,
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_edges AS (
        SELECT a AS x, b AS y FROM tri
        UNION ALL SELECT b, c FROM tri
        UNION ALL SELECT a, c FROM tri
    ),
    support AS (
        SELECT e.a, e.b, count(t.x) AS sup
        FROM e LEFT JOIN tri_edges t ON t.x = e.a AND t.y = e.b
        GROUP BY e.a, e.b
    )
    SELECT CAST(sup AS BIGINT) AS support,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM support GROUP BY sup
    """,
)
def graph_truss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge truss support over the near-dup pair graph: for every
    canonical a<b edge, the number of triangles it participates in,
    censused by support level. An edge with support >= k-2 survives
    into the k-truss — so this histogram IS the truss decomposition's
    first pass, and the k-truss is the standard community core
    that's robust where plain connected components chain together
    false positives. Edges in no triangle (support 0) are kept via
    the left join — they are exactly the bridge-like pairs a
    dedup reviewer should eyeball.

    Scale: triangles enumerate once via the canonical forward-edge
    wedge join (the graph_triangles machinery, Σ deg² bounded); the
    per-edge fold and census are plain aggregations."""
    e, tri = _neardup_tri_frames(spark, sf_dir)
    tri_edges = (
        tri.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionAll(
            tri.select(F.col("b").alias("x"), F.col("c").alias("y"))
        )
        .unionAll(
            tri.select(F.col("a").alias("x"), F.col("c").alias("y"))
        )
    )
    te = tri_edges.groupBy("x", "y").agg(F.count("*").alias("sup"))
    support = (
        e.join(
            te,
            (F.col("a") == F.col("x")) & (F.col("b") == F.col("y")),
            "left",
        )
        .select(F.coalesce("sup", F.lit(0)).alias("sup"))
    )
    return support.groupBy(
        F.col("sup").cast("long").alias("support")
    ).agg(F.count("*").alias("n_edges"))


# --------------------------------------------------------------------------
# dq_id_continuity
# --------------------------------------------------------------------------


@query(
    "dq_id_continuity",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS id_min,
           CAST(max(event_id) AS BIGINT) AS id_max,
           CAST(max(event_id) - min(event_id) + 1 - count(*)
                AS BIGINT) AS missing_in_span,
           (2000000 * count(*)
            + (max(event_id) - min(event_id) + 1))
               // (2 * (max(event_id) - min(event_id) + 1))
               AS density_micro
    FROM events GROUP BY event_type
    """,
)
def dq_id_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-continuity audit per event type: how many IDs inside each
    type's [min, max] span are NOT present (IDs interleave across
    types, so per-type gaps are expected — the signal is the density
    trend, not its absolute level: a type whose density drops
    between snapshots lost a batch upstream). Counts and spans are
    exact BIGINTs; density is one integral micro division.

    Scale: one groupBy with min/max/count partials — the cheapest
    possible completeness probe, worth running on every ingest."""
    ev = io.load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("id_min"),
            F.max("event_id").alias("id_max"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("id_min").cast("long").alias("id_min"),
            F.col("id_max").cast("long").alias("id_max"),
            (F.col("id_max") - F.col("id_min") + 1 - F.col("n"))
            .cast("long")
            .alias("missing_in_span"),
            F.expr(
                "(2000000 * n + (id_max - id_min + 1))"
                " div (2 * (id_max - id_min + 1))"
            ).alias("density_micro"),
        )
    )


# --------------------------------------------------------------------------
# text_lm_kneser_ney
# --------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOP = 20


@query(
    "text_lm_kneser_ney",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t, row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS idx
        FROM (
            SELECT doc_id, u.t, u.pos
            FROM documents,
                 LATERAL (SELECT unnest(string_split(text, ' ')) AS t,
                          generate_subscripts(
                              string_split(text, ' '), 1) AS pos) u
        )
    ),
    bg AS (
        SELECT a.t AS v, b.t AS w, count(*) AS c
        FROM tok a JOIN tok b
          ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
        GROUP BY a.t, b.t
    ),
    ctx AS (
        SELECT v, sum(c) AS cv, count(*) AS n1p_fwd
        FROM bg GROUP BY v
    ),
    cont AS (SELECT w, count(*) AS n1p_bwd FROM bg GROUP BY w),
    tot AS (SELECT count(*) AS n_bi FROM bg),
    scored AS (
        SELECT bg.v, bg.w, bg.c,
               CAST(floor(1000000.0 * (
                    greatest(bg.c - {_KN_D}, 0.0) / ctx.cv
                    + ({_KN_D} * ctx.n1p_fwd / ctx.cv)
                      * (CAST(cont.n1p_bwd AS DOUBLE) / tot.n_bi))
                    + 0.5) AS BIGINT) AS p_kn_micro
        FROM bg
        JOIN ctx ON ctx.v = bg.v
        JOIN cont ON cont.w = bg.w
        CROSS JOIN tot
    )
    SELECT v, w, CAST(c AS BIGINT) AS c,
           CAST(p_kn_micro AS BIGINT) AS p_kn_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (ORDER BY c DESC, v, w) AS rnk
        FROM scored
    ) WHERE rnk <= {_KN_TOP}
    """,
)
def text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (D={_KN_D}) for
    the {_KN_TOP} most frequent bigrams: the discounted bigram mass
    max(c-D,0)/c(v) interpolates with the CONTINUATION unigram
    N1+(.w)/N1+(..) — "how many contexts does w follow" rather than
    "how often does w occur" — which is why KN beats Stupid Backoff
    (text_lm_bigram_backoff) on unseen contexts: 'Francisco' is
    frequent but follows almost nothing except 'San'. All counts are
    exact BIGINTs; each probability is one fixed-shape float formula
    micro-rounded once.

    Scale: bigrams form via the per-doc adjacent-position self-join
    (keyed by doc, Σ doc_len bounded); the context/continuation
    tables are vocabulary-sized and broadcastable; the head cut is a
    partial top-k."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("idx", "t")
    )
    a = tok.select("doc_id", "idx", F.col("t").alias("v"))
    b = tok.select(
        F.col("doc_id").alias("bd"),
        F.col("idx").alias("bidx"),
        F.col("t").alias("w"),
    )
    bg = (
        a.join(
            b,
            (F.col("doc_id") == F.col("bd"))
            & (F.col("bidx") == F.col("idx") + 1),
        )
        .groupBy("v", "w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    ctx = bg.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count("*").alias("n1p_fwd")
    )
    cont = bg.groupBy("w").agg(F.count("*").alias("n1p_bwd"))
    tot = bg.agg(F.count("*").alias("n_bi"))
    scored = (
        bg.join(
            F.broadcast(ctx.withColumnRenamed("v", "cv_v")),
            F.col("v") == F.col("cv_v"),
        )
        .join(
            F.broadcast(cont.withColumnRenamed("w", "ct_w")),
            F.col("w") == F.col("ct_w"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "w",
            "c",
            half_up(
                F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("cv")
                + (_KN_D * F.col("n1p_fwd") / F.col("cv"))
                * (F.col("n1p_bwd").cast("double") / F.col("n_bi")),
                6,
            ).alias("p_kn_micro"),
        )
    )
    rw = Window.orderBy(F.col("c").desc(), "v", "w")
    return (
        scored.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= _KN_TOP)
        .select(
            "v", "w",
            F.col("c").cast("long").alias("c"),
            "p_kn_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
