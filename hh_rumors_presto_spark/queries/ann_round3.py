"""IVF-cell-blocked kNN graph: the scale path for ``emb_knn_graph``.

- ``emb_knn_graph_ann`` — same output contract as the exact key
  (vec_a, vec_b, cos_sim; per-node top-k by cosine), built from
  IVF-cell candidates: C = ceil(sqrt(n)) deterministic centroids (the
  first C vectors — at deployment scale a sampled k-means; the
  dataflow is identical), each vector multi-assigned to its top-P
  cells, candidate pairs form only where BOTH label and cell match,
  and a per-(label, cell) participant cap bounds any skewed block.
  With C ~ sqrt(n) both the assignment scan (n x C) and the blocked
  pair work (C*L blocks of ~P*n/(C*L) rows) are O(n^1.5) — against
  the exact key's O(n^2/L), which grows quadratically because labels
  are low-cardinality. Fully deterministic, so it carries a complete
  value-hash oracle.
- ``emb_knn_graph_ann_recall`` — the measured-quality twin (the
  pattern of sim_ivfpq_recall / dedup_minhash_recall): per-label
  recall@k of the ANN edge set against the exact key's truth edges,
  at TWO probe settings (P=2 and P=4), so the probe knob's effect is
  itself an oracle-checked number. The fixture embeddings are
  near-random (same-label mean cosine 0.0016 vs 0.0003 cross-label),
  which bounds ANY geometric blocker; clustered production embeddings
  would recall far higher. The P=4 rung IS the construction key's
  setting, so the production path's recall is itself the pinned
  number. At corpus scale this key runs on a query SAMPLE (the exact
  side is the quadratic); the construction key is the production path
  unchanged.

Every cosine here is the bit-parity kernel of
``operators/cosblocks.py`` on the Spark side and
``functions.vectors.cosine_sql`` in the oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions import cosine_sql
from hh_rumors_presto_spark.operators.cosblocks import (
    block_topk_fn,
    cosine_chunks,
    rank_desc,
    stack,
)
from hh_rumors_presto_spark.registry import query

_ANN_K = 3  # must match breadth_round5._KNN_K: same output contract
_ANN_PROBES = 4  # construction-key probe count (= the ladder's top rung)
_ANN_LADDER = (2, 4)  # recall-key probe ladder
_ANN_CAP = 512  # per-(label, cell) participant cap — skew insurance


def _ann_ctes(probes: int, tag: str = "") -> str:
    """DuckDB CTE chain building the ANN edge list at ``probes``
    multi-assignments; ``tag`` suffixes CTE names so two ladders can
    coexist in one statement."""
    return f"""
    cents{tag} AS (
        SELECT vec_id AS cent_id, embedding AS c_emb
        FROM embeddings, nrow WHERE vec_id < CAST(ceil(sqrt(n)) AS BIGINT)
    ),
    assigned{tag} AS (
        SELECT vec_id, label, embedding, cell FROM (
            SELECT vec_id, label, embedding, cell,
                   row_number() OVER (
                       PARTITION BY label, cell ORDER BY vec_id
                   ) AS slot
            FROM (
                SELECT e.vec_id, e.label, e.embedding, c.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql("e.embedding", "c.c_emb")}
                                    DESC NULLS LAST, c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN cents{tag} c
            ) WHERE rn <= {probes}
        ) WHERE slot <= {_ANN_CAP}
    ),
    scored{tag} AS (
        SELECT vec_a, vec_b, max(cos_sim) AS cos_sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {cosine_sql("a.embedding", "b.embedding")} AS cos_sim
            FROM assigned{tag} a JOIN assigned{tag} b
              ON a.cell = b.cell AND a.label = b.label
             AND a.vec_id <> b.vec_id
        ) GROUP BY vec_a, vec_b
    ),
    ann{tag} AS (
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_a
                ORDER BY cos_sim DESC NULLS LAST, vec_b) AS rn
            FROM scored{tag}
        ) WHERE rn <= {_ANN_K}
    )"""


_TRUTH_CTE = f"""
    truth AS (
        SELECT vec_a, vec_b, la AS label FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS la,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql("a.embedding", "b.embedding")}
                                DESC NULLS LAST, b.vec_id
                   ) AS rn
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ) WHERE rn <= {_ANN_K}
    )"""


def _top_cells_udf(cent_rows: list, probes: int):
    """Vectorized (Arrow) coarse-quantizer scorer: per input vector,
    the top-``probes`` centroid ids by (cosine DESC NULLS LAST,
    cent_id ASC) — exactly the oracle's row_number order.

    The centroid matrix rides the closure (driver-collected once:
    C = ceil(sqrt(n)) rows — the bounded model-state fetch every
    k-means-style operator makes; ~16 MB at n=10^9)."""
    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(cent_rows)  # (cent_id asc) for deterministic ties
    cent_ids = np.array([c[0] for c in cent_rows], dtype="int64")
    cmat = stack(c[1] for c in cent_rows) if cent_rows else None

    @pandas_udf("array<bigint>")
    def top_cells(embs: pd.Series) -> pd.Series:
        if len(embs) == 0 or cmat is None:
            return pd.Series([[] for _ in range(len(embs))])
        out = []
        for _, cos, invalid in cosine_chunks(stack(embs), cmat):
            for row, inv in zip(cos, invalid):
                out.append(cent_ids[rank_desc(row, inv, cent_ids)[:probes]].tolist())
        return pd.Series(out)

    return top_cells


def _ann_model(emb: DataFrame) -> list:
    """Driver-collected coarse-quantizer model: the first
    C = ceil(sqrt(n)) vectors as (cent_id, embedding) rows, sorted by
    id. One count job + one bounded collect; callers evaluating several
    probe settings (the recall ladder) compute this ONCE and pass it to
    every :func:`_ann_edges` call — the model does not depend on
    ``probes``."""
    n = emb.count()  # bounded scalar fetch: sizes the coarse quantizer
    n_cents = math.ceil(math.sqrt(n)) if n else 0
    return [
        (r[0], list(r[1]))
        for r in emb.filter(F.col("vec_id") < n_cents)
        .select("vec_id", "embedding")
        .collect()
    ]


def _ann_edges(
    spark: SparkSession,
    sf_dir: str,
    probes: int,
    cent_rows: list | None = None,
) -> DataFrame:
    """Spark-side ANN edge list: Arrow-UDF top-``probes`` cell
    multi-assignment against driver-broadcast centroids -> capped
    (label, cell) blocks -> per-block vectorized all-pairs cosine with
    block-local top-k (applyInPandas) -> cross-block dedup -> per-node
    top-k.

    Shuffle ledger: one hash shuffle for the (label, cell) cap window
    (THIN rows — ids only), one AQE-broadcastable join pulling
    embeddings into blocks, one (label, cell) shuffle of n*P
    embedding-carrying rows into applyInPandas, one dedup agg and one
    keyed top-k window over <= n*P*k THIN edge rows. Neither the n x C
    assignment fan-out nor the Σblock² pair stream ever crosses an
    exchange or the Arrow boundary — pairs are born and reduced inside
    the block worker. Preconditions (same exposure as the exact key's
    zip_with fold): uniform embedding dims per table, no NULL
    elements; all-zero vectors are fine (NULL cosine, ranked last in
    both engines and in the workers)."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    if cent_rows is None:
        cent_rows = _ann_model(emb)
    top_cells = _top_cells_udf(cent_rows, probes)
    wcap = Window.partitionBy("label", "cell").orderBy("vec_id")
    capped = (
        emb.select(
            "vec_id",
            "label",
            F.explode(top_cells(F.col("embedding"))).alias("cell"),
        )
        .withColumn("slot", F.row_number().over(wcap))
        .filter(F.col("slot") <= _ANN_CAP)
        .select("vec_id", "label", "cell")
    )
    blocks = capped.join(emb.select("vec_id", "embedding"), "vec_id")
    partial = blocks.groupBy("label", "cell").applyInPandas(
        block_topk_fn(_ANN_K),
        "vec_a long, vec_b long, cos_sim double",
    )
    # a pair sharing 2+ cells appears once per shared cell with the
    # SAME cosine; max() is the dedup (values identical, NULLs stay NULL)
    scored = partial.groupBy("vec_a", "vec_b").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    wk = Window.partitionBy("vec_a").orderBy(
        F.col("cos_sim").desc_nulls_last(), "vec_b"
    )
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _ANN_K)
        .select("vec_a", "vec_b", "cos_sim")
    )


@query(
    "emb_knn_graph_ann",
    oracle=f"""
    WITH nrow AS (SELECT count(*) AS n FROM embeddings),
    {_ann_ctes(_ANN_PROBES)}
    SELECT vec_a, vec_b, cos_sim FROM ann
    """,
)
def emb_knn_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-blocked kNN graph (k=3 [_ANN_K], P=4 probes
    [_ANN_PROBES], C=ceil(sqrt(n)) centroids, per-block cap 512
    [_ANN_CAP]) — the routed scale path for emb_knn_graph (exact key:
    breadth_round5.py emb_knn_graph). Same output contract; candidate
    pairs only where label AND cell agree, so cost is O(n^1.5) against
    the exact key's O(n^2/L)."""
    return _ann_edges(spark, sf_dir, _ANN_PROBES)


@query(
    "emb_knn_graph_ann_recall",
    oracle=f"""
    WITH nrow AS (SELECT count(*) AS n FROM embeddings),
    {_ann_ctes(_ANN_LADDER[0], "_p2")},
    {_ann_ctes(_ANN_LADDER[1], "_p4")},
    {_TRUTH_CTE}
    SELECT method, label, truth_edges, n_hits,
           round(CAST(n_hits AS DOUBLE) / truth_edges, 6) + 0.0 AS recall
    FROM (
        SELECT 'probe{_ANN_LADDER[0]}' AS method, t.label,
               count(*) AS truth_edges,
               CAST(count(a.vec_b) AS BIGINT) AS n_hits
        FROM truth t LEFT JOIN ann_p2 a
          ON a.vec_a = t.vec_a AND a.vec_b = t.vec_b
        GROUP BY t.label
        UNION ALL
        SELECT 'probe{_ANN_LADDER[1]}', t.label, count(*),
               CAST(count(a.vec_b) AS BIGINT)
        FROM truth t LEFT JOIN ann_p4 a
          ON a.vec_a = t.vec_a AND a.vec_b = t.vec_b
        GROUP BY t.label
    )
    """,
)
def emb_knn_graph_ann_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured per-label recall@3 (_ANN_K) of the cell-blocked kNN
    graph against the exact label-blocked truth, at probes (2, 4)
    (_ANN_LADDER) — the
    probe-ladder quality pin for emb_knn_graph_ann (pattern of
    sim_ivfpq_recall). The exact side is quadratic; at corpus scale
    this key runs on a node sample to monitor the index, while the
    construction key is the production path unchanged."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    # the exact truth side is emb_knn_graph's per-label block worker;
    # emit_label keeps the per-label grouping column
    truth = (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            block_topk_fn(_ANN_K, emit_label=True),
            "vec_a long, vec_b long, cos_sim double, label int",
        )
        .select("vec_a", "vec_b", "label")
    )
    # one count + one centroid collect shared by every ladder rung —
    # the model is probe-independent
    cent_rows = _ann_model(emb)
    parts = []
    for p in _ANN_LADDER:
        ann = _ann_edges(spark, sf_dir, p, cent_rows).select(
            "vec_a", "vec_b", F.lit(1).alias("hit")
        )
        parts.append(
            truth.join(ann, ["vec_a", "vec_b"], "left")
            .groupBy("label")
            .agg(
                F.count("*").alias("truth_edges"),
                F.count("hit").alias("n_hits"),
            )
            .select(
                F.lit(f"probe{p}").alias("method"),
                "label",
                "truth_edges",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("truth_edges"),
                    6,
                ).alias("recall"),
            )
        )
    return parts[0].unionAll(parts[1])
