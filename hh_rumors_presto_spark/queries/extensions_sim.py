"""Similarity search + multimodal columns over the ``embeddings`` fixture
(BASELINE.json mandate).

Vector math is pure column expressions (functions/vectors.py): F.zip_with /
F.aggregate over array<double>, sequential left-to-right accumulation —
bit-identical to DuckDB's list_inner_product on DOUBLE[], so brute-force
cosine results are value-hash-verified, not rows-only.

Scale path: brute-force top-k broadcasts the (small) query set and never
shuffles the corpus; the LSH variant buckets by random-hyperplane signature
so candidate generation is an equi-join. IVF at 100 TB = the same shape with
k-means centroids as buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions import (
    cosine_similarity,
    cosine_sql,
    dot,
    l2_norm,
)
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.cosblocks import (
    block_thresh_pairs_fn,
    cosine_chunks,
    dots,
    stack,
)
from hh_rumors_presto_spark.registry import query

N_QUERIES = 10
TOP_K = 5
_COS_QE = cosine_sql("q.embedding", "e.embedding")


@query(
    "sim_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {_COS_QE} AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS_QE} DESC, e.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    WHERE rn <= {TOP_K}
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the corpus,
    per-query top-k window. The corpus is scanned once, never shuffled; the
    per-query window runs on the small post-score side.

    Norms are hoisted to ONE column per vector BEFORE the pair join (the
    dedup_embedding / emb_knn_graph trick): each corpus row meets
    N_QUERIES queries, so an inline cosine re-folds both norms per PAIR —
    3 array aggregates per pair instead of 1 dot fold. Hoisting cut the
    round-5 drift (1.53x band) back under the band; IEEE order per value
    is unchanged (sqrt per side, then multiply), so the oracle stays
    bit-identical under VERIFY_EXACT_FLOATS=1."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_emb"), F.col("embedding"))
                / F.nullif(F.col("q_nrm") * F.col("nrm"), F.lit(0.0))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@query(
    "dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_sql("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_sql("a.embedding", "b.embedding")} > 0.3
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the cheap stand-in
    for an LSH/IVF bucket): pairs only form within a block, so cost is
    sum(block²), not n².

    The pairs are born inside a per-label worker
    (operators/cosblocks.py ``block_thresh_pairs_fn``), so one thin
    label shuffle is the only exchange; the >0.3 filter replays the
    engines' NULL-drop / NaN-keep comparison rules. Null labels never
    join on equality, so they are filtered out."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            block_thresh_pairs_fn(0.3),
            "vec_a long, vec_b long, cos_sim double",
        )
    )


N_PLANES = 8


def _hyperplanes(dim: int = 64) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, generated once on the
    driver and shipped as literals — no state, no files)."""
    rng = np.random.RandomState(7)
    return rng.standard_normal((N_PLANES, dim)).round(6).tolist()


def _ann_lsh_oracle() -> str:
    """Full value-hash oracle for the LSH recall set: the hyperplanes are
    deterministic literals and both engines' sequential double folds are
    bit-identical (same parity machinery as sim_topk), so even though the
    RESULT is approximate w.r.t. true nearest neighbors, it is exactly
    reproducible — and therefore value-verified, not rows-only."""
    planes = _hyperplanes()
    sign_bits = ", ".join(
        "CASE WHEN list_inner_product(CAST(embedding[1:64] AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in plane)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for plane in planes
    )
    cos = cosine_sql("q.q_emb", "s.embedding")
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding, concat({sign_bits}) AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, bucket
        FROM sig WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT q.query_id, s.vec_id AS neighbor_id, {cos} AS cos_sim
        FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM cand
    )
    WHERE rn <= {TOP_K}
    """


@query("sim_ann_lsh", oracle=_ann_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: signature = sign bits of 8 projections
    -> equi-join on (signature) buckets -> exact cosine re-rank inside the
    bucket, top-k per query. Approximate w.r.t. true nearest neighbors
    (recall < 1; sim_topk is the exact baseline) but exactly reproducible:
    deterministic hyperplane literals + bit-identical double folds give it
    a full value-hash oracle.

    At 100 TB: signatures are one cheap projection pass; candidate
    generation is a bucket equi-join (shuffle on 8-bit keys), and only
    bucket-mates pay the exact-distance cost.
    """
    emb = io.load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()
    sig = F.concat_ws(
        "",
        *[
            F.when(
                dot(
                    F.slice("embedding", 1, 64),
                    F.array(*[F.lit(x) for x in plane]),
                )
                >= 0,
                "1",
            ).otherwise("0")
            for plane in planes
        ],
    )
    with_sig = emb.select("vec_id", "embedding", sig.alias("bucket"))
    queries = with_sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"),
    )
    cand = with_sig.join(F.broadcast(queries), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("q_emb"), F.col("embedding")).alias(
                "cos_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@query(
    "multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[]))) AS emb_norm,
           len(string_split(d.text, ' ')) AS n_tokens
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row: text metadata + vector stats side by side — the
    canonical documents⋈embeddings co-location. At scale both sides would be
    bucketed on doc_id so this join needs no shuffle at all."""
    docs = io.load_table(spark, sf_dir, "documents")
    emb = io.load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        l2_norm(F.col("embedding")).alias("emb_norm"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )


N_CENTROIDS = 16


@query(
    "sim_ivf",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS c_emb
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cosine_sql("e.embedding", "c.c_emb")} DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id AS cell FROM scored WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cell
        FROM assigned WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               {cosine_sql("q.q_emb", "a.embedding")} AS cos_sim
        FROM assigned a JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (the first
    {N_CENTROIDS} vectors as centroids) assigns every vector to its
    nearest-centroid cell; queries search ONLY their own cell (nprobe=1)
    with exact cosine re-rank. Unlike the hyperplane LSH key, the whole
    path is deterministic, so it carries a full value-hash oracle.

    Scale shape: centroid scoring is a broadcast of {N_CENTROIDS} rows over
    one corpus scan; cell assignment is a per-row argmax (max_by struct, no
    window over the corpus); candidate generation is an equi-join on cell.
    At 100 TB the centroids come from a sampled k-means and nprobe grows —
    the dataflow is unchanged."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    cs = cosine_similarity(F.col("embedding"), F.col("c_emb"))
    assigned = (
        emb.join(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cs.alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by(
                "cent_id", F.struct(F.col("cs"), (-F.col("cent_id")).alias("nc"))
            ).alias("cell"),
        )
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cell",
    )
    cand = assigned.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


_OUTLIER_K = 5


@query(
    "emb_outlier",
    oracle=f"""
    WITH flat AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS val
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos,
               CAST(round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
                          / count(*), 6) + 0.0 AS DOUBLE) AS c
        FROM flat GROUP BY label, pos
    ),
    carr AS (SELECT label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY label),
    scored AS (
        SELECT e.vec_id, e.label,
               list_inner_product(CAST(e.embedding AS DOUBLE[]), ca.cvec)
               / nullif(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_inner_product(ca.cvec, ca.cvec)), 0.0) AS cos
        FROM embeddings e JOIN carr ca ON e.label = ca.label
    )
    SELECT vec_id, label, round(cos, 6) + 0.0 AS cos_centroid,
           rn <= {_OUTLIER_K} AS is_outlier
    FROM (
        -- NULLS LAST explicitly: a zero vector has NULL cosine, and the
        -- engines' default NULL sort order differs (Spark NULLS FIRST
        -- asc, DuckDB NULLS LAST) — fuzz seed 0's zero vectors trip it
        SELECT *, row_number() OVER (
            PARTITION BY label ORDER BY cos NULLS LAST, vec_id
        ) AS rn
        FROM scored
    )
    """,
)
def emb_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier mining: cosine of each vector to its
    label centroid; the {_OUTLIER_K} least-similar per label are flagged —
    the standard mislabeled/garbage-embedding sweep before training.

    Centroids come from exact DECIMAL per-dimension sums (order-
    insensitive under any partitioning — emb_mean_pool's construction,
    including its explicit float->DOUBLE widening before the decimal
    cast: DuckDB's direct FLOAT->DECIMAL goes through float32 arithmetic
    and loses digits), rounded to 6dp with the signed-zero fold on BOTH
    engines, then shipped as a k-row broadcast (same driver-scale
    footprint as the k-means centroid set). Per-vector cosine uses the
    sequential-fold dot — bit-identical to DuckDB's list_inner_product;
    zero vectors yield NULL cosine, ordered NULLS LAST explicitly on
    both engines."""
    centroids = (
        io.load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("pos", "val"))
        .withColumn("dval", F.col("val").cast("double").cast("decimal(18,9)"))
        .groupBy("label", "pos")
        .agg(
            (
                F.round(F.sum("dval").cast("double") / F.count("*"), 6)
                + F.lit(0.0)
            )
            .cast("double")
            .alias("c")
        )
        .collect()
    )
    by_label: dict = {}
    for r in centroids:
        by_label.setdefault(r.label, {})[r.pos] = r.c
    cent_rows = [
        (label, [vals[i] for i in range(len(vals))])
        for label, vals in sorted(by_label.items())
    ]
    cent_df = spark.createDataFrame(cent_rows, "label int, cvec array<double>")
    emb = io.load_table(spark, sf_dir, "embeddings")
    cos = dot(F.col("embedding"), F.col("cvec")) / F.nullif(
        l2_norm(F.col("embedding")) * l2_norm(F.col("cvec")), F.lit(0.0)
    )
    # asc_nulls_last matches DuckDB's default NULL placement (zero vectors
    # have NULL cosine); + 0.0 folds the signed zero a zero-crossing
    # rounded cosine can produce
    w = Window.partitionBy("label").orderBy(
        F.col("cos").asc_nulls_last(), "vec_id"
    )
    return (
        emb.join(F.broadcast(cent_df), "label")
        .select("vec_id", "label", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id",
            "label",
            (F.round("cos", 6) + F.lit(0.0)).alias("cos_centroid"),
            (F.col("rn") <= _OUTLIER_K).alias("is_outlier"),
        )
    )
# Multi-table LSH: L tables of b sign-bits each, candidates = union over
# tables. Single-table 8-bit LSH recalls ~0.04 on this fixture (near-random
# vectors: top-neighbor cosine 0.25-0.5 -> per-bit agreement ~0.62, and
# 0.62^8 is tiny); L=16 x b=5 lifts the per-neighbor hit rate to
# 1-(1-0.62^5)^16 ~ 0.75 at a known candidate cost. At scale b grows with
# log2(corpus / target bucket size) so buckets stay small while L buys
# recall — the standard LSH operating curve.
_MT_TABLES = 16
_MT_BITS = 5


def _mt_planes() -> list[list[float]]:
    rng = np.random.RandomState(11)
    return rng.standard_normal((_MT_TABLES * _MT_BITS, 64)).round(6).tolist()


def _mt_sig_sql(planes: list[list[float]], t: int) -> str:
    bits = ", ".join(
        "CASE WHEN list_inner_product(CAST(embedding[1:64] AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in planes[t * _MT_BITS + i])
        + "]) >= 0 THEN '1' ELSE '0' END"
        for i in range(_MT_BITS)
    )
    return f"SELECT vec_id, embedding, {t} AS t, concat({bits}) AS sig FROM embeddings"


def _plane_sigs_udf(planes: list[list[float]], n_tables: int, n_bits: int):
    """Vectorized (Arrow) hyperplane-signature generator: per input
    vector, the ``n_tables`` bucket signatures (``n_bits`` chars each).
    The projections are ``cosblocks.dots``, bit-identical to the
    engines' folds, so the >= 0 sign bits (and therefore every bucket)
    match exactly. Only the first 64 dims participate, mirroring the
    engines' embedding[1:64] slice."""
    from pyspark.sql.functions import pandas_udf

    pmat = stack(planes)  # (n_tables*n_bits, 64)

    @pandas_udf("array<string>")
    def plane_sigs(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        bits = np.where(dots(stack(e[:64] for e in embs), pmat) >= 0, "1", "0")
        return pd.Series(
            [
                ["".join(row[t * n_bits : (t + 1) * n_bits]) for t in range(n_tables)]
                for row in bits
            ]
        )

    return plane_sigs


def _ann_multitable_oracle() -> str:
    planes = _mt_planes()
    sig_union = " UNION ALL ".join(
        _mt_sig_sql(planes, t) for t in range(_MT_TABLES)
    )
    cos = cosine_sql("q_emb", "n_emb")
    return f"""
    WITH sig AS ({sig_union}),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, t, sig
        FROM sig WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id,
               q.q_emb, s.embedding AS n_emb
        FROM sig s JOIN q ON s.t = q.t AND s.sig = q.sig
        WHERE s.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT query_id, neighbor_id, {cos} AS cos_sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id
               ) AS rn
        FROM pairs
    )
    WHERE rn <= {TOP_K}
    """


@query("sim_ann_multitable", oracle=_ann_multitable_oracle())
def sim_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via MULTI-TABLE hyperplane LSH ({_MT_TABLES} tables x {_MT_BITS}
    bits): per table, bucket equi-join; candidates are the distinct union
    across tables; exact cosine re-rank -> top-k. Deterministic plane
    literals + sequential double folds give a full value-hash oracle
    despite the approximate semantics.

    Scale shape: one projection pass emits (vec, table, sig) rows —
    corpus x L, but each row is (id, 5-char sig); the join is equi on
    (table, sig) against the broadcast query side; only bucket-mates pay
    the exact-distance fold. sim_ann_recall pins the measured recall."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    planes = _mt_planes()

    # The 80-plane signature pass is ONE vectorized Arrow UDF, computed
    # once and checkpointed as THIN (vec_id, t, sig) rows so the join
    # legs do not recompute it. The cross-table candidate dedup shuffles
    # only (query_id, neighbor_id) id pairs; embeddings re-attach by
    # vec_id afterwards and only surviving distinct pairs pay the exact
    # cosine fold.
    sig_udf = _plane_sigs_udf(planes, _MT_TABLES, _MT_BITS)
    sigs = emb.select(
        "vec_id",
        F.posexplode(sig_udf(F.col("embedding"))).alias("t", "sig"),
    ).localCheckpoint(eager=False)
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "t", "sig"
    )
    cand = (
        sigs.join(F.broadcast(queries), ["t", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # broadcast ONLY the N_QUERIES-row query side: a broadcast hint
    # bypasses autoBroadcastJoinThreshold, so hinting the corpus would
    # pin the whole embedding table on every executor. The neighbor
    # re-attach stays a keyed equi-join the planner sizes itself.
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
    )
    pairs = cand.join(F.broadcast(qe), "query_id").join(ne, "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_emb"), F.col("n_emb")).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _ann_recall_oracle() -> str:
    """Recall@k of the LSH candidates against the exact top-k. Both inputs
    are value-verified deterministic sets (sim_topk, sim_ann_lsh), so the
    recall number itself is oracle-checkable — the quality evidence for
    the approximate path at scale."""
    exact = f"""
        SELECT query_id, neighbor_id
        FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_COS_QE} DESC, e.vec_id
                   ) AS rn
            FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
            WHERE q.vec_id < {N_QUERIES}
        )
        WHERE rn <= {TOP_K}
    """
    return f"""
    WITH exact AS ({exact}),
    lsh1 AS ({_ann_lsh_oracle()}),
    lshmt AS ({_ann_multitable_oracle()}),
    approx AS (
        SELECT 'lsh_1x8' AS method, query_id, neighbor_id FROM lsh1
        UNION ALL
        SELECT 'lsh_16x5' AS method, query_id, neighbor_id FROM lshmt
    ),
    methods AS (SELECT 'lsh_1x8' AS method UNION ALL SELECT 'lsh_16x5')
    SELECT m.method, e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
           round(count(a.neighbor_id) / {TOP_K}.0, 6) AS recall_at_k
    FROM methods m
    CROSS JOIN exact e
    LEFT JOIN approx a
      ON a.method = m.method AND a.query_id = e.query_id
     AND a.neighbor_id = e.neighbor_id
    GROUP BY m.method, e.query_id
    """


@query("sim_ann_recall", oracle=_ann_recall_oracle())
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of BOTH ANN paths against the exact cosine top-k
    (sim_topk): the single-table 8-bit LSH (sim_ann_lsh — recalls ~0.04
    on this near-random fixture, the honest cost of one table) and the
    16x5 multi-table LSH (sim_ann_multitable — ~0.7-0.8).

    At 100 TB the ANN path IS the product — a pinned, oracle-checked
    recall number per method is the evidence that bucketing trades
    latency for a KNOWN quality level. Shape: small per-query top-k sets
    (k rows per query per method) joined on (query, neighbor); corpus
    cost is one pass per method."""
    exact = sim_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        sim_ann_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit("lsh_1x8").alias("method"))
        .unionByName(
            sim_ann_multitable(spark, sf_dir).select(
                "query_id",
                "neighbor_id",
                F.lit("lsh_16x5").alias("method"),
            )
        )
        .withColumn("hit", F.lit(1))
    )
    methods = spark.createDataFrame(
        [("lsh_1x8",), ("lsh_16x5",)], "method string"
    )
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(
            F.count("hit").alias("n_matched"),
            F.round(F.count("hit") / F.lit(float(TOP_K)), 6).alias(
                "recall_at_k"
            ),
        )
    )


@query(
    "emb_cosine_histogram",
    oracle=f"""
    WITH pairs AS (
        SELECT a.label,
               {cosine_sql("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label,
           CAST(floor(cos * 10) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY label, floor(cos * 10)
    """,
)
def emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity distribution per label block — the
    threshold-picking diagnostic for embedding dedup and clustering:
    before choosing a near-dup cutoff you look at where the pair mass
    sits (bin = floor(cos*10), so [0.8, 0.9) is bin 8). Blocked by label
    exactly like emb_knn_graph, so pair cost is sum(block^2), never n^2;
    both engines compute the identical cosine expression (exact-float
    verified for the sim family), making bin assignment deterministic.

    At corpus scale this runs on a sample per block — the histogram is
    the thing that justifies the production threshold, and pinning it as
    oracle rows regression-gates the embedding + cosine path end to
    end."""
    # A per-label worker emits the finished per-bin counts, so one thin
    # label shuffle is the only exchange and no pair-sized row leaves the
    # worker. bin = floor(cos * 10) replays the engines' float64
    # multiply+floor bit-for-bit; NULL cosines (zero-norm vectors) and
    # NaN cosines (Spark's non-ANSI floor(NaN) cast int) land in the
    # NULL bin.

    def bin_hist(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"label": [], "bin": [], "n_pairs": []}).astype(
                {"label": "int32", "n_pairs": "int64"}
            )
        label = pdf["label"].iloc[0]
        ids = pdf["vec_id"].to_numpy()
        counts: dict = {}
        for lo, cos, invalid in cosine_chunks(stack(pdf["embedding"])):
            upper = ids[lo : lo + len(cos), None] < ids[None, :]
            bins = np.floor(cos[upper & ~invalid] * 10)
            nan = np.isnan(bins)
            n_null = int(np.count_nonzero(upper & invalid)) + int(nan.sum())
            if n_null:
                counts[None] = counts.get(None, 0) + n_null
            uniq, cnt = np.unique(bins[~nan].astype("int64"), return_counts=True)
            for bv, n in zip(uniq, cnt):
                counts[int(bv)] = counts.get(int(bv), 0) + int(n)
        rows = sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0]))
        return pd.DataFrame(
            {
                "label": pd.array([label] * len(rows), dtype="int32"),
                "bin": pd.array([k for k, _ in rows], dtype="object"),
                "n_pairs": pd.array([v for _, v in rows], dtype="int64"),
            }
        )

    emb = io.load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(bin_hist, "label int, bin int, n_pairs long")
    )


# --------------------------------------------------------------------------
# emb_quantize_error
# --------------------------------------------------------------------------


@query(
    "emb_quantize_error",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
        FROM e
    ),
    recon AS (
        SELECT vec_id, label, v, s,
               list_transform(v, x -> floor(x / s + 0.5) * s) AS r
        FROM scaled WHERE s > 0
    ),
    per_vec AS (
        SELECT label,
               list_sum(list_transform(range(1, len(v) + 1),
                        i -> (v[i] - r[i]) * (v[i] - r[i])))
                   / len(v) AS mse,
               list_inner_product(v, r)
                 / nullif(sqrt(list_inner_product(v, v))
                          * sqrt(list_inner_product(r, r)), 0.0) AS cos_vr
        FROM recon
    )
    SELECT label,
           -- per-vector MSEs quantized to exact femto-units so the mean
           -- is an integer sum under any reduction order
           round(CAST(sum(CAST(floor(mse * 1e15 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1e15, 9) AS mean_mse,
           round(min(cos_vr), 6) AS worst_cosine,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM per_vec
    GROUP BY label
    """,
)
def emb_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured int8 quantization-error floor per label: symmetric
    per-vector scaling (s = max|x| / 127), explicit floor(x/s + 0.5)
    quantizer (deterministic and identical in both engines — no
    round-half-even ambiguity), then reconstruction MSE and worst-case
    cosine between original and reconstruction. This is the evidence an
    embedding-compression rollout needs BEFORE switching the ANN index
    to int8 — the fourth measured quality floor alongside the ANN/LSH/
    IVF-PQ recall floors.

    Shape at scale: pure per-row higher-order functions (quantize,
    reconstruct, MSE fold) in one scan; one keyed aggregate. The only
    doubles crossing a reduction are per-vector scalars rounded at the
    output boundary."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    v = F.col("v")
    s = F.col("s")
    r = F.col("r")
    scaled = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).select(
        "vec_id",
        "label",
        "v",
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0
        ).alias("s"),
    )
    recon = scaled.filter(s > 0).select(
        "vec_id",
        "label",
        "v",
        F.transform(v, lambda x: F.floor(x / s + 0.5) * s).alias("r"),
    )
    diff2 = F.zip_with(v, r, lambda a, b: (a - b) * (a - b))
    mse = (
        F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
    )
    per_vec = recon.select(
        "label",
        mse.alias("mse"),
        cosine_similarity(v, r).alias("cos_vr"),
    )
    mse_q = half_up(F.col("mse"), 15)
    return per_vec.groupBy("label").agg(
        F.round(
            F.sum(mse_q).cast("double") / F.count("*") / 1e15, 9
        ).alias("mean_mse"),
        F.round(F.min("cos_vr"), 6).alias("worst_cosine"),
        F.count("*").cast("bigint").alias("n_vectors"),
    )
