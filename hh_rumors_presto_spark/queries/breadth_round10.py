"""Round-10 breadth batch: sliding-window sketch merge, lakehouse
schema evolution, and contrastive-training triplet mining.

- ``sketch_hll_window`` — rolling 3-hour distinct-user estimates by
  MERGING the hourly HLL register vectors (register max), never
  re-scanning the raw window: the continuous-aggregate discipline for
  approximate distincts. Reuses sketch_hll_det's deterministic
  integer-exact register machinery; per-window exact truth and
  relative error are part of the oracled output, so estimator quality
  is regression-pinned.
- ``sink_schema_evolution`` — the lakehouse evolution path: a v1
  batch written without a column, a v2 batch written with it,
  mergeSchema read unioning both vintages (missing column surfaces as
  NULL), aggregated per effective status. The write-read round trip
  is real; the oracle recomputes the same answer from the source
  table.
- ``pipeline_contrastive_negatives`` — embedding-model training
  triplets: per anchor doc, the positive (highest exact bigram-Jaccard
  same-language doc), 3 hard negatives (next-most-similar docs BELOW
  the near-dup threshold — the informative ones), and 2 random
  negatives (hash-ordered picks from a bounded other-language pool).
  Scores kept as integer micro-Jaccard so ordering is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.queries.breadth_round6 import (
    _HLL_M,
    _HLL_RANK_HEX,
    _HLL_SCALE_SQL,
    _hll_bucket_rho,
)
from hh_rumors_presto_spark.queries.extensions_dedup import bigram_shingles
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# sketch_hll_window
# --------------------------------------------------------------------------

_HLL_WIN = 3  # merge the current hour and the 2 preceding hours


@query(
    "sketch_hll_window",
    oracle=f"""
    WITH base AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
               user_id,
               md5(CAST(user_id AS VARCHAR)) AS hex
        FROM events WHERE ts IS NOT NULL
    ),
    ranked AS (
        SELECT hour,
               CAST(('0x' || substring(hex, 1, 2)) AS BIGINT) AS bucket,
               CASE WHEN stripped = '' THEN {4 * _HLL_RANK_HEX + 1}
                    ELSE 4 * ({_HLL_RANK_HEX} - length(stripped))
                         + CASE WHEN nib = '1' THEN 3
                                WHEN nib IN ('2', '3') THEN 2
                                WHEN nib IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END AS rho
        FROM (
            SELECT hour, hex,
                   regexp_replace(substring(hex, 3, {_HLL_RANK_HEX}),
                                  '^0+', '') AS stripped,
                   substring(regexp_replace(
                       substring(hex, 3, {_HLL_RANK_HEX}), '^0+', ''),
                       1, 1) AS nib
            FROM base
        )
    ),
    regs AS (
        SELECT hour, bucket, max(rho) AS m_j FROM ranked GROUP BY 1, 2
    ),
    hours AS (SELECT DISTINCT hour FROM base),
    -- each hourly register contributes to target hours h .. h+2; the
    -- inner join against observed hours drops phantom targets
    merged AS (
        SELECT h.hour, r.bucket, max(r.m_j) AS m_j
        FROM regs r
        JOIN unnest([0, 1, 2]) AS t(off) ON true
        JOIN hours h ON h.hour = r.hour + t.off
        GROUP BY h.hour, r.bucket
    ),
    est AS (
        SELECT hour,
               sum(CAST(pow(2, 53 - m_j) AS BIGINT)) AS sum_scaled,
               count(*) AS n_present
        FROM merged GROUP BY hour
    ),
    raw AS (
        SELECT hour,
               {_HLL_SCALE_SQL}
                 / CAST(sum_scaled
                        + ({_HLL_M} - n_present) * 9007199254740992
                        AS DOUBLE) AS raw_est,
               {_HLL_M} - n_present AS v_empty
        FROM est
    ),
    truth AS (
        SELECT h.hour, count(DISTINCT b.user_id) AS exact_ndv
        FROM (SELECT DISTINCT hour, user_id FROM base) b
        JOIN unnest([0, 1, 2]) AS t(off) ON true
        JOIN hours h ON h.hour = b.hour + t.off
        GROUP BY h.hour
    )
    SELECT CAST(r.hour AS BIGINT) AS hour,
           round(CASE WHEN r.raw_est <= 2.5 * {_HLL_M} AND r.v_empty > 0
                      THEN {_HLL_M} * ln({_HLL_M} / CAST(r.v_empty AS DOUBLE))
                      ELSE r.raw_est END, 4) AS hll_est,
           CAST(t.exact_ndv AS BIGINT) AS exact_ndv,
           round(abs(CASE WHEN r.raw_est <= 2.5 * {_HLL_M} AND r.v_empty > 0
                          THEN {_HLL_M} * ln({_HLL_M}
                                             / CAST(r.v_empty AS DOUBLE))
                          ELSE r.raw_est END - t.exact_ndv)
                 / t.exact_ndv, 6) AS rel_err
    FROM raw r JOIN truth t ON t.hour = r.hour
    """,
)
def sketch_hll_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-hour distinct-user estimate per hour by merging the
    HOURLY HLL register vectors (register-wise max — HLL's merge is its
    defining feature), with the per-window exact truth and relative
    error in the oracled output. The hourly registers are the only
    state kept; the raw window is never re-scanned. Register machinery
    (md5 bucket byte + string-arithmetic rho + integer-exact 2^(53-rho)
    harmonic sums) is shared with sketch_hll_det, so the estimate is
    bit-deterministic cross-engine.

    Scale: this is the continuous-aggregate ladder (ts_multires_rollup)
    applied to a SKETCH: per-hour partials are tiny (<= 256 registers),
    the 3-way contribution explode is constant fan-out, and any window
    width reuses the same hourly state. Exact truth costs a distinct
    per window here for the pinned error; production keeps only the
    sketches."""
    ev = io.load_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    base = ev.select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("hour"),
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("hex"),
    )
    bucket, rho = _hll_bucket_rho(F.col("hex"))
    ranked = base.select(
        "hour", bucket.alias("bucket"), rho.alias("rho"), "user_id"
    )
    regs = ranked.groupBy("hour", "bucket").agg(F.max("rho").alias("m_j"))
    hours = base.select("hour").distinct()
    offs = F.explode(F.array(*[F.lit(i) for i in range(_HLL_WIN)]))
    contrib = regs.withColumn("off", offs).select(
        (F.col("hour") + F.col("off")).alias("t_hour"), "bucket", "m_j"
    )
    merged = (
        contrib.join(
            F.broadcast(hours.withColumnRenamed("hour", "t_hour")),
            "t_hour",
        )
        .groupBy("t_hour", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    est = merged.groupBy("t_hour").agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(53) - F.col("m_j")).cast("long")
        ).alias("sum_scaled"),
        F.count("*").alias("n_present"),
    )
    scale = (0.7213 / (1.0 + 1.079 / _HLL_M)) * (
        _HLL_M * _HLL_M
    ) * 9007199254740992.0
    raw = est.select(
        "t_hour",
        (
            F.lit(scale)
            / (
                F.col("sum_scaled")
                + (F.lit(_HLL_M) - F.col("n_present"))
                * F.lit(9007199254740992)
            ).cast("double")
        ).alias("raw_est"),
        (F.lit(_HLL_M) - F.col("n_present")).alias("v_empty"),
    )
    corrected = F.when(
        (F.col("raw_est") <= 2.5 * _HLL_M) & (F.col("v_empty") > 0),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / F.col("v_empty").cast("double")),
    ).otherwise(F.col("raw_est"))
    pairs = base.select("hour", "user_id").distinct()
    truth = (
        pairs.withColumn("off", offs)
        .select((F.col("hour") + F.col("off")).alias("t_hour"), "user_id")
        .join(
            F.broadcast(hours.withColumnRenamed("hour", "t_hour")),
            "t_hour",
        )
        .groupBy("t_hour")
        .agg(F.countDistinct("user_id").alias("exact_ndv"))
    )
    return (
        raw.join(truth, "t_hour")
        .select(
            F.col("t_hour").cast("long").alias("hour"),
            F.round(corrected, 4).alias("hll_est"),
            F.col("exact_ndv").cast("long").alias("exact_ndv"),
            F.round(
                F.abs(corrected - F.col("exact_ndv"))
                / F.col("exact_ndv"),
                6,
            ).alias("rel_err"),
        )
    )


# --------------------------------------------------------------------------
# sink_schema_evolution
# --------------------------------------------------------------------------


@query(
    "sink_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-evolution)'
                ELSE o_orderstatus END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the write path: batch 1 lands WITHOUT the
    status column, batch 2 (the evolved producer) lands WITH it; a
    mergeSchema read unions both vintages, surfacing the missing
    column as NULL for the old files — exactly how a parquet-backed
    lakehouse table gains a column without rewriting history. The
    aggregate groups by the effective status with the pre-evolution
    rows bucketed explicitly, and the oracle recomputes it straight
    from the source table.

    Scale: mergeSchema's footer-union is a listing-time cost, not a
    scan cost; production tables pin the merged schema in a catalog so
    reads stay one-footer."""
    orders = io.load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )
    out_dir = io.scoped_tmp_dir(spark, "sink_evo", sf_dir)
    v1.write.mode("overwrite").parquet(os.path.join(out_dir, "b=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out_dir, "b=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out_dir, "b=1"), os.path.join(out_dir, "b=2")
    )
    return (
        merged.groupBy(
            F.coalesce(
                F.col("o_orderstatus"), F.lit("(pre-evolution)")
            ).alias("status")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec(F.col("o_totalprice"), 2))
            .cast("double")
            .alias("total_price"),
        )
        .localCheckpoint(eager=True)
    )


# --------------------------------------------------------------------------
# pipeline_contrastive_negatives
# --------------------------------------------------------------------------

_CN_HARD = 3  # hard negatives per anchor
_CN_RAND = 2  # random negatives per anchor
# Random-negative pool bucket count. Each anchor draws its random
# negatives from ONE hash bucket of the pool (bucket = doc_id % B on
# both sides), so the pool join is an EQUI-join on bkt and per-anchor
# candidate work is |pool|/B instead of |pool| — the production shape
# at 100 TB, where B scales with the pool so a bucket stays a few
# thousand rows. B=4 keeps every (bucket, lang) cell >= _CN_RAND
# cross-language candidates at all three test SFs (min 5 at sf0.01).
_CN_BUCKETS = 4

_CN_SHINGLE_SQL = """
    sh AS (
        SELECT doc_id, lang, list_distinct(list_transform(
            generate_series(1, len(string_split(text,' ')) - 1),
            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        )) AS shingles
        FROM documents
    ),
    counts AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    inv AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM sh)
"""


@query(
    "pipeline_contrastive_negatives",
    oracle=f"""
    WITH {_CN_SHINGLE_SQL},
    anchors AS (
        SELECT s.doc_id, s.lang FROM sh s JOIN counts c USING (doc_id)
        WHERE s.doc_id % 7 = 0
    ),
    sim AS (
        SELECT a.doc_id AS anchor_id, b.doc_id AS cand_id,
               count(*) AS inter
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.lang = b.lang
         AND a.doc_id % 7 = 0 AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT s.anchor_id, s.cand_id,
               s.inter * 1000000 // (ca.n + cb.n - s.inter) AS score_micro,
               2 * s.inter >= (ca.n + cb.n - s.inter) AS is_neardup
        FROM sim s
        JOIN counts ca ON ca.doc_id = s.anchor_id
        JOIN counts cb ON cb.doc_id = s.cand_id
    ),
    pos AS (
        SELECT anchor_id, 'pos' AS kind, CAST(1 AS BIGINT) AS rnk,
               cand_id, CAST(score_micro AS BIGINT) AS score_micro
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY anchor_id
                  ORDER BY score_micro DESC, cand_id) AS r
              FROM scored)
        WHERE r = 1
    ),
    hard AS (
        SELECT anchor_id, 'hard_neg' AS kind, CAST(r AS BIGINT) AS rnk,
               cand_id, CAST(score_micro AS BIGINT) AS score_micro
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY anchor_id
                  ORDER BY score_micro DESC, cand_id) AS r
              FROM scored WHERE NOT is_neardup)
        WHERE r <= {_CN_HARD}
    ),
    pool AS (SELECT doc_id AS cand_id, lang,
                    doc_id % {_CN_BUCKETS} AS bkt FROM documents
             WHERE doc_id % 11 = 3),
    rand AS (
        SELECT anchor_id, 'rand_neg' AS kind, CAST(r AS BIGINT) AS rnk,
               cand_id, CAST(NULL AS BIGINT) AS score_micro
        FROM (SELECT a.doc_id AS anchor_id, p.cand_id,
                     row_number() OVER (
                         PARTITION BY a.doc_id
                         ORDER BY md5(CAST(a.doc_id AS VARCHAR) || '#'
                                      || CAST(p.cand_id AS VARCHAR)),
                                  p.cand_id) AS r
              FROM anchors a JOIN pool p
                ON p.bkt = a.doc_id % {_CN_BUCKETS} AND p.lang <> a.lang)
        WHERE r <= {_CN_RAND}
    )
    SELECT * FROM pos
    UNION ALL SELECT * FROM hard
    UNION ALL SELECT * FROM rand
    """,
)
def pipeline_contrastive_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive-training triplet mining: per anchor doc (every 7th),
    the POSITIVE is the highest exact bigram-Jaccard same-language doc,
    HARD negatives are the next-most-similar docs below the near-dup
    threshold (Jaccard < 0.5 — similar enough to be informative, far
    enough to be true negatives: the mining step that makes embedding
    models sharp), and RANDOM negatives are hash-ordered picks from a
    bounded other-language pool. Similarity ordering uses integer
    micro-Jaccard (inter*1e6 DIV union) so ranks are exact
    cross-engine; rand ordering is md5 of the (anchor, cand) pair.

    Scale: the similarity join is language-blocked (same discipline as
    emb_knn_graph — pair mass is Sum(block_a * block_b), never corpus
    n^2) with the anchor side pre-filtered into the join condition;
    per-anchor windows partition by anchor. The random pool is
    HASH-BUCKETED (bkt = doc_id % _CN_BUCKETS on both sides): each
    anchor equi-joins exactly its own pool bucket with the
    language-inequality as a residual filter, so the join plans as a
    hash join (gated: no BroadcastNestedLoopJoin) and per-anchor
    candidate work is |pool|/B — B scales with the pool at 100 TB."""
    docs = io.load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id", "lang", F.split("text", " ").alias("toks")
        )
        .select(
            "doc_id", "lang", bigram_shingles(F.col("toks")).alias("shingles")
        )
        .localCheckpoint()
    )
    counts = sh.filter(F.size("shingles") > 0).select(
        "doc_id", F.size("shingles").alias("n")
    )
    inv = sh.select("doc_id", "lang", F.explode("shingles").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    sim = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") % 7 == 0)
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("anchor_id"),
            F.col("b.doc_id").alias("cand_id"),
        )
        .agg(F.count("*").alias("inter"))
    )
    ca, cb = counts.alias("ca"), counts.alias("cb")
    uni = F.col("ca.n") + F.col("cb.n") - F.col("inter")
    scored = (
        sim.join(F.broadcast(ca), F.col("ca.doc_id") == F.col("anchor_id"))
        .join(F.broadcast(cb), F.col("cb.doc_id") == F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            F.col("inter").cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
            (F.lit(2) * F.col("inter") >= uni).alias("is_neardup"),
        )
        .select(
            "anchor_id",
            "cand_id",
            F.expr("inter * 1000000 DIV uni").alias("score_micro"),
            "is_neardup",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score_micro").desc(), "cand_id"
    )
    pos = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "anchor_id",
            F.lit("pos").alias("kind"),
            F.lit(1).cast("long").alias("rnk"),
            "cand_id",
            F.col("score_micro").cast("long").alias("score_micro"),
        )
    )
    hard = (
        scored.filter(~F.col("is_neardup"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _CN_HARD)
        .select(
            "anchor_id",
            F.lit("hard_neg").alias("kind"),
            F.col("r").cast("long").alias("rnk"),
            "cand_id",
            F.col("score_micro").cast("long").alias("score_micro"),
        )
    )
    anchors = (
        sh.join(counts.select("doc_id"), "doc_id")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang")
    )
    pool = docs.filter(F.col("doc_id") % 11 == 3).select(
        F.col("doc_id").alias("cand_id"),
        F.col("lang").alias("p_lang"),
        (F.col("doc_id") % _CN_BUCKETS).alias("bkt"),
    )
    wr = Window.partitionBy("anchor_id").orderBy("h", "cand_id")
    rand = (
        anchors.withColumn("a_bkt", F.col("doc_id") % _CN_BUCKETS)
        .join(
            F.broadcast(pool),
            (F.col("bkt") == F.col("a_bkt"))
            & (F.col("p_lang") != F.col("lang")),
        )
        .select(
            F.col("doc_id").alias("anchor_id"),
            "cand_id",
            F.md5(
                F.concat_ws(
                    "#",
                    F.col("doc_id").cast("string"),
                    F.col("cand_id").cast("string"),
                )
            ).alias("h"),
        )
        .withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _CN_RAND)
        .select(
            "anchor_id",
            F.lit("rand_neg").alias("kind"),
            F.col("r").cast("long").alias("rnk"),
            "cand_id",
            F.lit(None).cast("long").alias("score_micro"),
        )
    )
    return pos.unionByName(hard).unionByName(rand)
