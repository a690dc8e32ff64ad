"""Round-51 breadth batch: binary Hamming ANN, quality-vs-length
residuals, and a timezone-shift detector.

- ``sim_hamming_topk`` — the binary-embedding ANN path: sign-
  binarize 64-dim vectors into a single 63-bit BIGINT word (bit 64
  stays clear of the sign bit), Hamming distance = bit_count(xor),
  top-k per query — 64x less memory than float vectors and pure
  integer distance, the standard first-stage filter in front of
  exact re-ranking.
- ``curation_quality_residual`` — the long-is-not-good de-biasing:
  regress a quality proxy on document length (exact OLS moments),
  rank documents by |residual| — the docs whose quality their
  length cannot explain are exactly the ones worth a human look
  (great-short and terrible-long).
- ``dq_tz_shift`` — the ingestion timezone-regression probe:
  circular cross-correlation between the first and second half's
  hour-of-day histograms; a best shift of k != 0 means somebody
  redeployed a producer with a k-hour timezone bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# sim_hamming_topk
# --------------------------------------------------------------------------

_HAM_QUERIES = 5
_HAM_K = 5
_HAM_BITS = 63

_PACK_SQL = f"""
        SELECT vec_id,
               sum(CASE WHEN val > 0
                   THEN (CAST(1 AS BIGINT) << (ord - 1))
                   ELSE CAST(0 AS BIGINT) END) AS sig
        FROM (
            SELECT vec_id,
                   unnest(list_slice(CAST(embedding AS DOUBLE[]),
                                     1, {_HAM_BITS})) AS val,
                   generate_subscripts(
                       list_slice(CAST(embedding AS DOUBLE[]),
                                  1, {_HAM_BITS}), 1) AS ord
            FROM embeddings
        ) GROUP BY vec_id
"""


@query(
    "sim_hamming_topk",
    oracle=f"""
    WITH packed AS ({_PACK_SQL}),
    q AS (SELECT vec_id AS qid, sig AS qsig FROM packed
          WHERE vec_id < {_HAM_QUERIES}),
    scored AS (
        SELECT q.qid, p.vec_id AS nid,
               bit_count(xor(q.qsig, p.sig)) AS dist,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY bit_count(xor(q.qsig, p.sig)), p.vec_id)
                   AS rn
        FROM q JOIN packed p ON p.vec_id <> q.qid
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(dist AS BIGINT) AS hamming,
           CAST(rn AS BIGINT) AS rnk
    FROM scored WHERE rn <= {_HAM_K}
    """,
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature ANN: each embedding's first {_HAM_BITS}
    components sign-binarize into ONE BIGINT (bit i set iff
    component i > 0 — the sign bit stays clear, so two's-complement
    semantics never matter), and nearest neighbors are the smallest
    bit_count(xor) — per query, top-{_HAM_K} with (distance, id)
    total order. The sketch that makes billion-vector first-stage
    search a 64x-smaller integer scan; the float re-rank on the
    shortlist is sim_topk's job.

    Scale: signatures are a narrow one-pass map (cheap enough to
    materialize as a column); the query side is {_HAM_QUERIES} rows
    broadcast against one corpus scan — the sim_topk sanctioned
    brute-force shape with a 64x cheaper inner loop, and band-
    blocking on signature prefixes (the dedup_simhash trick) at
    fleet scale."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    bit_terms = [
        F.when(
            F.element_at(F.col("embedding"), i + 1).cast("double") > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(_HAM_BITS)
    ]
    sig = bit_terms[0]
    for t in bit_terms[1:]:
        sig = sig + t
    packed = emb.select(
        "vec_id", sig.alias("sig")
    ).localCheckpoint()
    q = packed.filter(F.col("vec_id") < _HAM_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("sig").alias("qsig")
    )
    dist = F.bit_count(
        F.col("qsig").bitwiseXOR(F.col("sig"))
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("hamming"), "neighbor_id"
    )
    return (
        packed.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            dist.cast("long").alias("hamming"),
        )
        .withColumnRenamed("query_id", "qid")
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _HAM_K)
        .select(
            F.col("qid").alias("query_id"),
            "neighbor_id",
            "hamming",
            F.col("rn").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# curation_quality_residual
# --------------------------------------------------------------------------

_QR_TOP = 10


@query(
    "curation_quality_residual",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
               CAST(length(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS y
        FROM documents
    ),
    m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM sig
    ),
    fit AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
               CAST(sy AS DOUBLE) / n
               - (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / n) AS alpha
        FROM m
    )
    SELECT doc_id,
           CAST(x AS BIGINT) AS n_chars,
           CAST(y AS BIGINT) AS distinct_tokens,
           CAST(resid_micro AS BIGINT) AS resid_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT s.doc_id, s.x, s.y,
               CAST(floor(1000000.0
                    * (s.y - (f.alpha + f.beta * s.x)) + 0.5)
                    AS BIGINT) AS resid_micro,
               row_number() OVER (
                   ORDER BY abs(s.y - (f.alpha + f.beta * s.x)) DESC,
                            s.doc_id) AS rnk
        FROM sig s CROSS JOIN fit f
    )
    WHERE rnk <= {_QR_TOP}
    """,
)
def curation_quality_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-debiased quality review queue: regress a quality proxy
    (distinct-token count — vocabulary richness) on raw length via
    exact-moment OLS, then rank documents by |residual|. Length
    explains most of any size-correlated quality signal, so raw
    quality sorting just re-ranks by length; the residual surfaces
    the short-but-rich documents worth keeping and the long-but-
    empty ones worth cutting — the review queue a curation pass
    actually wants. Moments are exact BIGINTs; alpha/beta/residuals
    are fixed-shape float formulas micro-rounded once.

    Scale: one doc-grain signal pass, a one-row moment fold
    broadcast back, a partial top-k."""
    sig = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("y"),
    )
    m = sig.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    fit = m.select(
        beta.alias("beta"),
        (
            F.col("sy").cast("double") / F.col("n")
            - beta * (F.col("sx").cast("double") / F.col("n"))
        ).alias("alpha"),
    )
    resid = F.col("y") - (
        F.col("alpha") + F.col("beta") * F.col("x")
    )
    scored = sig.crossJoin(F.broadcast(fit)).select(
        "doc_id",
        F.col("x").alias("n_chars"),
        F.col("y").alias("distinct_tokens"),
        half_up(resid, 6).alias("resid_micro"),
        F.abs(resid).alias("absr"),
    )
    wr = Window.orderBy(F.col("absr").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _QR_TOP)
        .select(
            "doc_id",
            "n_chars",
            "distinct_tokens",
            "resid_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# dq_tz_shift
# --------------------------------------------------------------------------


@query(
    "dq_tz_shift",
    oracle="""
    WITH bounds AS (
        SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
               max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        FROM events
    ),
    pts AS (
        SELECT hour(CAST(e.ts AS TIMESTAMP)) AS h,
               CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - b.t0
                         >= (b.t1 - b.t0) // 2
                    THEN 1 ELSE 0 END AS half
        FROM events e CROSS JOIN bounds b
    ),
    hist AS (
        SELECT h, half, count(*) AS n FROM pts GROUP BY h, half
    ),
    a AS (SELECT h, n FROM hist WHERE half = 0),
    b2 AS (SELECT h, n FROM hist WHERE half = 1),
    shifts AS (
        SELECT s.k,
               sum(a.n * coalesce(b2.n, 0)) AS xcorr
        FROM (SELECT CAST(range AS BIGINT) AS k FROM range(24)) s
        JOIN a ON TRUE
        LEFT JOIN b2 ON b2.h = (a.h + s.k) % 24
        GROUP BY s.k
    )
    SELECT CAST(k AS BIGINT) AS shift_hours,
           CAST(xcorr AS BIGINT) AS xcorr,
           CAST(CASE WHEN row_number() OVER (
                         ORDER BY xcorr DESC, k) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM shifts
    """,
)
def dq_tz_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-regression probe: hour-of-day histograms for the
    stream's first and second half, circularly cross-correlated at
    every shift k in 0..23 (Σ a[h]·b[(h+k) mod 24], exact BIGINTs).
    A best shift of k != 0 means the second half's clock pattern is
    the first half's rotated by k hours — the signature of a
    producer redeployed with a timezone bug, caught from the data
    alone. The full 24-row profile ships so a flat (shift-
    insensitive) pattern is visible too.

    Scale: the fact collapses to a 24x2 histogram; the circular
    correlation is a 24x24 bounded join. Nothing scales with the
    fact after the first fold."""
    ev = io.load_events(spark, sf_dir)
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    pts = ev.crossJoin(F.broadcast(bounds)).select(
        F.hour("ts").alias("h"),
        F.when(
            F.unix_micros("ts") - F.col("t0")
            >= F.expr("(t1 - t0) div 2"),
            1,
        )
        .otherwise(0)
        .alias("half"),
    )
    hist = pts.groupBy("h", "half").agg(F.count("*").alias("n"))
    a = hist.filter(F.col("half") == 0).select(
        F.col("h").alias("ha"), F.col("n").alias("na")
    )
    b = hist.filter(F.col("half") == 1).select(
        F.col("h").alias("hb"), F.col("n").alias("nb")
    )
    ks = spark.range(24).select(F.col("id").alias("k"))
    shifts = (
        a.crossJoin(F.broadcast(ks))
        .join(
            b,
            F.col("hb") == (F.col("ha") + F.col("k")) % 24,
            "left",
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.col("na") * F.coalesce(F.col("nb"), F.lit(0))
            ).alias("xcorr")
        )
    )
    wb = Window.orderBy(F.col("xcorr").desc(), "k")
    return shifts.select(
        F.col("k").cast("long").alias("shift_hours"),
        F.col("xcorr").cast("long").alias("xcorr"),
        F.when(F.row_number().over(wb) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )
