"""Round-4 analytics batch: exact EWMA smoothing, grid-bucketed spatial
radius join, perceptual-hash near-dup over binary image signatures, and
the complete product-quantization ANN path (encode, IVF-PQ search at
nprobe=1 and nprobe=3, oracle-gated recall ladder), plus the
Pareto-skyline curation key, the multi-resolution rollup ladder, and the
Johnson-Lindenstrauss sign projection.

Determinism policy (registry.py rules): every key below is bit-exact
across engines — EWMA multiplies by powers of two only (exponent shifts,
no mantissa rounding) with identical addition order in both SQL texts;
the others work entirely in BIGINT after a floor() quantization (or in
DECIMAL partials for the rollup).

Fixture-shape hardening (round-5): the PQ/IVF keys no longer assume the
driver-generated fixture shape. _quantized slices to exactly the 64-dim
PQ domain the oracles iterate (range(0,64)), and every distance fold
coalesces NULL terms to 0 — matching SQL SUM's NULL-skip — so an
over-long or sparse regenerated embedding vector cannot diverge the
Spark side from the DuckDB side.

Scale notes (100 TB posture):
- ``ts_ewma`` is one keyed window (shuffle on user_id); constant state
  per row (8 lags), no unbounded frames.
- ``join_spatial_grid`` is the canonical bounded spatial join: cell size
  = radius, so candidates live in the 3x3 neighborhood; the build side
  fans out x9 and the probe side shuffles once on the cell key. Pair
  cost is sum(occupancy^2) over cells, never n^2; skewed cells are
  AQE-splittable because the join is a plain equi-join.
- ``mm_phash_dedup`` is LSH for images: 60-bit signature, 4 bands x 15
  bits, candidates only within a shared band bucket (same posture as
  dedup_minhash; no pair is formed outside a bucket).
- ``sim_pq_assign`` runs shuffle-free: quantize -> per-subspace distances
  via transform/aggregate higher-order functions -> argmin packed as
  min(d*4+c) -- all whole-stage codegen, zero exchanges (plan-gated).
  This is the PQ-encode stage an IVF-PQ index builds on: 64 floats
  compress to one 8-bit code (4 subspaces x 2 bits here; widths are
  literals a deployment tunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query

# ---------------------------------------------------------------------------
# ts_ewma

_EWMA_WEIGHTS = [0.5**i for i in range(1, 8)]  # exact binary fractions


@query(
    "ts_ewma",
    oracle="""
    WITH evd AS (
        SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value
        FROM events
    ),
    ev AS (
        SELECT user_id, event_id, value,
               lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
               lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
               lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
               lag(value, 7) OVER w AS l7
        FROM evd
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT user_id, event_id,
           (value
            + coalesce(l1, 0) * 0.5 + coalesce(l2, 0) * 0.25
            + coalesce(l3, 0) * 0.125 + coalesce(l4, 0) * 0.0625
            + coalesce(l5, 0) * 0.03125 + coalesce(l6, 0) * 0.015625
            + coalesce(l7, 0) * 0.0078125)
           /
           (1.0
            + (CASE WHEN l1 IS NULL THEN 0 ELSE 0.5 END)
            + (CASE WHEN l2 IS NULL THEN 0 ELSE 0.25 END)
            + (CASE WHEN l3 IS NULL THEN 0 ELSE 0.125 END)
            + (CASE WHEN l4 IS NULL THEN 0 ELSE 0.0625 END)
            + (CASE WHEN l5 IS NULL THEN 0 ELSE 0.03125 END)
            + (CASE WHEN l6 IS NULL THEN 0 ELSE 0.015625 END)
            + (CASE WHEN l7 IS NULL THEN 0 ELSE 0.0078125 END))
           AS ewma
    FROM ev
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (decay 1/2, depth 8) per
    user. The recursive EWMA definition is unrolled to a fixed lag chain
    so each row is a pure expression over a constant number of window
    lags — no stateful scan, no unbounded frame; the warmup rows
    renormalize by the weight mass actually available.

    Bit-exact: weights are powers of two (multiplication only shifts the
    exponent) and both engines add the terms in the same textual order."""
    ev = io.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = {i: F.lag("value", i).over(w) for i in range(1, 8)}
    num = F.col("value")
    den = F.lit(1.0)
    for i, wt in enumerate(_EWMA_WEIGHTS, start=1):
        num = num + F.coalesce(lags[i], F.lit(0.0)) * F.lit(wt)
        den = den + F.when(lags[i].isNull(), 0.0).otherwise(wt)
    return ev.select(
        "user_id", "event_id", (num / den).alias("ewma")
    )


# ---------------------------------------------------------------------------
# join_spatial_grid

_GRID_PTS_SQL = """
    pts AS (
        SELECT event_id AS id,
               ((event_id * event_id) // 7 + event_id * 101) % 1000 AS x,
               ((event_id * event_id) // 11 + event_id * 17) % 1000 AS y,
               (((event_id * event_id) // 7 + event_id * 101) % 1000) // 5 AS cx,
               (((event_id * event_id) // 11 + event_id * 17) % 1000) // 5 AS cy
        FROM events WHERE event_id % 2 = 0
    )
"""


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH {_GRID_PTS_SQL}
    SELECT a.id AS a_id, b.id AS b_id,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
    FROM pts a
    CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
    CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
    JOIN pts b ON b.cx = a.cx + dxs.dx AND b.cy = a.cy + dys.dy
              AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within Euclidean radius 5 on a 1000x1000 integer
    grid (points derived deterministically from event ids), found via
    grid-cell bucketing: cell size = radius, so every qualifying pair
    shares a 3x3 cell neighborhood and the candidate join is a plain
    equi-join on (cell_x, cell_y). Each unordered pair is emitted exactly
    once (the probe point's single home cell matches exactly one of the
    build point's nine offsets; id< orders the pair).

    Scale: candidate cost is sum over cells of occupancy^2 — bounded by
    density, never n^2; all-integer distance math, bit-exact."""
    ev = io.load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 2 == 0
    )
    eid = F.col("event_id")
    # id -> coordinate uses an integer-division term: any pure polynomial
    # mod 1000 is periodic in (id mod 1000) and folds the ids onto a few
    # hundred lattice points; (id^2 DIV k) breaks that periodicity.
    pts = ev.select(
        eid.alias("id"),
        ((F.expr("(event_id * event_id) DIV 7") + eid * 101) % 1000).alias("x"),
        ((F.expr("(event_id * event_id) DIV 11") + eid * 17) % 1000).alias("y"),
    ).withColumns(
        {"cx": F.expr("x DIV 5"), "cy": F.expr("y DIV 5")}
    )
    three = F.array(F.lit(-1), F.lit(0), F.lit(1))
    a = (
        pts.withColumn("dx", F.explode(three))
        .withColumn("dy", F.explode(three))
        .select(
            F.col("id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
        )
    )
    b = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    dist_sq = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["jx", "jy"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dist_sq <= 25)
        .select("a_id", "b_id", dist_sq.alias("dist_sq"))
    )


# ---------------------------------------------------------------------------
# mm_phash_dedup

_PHASH_SIGS_SQL = """
    sigs AS (
        SELECT doc_id,
               xor(CAST('0x' || substring(md5('img' || CAST(doc_id % 120 AS VARCHAR)), 1, 15) AS BIGINT),
                   (CAST(1 AS BIGINT) << least(doc_id // 120, 50)) - 1) AS sig
        FROM documents
    )
"""


@query(
    "mm_phash_dedup",
    oracle=f"""
    WITH {_PHASH_SIGS_SQL},
    bands AS (
        SELECT doc_id, sig, b.b AS b, (sig >> (15 * b.b)) & 32767 AS bv
        FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) b(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               a.sig AS sa, b.sig AS sb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 6
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for image-like payloads:
    each document carries a 60-bit signature (stand-in for an 8x8
    average-hash over decoded pixels — the container ships no codecs, so
    the signature derives deterministically from the payload id, with
    controlled low-bit perturbations to create genuine near-dup groups).
    Candidates come ONLY from shared 15-bit band buckets (4 bands, the
    minhash-LSH posture); survivors are pairs at Hamming distance <= 6.

    Scale: banding bounds the pair space to same-bucket members; the
    Hamming filter is two integer instructions (xor + popcount) — this is
    the standard image-dedup shape at corpus scale."""
    docs = io.load_table(spark, sf_dir, "documents")
    sigs = docs.select(
        "doc_id",
        F.expr(
            "conv(substring(md5(concat('img', CAST(doc_id % 120 AS STRING))), 1, 15), 16, 10)"
        )
        .cast("long")
        .bitwiseXOR(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(least(doc_id div 120, 50) AS INT)) - 1"
            )
        )
        .alias("sig"),
    )
    band_vals = F.array(
        *[F.expr(f"shiftright(sig, {15 * b}) & 32767") for b in range(4)]
    )
    bands = sigs.select(
        "doc_id", "sig", F.posexplode(band_vals).alias("b", "bv")
    )
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("sa"), "b", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("sb"), "b", "bv"
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        a.join(b, ["b", "bv"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sa", "sb")
        .distinct()
        .filter(ham <= 6)
        .select("a_id", "b_id", ham.alias("hamming"))
    )


# ---------------------------------------------------------------------------
# sim_pq_assign

_PQ_SUBSPACES = 4
_PQ_CODEBOOK = 4  # centroids per subspace
_PQ_SUBDIM = 16


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q) with q = floor(embedding * 1000) as array<long> — the
    shared integer domain every PQ/IVF key computes in (exact cross-engine:
    float32 -> double is lossless and floor is identical).

    q is SLICED to exactly the PQ dimensionality (4x16=64): the oracle
    iterates range(0,64), so an over-long fixture vector must not leak
    extra terms into the Spark side's whole-array transforms (r4 lesson:
    the slice-bounded sim_pq_assign stayed driver-green while the
    whole-array coarse/re-rank stages hash-diverged)."""
    qarr = F.transform(
        F.slice("embedding", 1, _PQ_SUBSPACES * _PQ_SUBDIM),
        lambda v: F.floor(v.cast("double") * F.lit(1000.0)).cast("long"),
    )
    return emb.select("vec_id", qarr.alias("q"))


def _pq_subspace_key(s: int):
    """Packed argmin key min_c(d(s,c)*4 + c) over the 4 codebook centroids
    of subspace s, as a pure higher-order-function expression on column q."""

    def dist(c: int):
        sl = F.slice("q", _PQ_SUBDIM * s + 1, _PQ_SUBDIM)
        diffs = F.transform(
            sl,
            lambda x, i: (
                x - ((F.lit(s * 131 + c * 37) + i * 17) % 1000 - 500)
            ),
        )
        return F.aggregate(
            F.transform(diffs, lambda d: F.coalesce(d * d, F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return F.least(*[dist(c) * 4 + F.lit(c) for c in range(_PQ_CODEBOOK)])


@query(
    "sim_pq_assign",
    oracle=f"""
    WITH xq AS (
        SELECT vec_id, t.j AS j,
               CAST(floor(CAST(embedding[CAST(t.j AS INT) + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS q,
               t.j // {_PQ_SUBDIM} AS s, t.j % {_PQ_SUBDIM} AS jj
        FROM embeddings, range(0, {_PQ_SUBSPACES * _PQ_SUBDIM}) t(j)
    ),
    dist AS (
        SELECT vec_id, s, cs.c AS c,
               sum((q - (((s * 131 + cs.c * 37 + jj * 17) % 1000) - 500))
                   * (q - (((s * 131 + cs.c * 37 + jj * 17) % 1000) - 500))) AS d
        FROM xq CROSS JOIN (VALUES (0), (1), (2), (3)) cs(c)
        GROUP BY vec_id, s, cs.c
    ),
    best AS (
        SELECT vec_id, s, min(d * 4 + c) AS k FROM dist GROUP BY vec_id, s
    )
    SELECT vec_id,
           CAST(sum((k % 4) * (CAST(1 AS BIGINT) << CAST(2 * s AS INT))) AS BIGINT)
               AS pq_code,
           CAST(sum(k // 4) AS BIGINT) AS q_err
    FROM best GROUP BY vec_id
    """,
)
def sim_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: the 64-dim embedding splits into 4
    subspaces of 16 dims; each subspace snaps to its nearest of 4
    deterministic codebook centroids (formula-derived, so both engines
    share the codebook without literals); the 4 two-bit codes pack into
    one byte plus the total squared reconstruction error. Vectors
    quantize to integers (floor(x*1000)) first, so every distance is
    exact BIGINT math — the argmin is tie-stable by construction
    (min over d*4+c packs the centroid index as the tiebreak).

    Scale: the Spark plan is SHUFFLE-FREE — slices, per-element centroid
    distances, and the packed argmin all run as transform/aggregate
    higher-order expressions inside whole-stage codegen, one narrow map
    over the corpus (the oracle's explode+regroup form is the same math,
    written for DuckDB's benefit). PQ-encode is the corpus-side build
    stage of an IVF-PQ ANN index: 256 bytes of float32 become 1 byte."""
    vecs = _quantized(io.load_table(spark, sf_dir, "embeddings"))
    with_keys = vecs.select(
        "vec_id",
        *[_pq_subspace_key(s).alias(f"k{s}") for s in range(_PQ_SUBSPACES)],
    )
    code = sum(
        ((F.col(f"k{s}") % 4) * F.lit(1 << (2 * s))) for s in range(_PQ_SUBSPACES)
    )
    err = sum(
        F.expr(f"k{s} DIV 4") for s in range(_PQ_SUBSPACES)
    )
    return with_keys.select(
        "vec_id",
        code.cast("long").alias("pq_code"),
        err.cast("long").alias("q_err"),
    )


# ---------------------------------------------------------------------------
# sim_ivfpq_search

_IVFPQ_COARSE_K = 8
_IVFPQ_QUERIES = 5
_IVFPQ_SHORTLIST = 10
_IVFPQ_TOPK = 5

_XQ_SQL = f"""
    xq AS (
        SELECT vec_id, t.j AS j,
               CAST(floor(CAST(embedding[CAST(t.j AS INT) + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS q,
               t.j // {_PQ_SUBDIM} AS s, t.j % {_PQ_SUBDIM} AS jj
        FROM embeddings, range(0, {_PQ_SUBSPACES * _PQ_SUBDIM}) t(j)
    )
"""


# shared CTE chain for the IVF-PQ oracle (search + recall measurement)
_IVFPQ_CTES = f"""
    WITH {_XQ_SQL},
    coarse AS (
        SELECT vec_id, ks.k AS k,
               sum((q - (((ks.k * 257 + j * 41) % 1000) - 500))
                   * (q - (((ks.k * 257 + j * 41) % 1000) - 500))) AS d
        FROM xq CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) ks(k)
        GROUP BY vec_id, ks.k
    ),
    cellof AS (
        SELECT vec_id, min(d * 8 + k) % 8 AS cell FROM coarse GROUP BY vec_id
    ),
    dist4 AS (
        SELECT vec_id, s, cs.c AS c,
               sum((q - (((s * 131 + cs.c * 37 + jj * 17) % 1000) - 500))
                   * (q - (((s * 131 + cs.c * 37 + jj * 17) % 1000) - 500))) AS d
        FROM xq CROSS JOIN (VALUES (0),(1),(2),(3)) cs(c)
        GROUP BY vec_id, s, cs.c
    ),
    codes AS (
        SELECT vec_id, s, min(d * 4 + c) % 4 AS c FROM dist4 GROUP BY vec_id, s
    ),
    qs AS (
        SELECT vec_id AS query_id, cell FROM cellof
        WHERE vec_id < {_IVFPQ_QUERIES}
    ),
    cand AS (
        SELECT qu.query_id, co.vec_id AS neighbor_id
        FROM cellof co JOIN qs qu ON co.cell = qu.cell
        WHERE co.vec_id <> qu.query_id
    ),
    adc AS (
        SELECT ca.query_id, ca.neighbor_id,
               sum((x.q - (((x.s * 131 + cd.c * 37 + x.jj * 17) % 1000) - 500))
                   * (x.q - (((x.s * 131 + cd.c * 37 + x.jj * 17) % 1000) - 500)))
                   AS adist
        FROM cand ca
        JOIN xq x ON x.vec_id = ca.query_id
        JOIN codes cd ON cd.vec_id = ca.neighbor_id AND cd.s = x.s
        GROUP BY ca.query_id, ca.neighbor_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
            FROM adc)
        WHERE rn <= {_IVFPQ_SHORTLIST}
    ),
    exact AS (
        SELECT sh.query_id, sh.neighbor_id,
               sum((a.q - b.q) * (a.q - b.q)) AS dist
        FROM short sh
        JOIN xq a ON a.vec_id = sh.query_id
        JOIN xq b ON b.vec_id = sh.neighbor_id AND b.j = a.j
        GROUP BY sh.query_id, sh.neighbor_id
    )
"""


@query(
    "sim_ivfpq_search",
    oracle=f"""
    {_IVFPQ_CTES}
    -- outer CAST: exact.dist is an uncast sum() -> DuckDB HUGEINT, which
    -- hash-diverges from Spark's LONG through the driver's Arrow path
    SELECT query_id, neighbor_id, CAST(dist AS BIGINT) AS dist FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
        FROM exact)
    WHERE rn <= {_IVFPQ_TOPK}
    """,
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search, the industry-standard billion-scale ANN pipeline,
    end to end: a coarse quantizer (8 formula-derived centroids) buckets
    the corpus into cells; each vector also carries its PQ code (the
    sim_pq_assign encoder); a query probes its own cell, scores every
    candidate by ADC (asymmetric distance: exact query subvector vs the
    candidate's codebook centroid — a table lookup at deployment),
    shortlists the best {_IVFPQ_SHORTLIST} and exact-re-ranks to the final
    top {_IVFPQ_TOPK}. Everything runs in the floor(x*1000) integer domain,
    so distances, argmins, and both rank boundaries are bit-deterministic
    and the key carries a full value-hash oracle.

    Scale shape: cell assignment and PQ encode are narrow per-row
    expressions (zero shuffle, see sim_pq_assign); the query side is tiny
    and broadcast; candidates form ONLY via the cell equi-join (nprobe=1
    here; more probes = more cell keys per query, same dataflow); ADC and
    the exact re-rank touch |cell| and {_IVFPQ_SHORTLIST} rows per query
    respectively. Rank<=k steps are WindowGroupLimit (partial top-k)."""
    return _ivfpq_topk(spark, sf_dir, nprobe=1)


def _ivfpq_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The IVF-PQ search pipeline with ``nprobe`` probed cells per query
    (the recall/cost knob: more probes = more cell keys on the tiny query
    side, identical dataflow)."""
    return _ivfpq_stage_frames(spark, sf_dir, nprobe)["final"]


def _ivfpq_stage_frames(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> dict[str, DataFrame]:
    """Every intermediate stage of the IVF-PQ pipeline as a named frame —
    the search keys return only ``final``; sim_ivfpq_stages checksums each
    stage so a driver-side hash divergence localizes to the stage that
    produced it instead of burning a round window per blind guess."""
    vecs = _quantized(io.load_table(spark, sf_dir, "embeddings"))

    def coarse_dist(k: int):
        diffs = F.transform(
            "q",
            lambda x, i: (x - ((F.lit(k * 257) + i * 41) % 1000 - 500)),
        )
        return F.aggregate(
            F.transform(diffs, lambda d: F.coalesce(d * d, F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    packed = F.array_sort(
        F.array(
            *[coarse_dist(k) * 8 + F.lit(k) for k in range(_IVFPQ_COARSE_K)]
        )
    )
    corpus = vecs.select(
        "vec_id",
        "q",
        (F.element_at(packed, 1) % 8).alias("cell"),
        *[
            (_pq_subspace_key(s) % 4).alias(f"c{s}")
            for s in range(_PQ_SUBSPACES)
        ],
    )
    qs = (
        vecs.filter(F.col("vec_id") < _IVFPQ_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("yq"),
            F.explode(F.slice(packed, 1, nprobe)).alias("pk"),
        )
        .select("query_id", "yq", (F.col("pk") % 8).alias("cell"))
    )
    cand = corpus.join(F.broadcast(qs), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def adc_dist(s: int):
        sl = F.slice("yq", _PQ_SUBDIM * s + 1, _PQ_SUBDIM)
        diffs = F.transform(
            sl,
            lambda y, i: (
                y
                - (
                    (F.lit(s * 131) + F.col(f"c{s}") * 37 + i * 17) % 1000
                    - 500
                )
            ),
        )
        return F.aggregate(
            F.transform(diffs, lambda d: F.coalesce(d * d, F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    adist = sum(adc_dist(s) for s in range(_PQ_SUBSPACES))
    w_short = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    # shortlist width scales with nprobe — a fixed width dilutes under a
    # larger candidate pool (2-bit PQ codes rank coarsely, so true
    # neighbors get crowded out; measured 0.08 -> 0.04 before scaling)
    short = (
        cand.select("query_id", "yq", F.col("vec_id"), "q", *[f"c{s}" for s in range(_PQ_SUBSPACES)])
        .withColumn("adist", adist)
        .withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _IVFPQ_SHORTLIST * nprobe)
    )
    dist = F.aggregate(
        F.zip_with(
            "yq", "q", lambda a, b: F.coalesce((a - b) * (a - b), F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_final = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    final = (
        short.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= _IVFPQ_TOPK)
        .select("query_id", "neighbor_id", "dist")
    )
    return {
        "corpus": corpus,
        "qs": qs,
        "cand": cand,
        "short": short,
        "final": final,
    }


# probe-3 variant of the oracle chain (reuses xq/coarse/cellof/codes)
_IVFPQ_P3_CTES = f"""
    cellrank AS (
        SELECT vec_id, k, row_number() OVER (
            PARTITION BY vec_id ORDER BY d, k) AS rk
        FROM coarse
    ),
    qs3 AS (
        SELECT vec_id AS query_id, k AS cell FROM cellrank
        WHERE vec_id < {_IVFPQ_QUERIES} AND rk <= 3
    ),
    cand3 AS (
        SELECT qu.query_id, co.vec_id AS neighbor_id
        FROM cellof co JOIN qs3 qu ON co.cell = qu.cell
        WHERE co.vec_id <> qu.query_id
    ),
    adc3 AS (
        SELECT ca.query_id, ca.neighbor_id,
               sum((x.q - (((x.s * 131 + cd.c * 37 + x.jj * 17) % 1000) - 500))
                   * (x.q - (((x.s * 131 + cd.c * 37 + x.jj * 17) % 1000) - 500)))
                   AS adist
        FROM cand3 ca
        JOIN xq x ON x.vec_id = ca.query_id
        JOIN codes cd ON cd.vec_id = ca.neighbor_id AND cd.s = x.s
        GROUP BY ca.query_id, ca.neighbor_id
    ),
    short3 AS (
        -- shortlist scales with nprobe: a fixed-width shortlist DILUTES
        -- under more candidates (measured: recall went 0.08 -> 0.04)
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
            FROM adc3)
        WHERE rn <= {_IVFPQ_SHORTLIST * 3}
    ),
    exact3 AS (
        SELECT sh.query_id, sh.neighbor_id,
               sum((a.q - b.q) * (a.q - b.q)) AS dist
        FROM short3 sh
        JOIN xq a ON a.vec_id = sh.query_id
        JOIN xq b ON b.vec_id = sh.neighbor_id AND b.j = a.j
        GROUP BY sh.query_id, sh.neighbor_id
    )
"""


@query(
    "sim_ivfpq_probe3",
    oracle=f"""
    {_IVFPQ_CTES},
    {_IVFPQ_P3_CTES}
    SELECT query_id, neighbor_id, CAST(dist AS BIGINT) AS dist FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
        FROM exact3)
    WHERE rn <= {_IVFPQ_TOPK}
    """,
)
def sim_ivfpq_probe3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search at nprobe=3: each query probes its 3 nearest coarse
    cells instead of 1 — the standard recall/cost knob, exercised so the
    measured recall ladder (sim_ivfpq_recall) shows the knob working.
    Same dataflow as sim_ivfpq_search: only the tiny broadcast query side
    grows (3 cell keys per query); the corpus plan is untouched."""
    return _ivfpq_topk(spark, sf_dir, nprobe=3)


@query(
    "sim_ivfpq_stages",
    oracle=f"""
    {_IVFPQ_CTES},
    shortd AS (
        SELECT query_id, neighbor_id, adist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
            FROM adc)
        WHERE rn <= {_IVFPQ_SHORTLIST}
    ),
    finald AS (
        SELECT query_id, neighbor_id, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
            FROM exact)
        WHERE rn <= {_IVFPQ_TOPK}
    ),
    cells_ck AS (
        SELECT CAST(sum(cell * (vec_id % 97 + 1)) AS BIGINT) AS cells_sum
        FROM cellof
    ),
    codes_ck AS (
        SELECT CAST(sum(c * (CAST(1 AS BIGINT) << CAST(2 * s AS INT))
                        * (vec_id % 89 + 1)) AS BIGINT) AS codes_sum
        FROM codes
    ),
    cand_ck AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cand,
               CAST(sum(query_id * 131071 + neighbor_id) AS BIGINT) AS cand_sum
        FROM cand
    ),
    short_ck AS (
        SELECT CAST(sum(query_id * 131071 + neighbor_id) AS BIGINT)
                   AS short_sum,
               CAST(sum(adist) AS BIGINT) AS adist_sum
        FROM shortd
    ),
    final_ck AS (
        SELECT CAST(sum(query_id * 131071 + neighbor_id) AS BIGINT)
                   AS final_sum,
               CAST(sum(dist) AS BIGINT) AS dist_sum
        FROM finald
    )
    SELECT a.cells_sum, b.codes_sum, c.n_cand, c.cand_sum,
           d.short_sum, d.adist_sum, e.final_sum, e.dist_sum
    FROM cells_ck a, codes_ck b, cand_ck c, short_ck d, final_ck e
    """,
)
def sim_ivfpq_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-decomposed IVF-PQ diagnostic (one row of BIGINT checksums):
    coarse cell assignment, PQ codes, candidate set, ADC shortlist, and
    final re-rank each reduce to a position-weighted sum. sim_ivfpq_search
    hash-failed at the r4 driver while passing every local battery, with
    no stage attribution — this key makes the NEXT divergence name its
    stage: whichever checksum column mismatches is the first divergent
    stage (all-BIGINT math, so any mismatch is semantic, not noise)."""
    st = _ivfpq_stage_frames(spark, sf_dir, nprobe=1)
    cells = st["corpus"].agg(
        F.sum(F.col("cell") * (F.col("vec_id") % 97 + 1))
        .cast("long")
        .alias("cells_sum")
    )
    code_weighted = sum(
        F.col(f"c{s}") * F.lit(1 << (2 * s)) for s in range(_PQ_SUBSPACES)
    )
    codes = st["corpus"].agg(
        F.sum(code_weighted * (F.col("vec_id") % 89 + 1))
        .cast("long")
        .alias("codes_sum")
    )
    pair_ck = F.col("query_id") * 131071 + F.col("vec_id")
    cand = st["cand"].agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(pair_ck).cast("long").alias("cand_sum"),
    )
    short = st["short"].agg(
        F.sum(pair_ck).cast("long").alias("short_sum"),
        F.sum("adist").cast("long").alias("adist_sum"),
    )
    final = st["final"].agg(
        F.sum(F.col("query_id") * 131071 + F.col("neighbor_id"))
        .cast("long")
        .alias("final_sum"),
        F.sum("dist").cast("long").alias("dist_sum"),
    )
    out = cells
    for single in (codes, cand, short, final):
        out = out.crossJoin(F.broadcast(single))
    return out


# ---------------------------------------------------------------------------
# curation_skyline

@query(
    "curation_skyline",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) AS n_unique,
               length(text) AS n_chars
        FROM documents
    )
    SELECT a.doc_id, a.lang, a.n_unique, a.n_chars
    FROM m a
    WHERE NOT EXISTS (
        SELECT 1 FROM m b
        WHERE b.lang = a.lang
          AND b.n_unique >= a.n_unique AND -b.n_chars >= -a.n_chars
          AND (b.n_unique > a.n_unique OR -b.n_chars > -a.n_chars)
    )
    """,
)
def curation_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pareto frontier (skyline) of documents on vocabulary
    richness (distinct-token count, maximize) vs brevity (character
    count, minimize) — the docs no other same-language doc beats on both
    axes, i.e. the information-dense exemplars a curation pass keeps.

    Scale shape (the oracle's NOT EXISTS is the spec, not the plan): one
    keyed groupBy (lang, n_unique) -> max brevity per group, then the
    dominance scan runs over DISTINCT metric values only (a window keyed
    by lang whose partition size is bounded by the metric's cardinality,
    not the corpus), and survivors join back corpus-side. Docs tied on
    both metrics all survive (dominance requires strict inequality
    somewhere)."""
    from hh_rumors_presto_spark.operators.skyline import skyline_2d

    docs = io.load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        "lang",
        F.size(F.array_distinct(F.split("text", " "))).alias("n_unique"),
        F.length("text").alias("n_chars"),
    )
    return skyline_2d(m, ["lang"], "n_unique", "n_chars").select(
        "doc_id", "lang", "n_unique", "n_chars"
    )


# ---------------------------------------------------------------------------
# ts_multires_rollup

@query(
    "ts_multires_rollup",
    oracle="""
    WITH fine AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               count(*) AS n, sum(CAST(value AS DECIMAL(28,10))) AS tot
        FROM events GROUP BY 1, 2
    ),
    coarse AS (
        -- recomputed from RAW here on purpose: equality with Spark's
        -- merge-of-partials proves merge == recompute
        SELECT event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
               count(*) AS n, sum(CAST(value AS DECIMAL(28,10))) AS tot
        FROM events GROUP BY 1, 2
    )
    SELECT '1h' AS resolution, event_type, bucket,
           CAST(n AS BIGINT) AS n, CAST(round(tot, 2) AS DOUBLE) AS total
    FROM fine
    UNION ALL
    SELECT '1d', event_type, bucket,
           CAST(n AS BIGINT), CAST(round(tot, 2) AS DOUBLE)
    FROM coarse
    """,
)
def ts_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    shape): hourly partials per event type, with the DAILY level derived
    by MERGING the hourly partial states — count-sum pairs in exact
    DECIMAL, so merge-of-partials is bit-equal to recomputing from raw
    (which is exactly what the oracle does).

    Scale: raw data is aggregated once (one shuffle to the fine key);
    every coarser resolution re-aggregates the previous level's partials
    — |fine buckets| rows, not the corpus — which is how a maintained
    rollup ladder (1h -> 1d -> 1mo) stays O(buckets) per refresh."""
    ev = io.load_events(spark, sf_dir)
    fine = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("value"), 10)).alias("tot"),
    )
    coarse = fine.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("tot").alias("tot"))

    def level(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("resolution"),
            "event_type",
            "bucket",
            F.col("n").cast("long").alias("n"),
            F.round("tot", 2).cast("double").alias("total"),
        )

    return level(fine, "1h").unionAll(level(coarse, "1d"))


# ---------------------------------------------------------------------------
# emb_random_projection

@query(
    "emb_random_projection",
    oracle=f"""
    WITH {_XQ_SQL}
    SELECT vec_id, ks.k AS dim,
           CAST(sum(q * (CASE WHEN (ks.k * 37 + j * 101) % 2 = 0
                              THEN 1 ELSE -1 END)) AS BIGINT) AS proj
    FROM xq CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),
                               (8),(9),(10),(11),(12),(13),(14),(15)) ks(k)
    GROUP BY vec_id, ks.k
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 16 with a
    sign (+1/-1) projection matrix derived from a parity formula — the
    database-friendly JL variant (Achlioptas): no dense float matrix to
    ship, every output coordinate is a signed sum of the quantized input
    coordinates, all BIGINT-exact. This is the standard pre-step that
    makes downstream LSH/clustering cheaper at corpus scale (16 ints per
    vector instead of 64 floats).

    Scale: the Spark side is shuffle-free — 16 aggregate() higher-order
    expressions per row, one narrow map over the corpus (the oracle's
    explode+regroup is the same sum written for DuckDB); long output
    format (vec_id, dim, proj) keeps the driver-facing schema scalar."""
    vecs = _quantized(io.load_table(spark, sf_dir, "embeddings"))

    def proj(k: int):
        signed = F.transform(
            "q",
            lambda x, i: F.when(
                (F.lit(k * 37) + i * 101) % 2 == 0, x
            ).otherwise(-x),
        )
        return F.aggregate(
            signed, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    projected = vecs.select(
        "vec_id", *[proj(k).alias(f"p{k}") for k in range(16)]
    )
    dims = F.array(*[F.col(f"p{k}") for k in range(16)])
    return projected.select(
        "vec_id", F.posexplode(dims).alias("dim", "proj")
    ).select("vec_id", "dim", F.col("proj").cast("long").alias("proj"))


# ---------------------------------------------------------------------------
# sim_ivfpq_recall

@query(
    "sim_ivfpq_recall",
    oracle=f"""
    {_IVFPQ_CTES},
    {_IVFPQ_P3_CTES},
    approx1 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
            FROM exact)
        WHERE rn <= {_IVFPQ_TOPK}
    ),
    approx3 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
            FROM exact3)
        WHERE rn <= {_IVFPQ_TOPK}
    ),
    alldist AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               sum((a.q - b.q) * (a.q - b.q)) AS dist
        FROM xq a JOIN xq b ON b.j = a.j AND b.vec_id <> a.vec_id
        WHERE a.vec_id < {_IVFPQ_QUERIES}
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
            FROM alldist)
        WHERE rn <= {_IVFPQ_TOPK}
    )
    SELECT 'nprobe1' AS method, t.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(a.neighbor_id) AS DOUBLE) / {_IVFPQ_TOPK} AS recall
    FROM truth t
    LEFT JOIN approx1 a ON a.query_id = t.query_id
                       AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    UNION ALL
    SELECT 'nprobe3', t.query_id,
           CAST(count(a.neighbor_id) AS BIGINT),
           CAST(count(a.neighbor_id) AS DOUBLE) / {_IVFPQ_TOPK}
    FROM truth t
    LEFT JOIN approx3 a ON a.query_id = t.query_id
                       AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@{_IVFPQ_TOPK} of the IVF-PQ path against the exact
    integer-distance top-{_IVFPQ_TOPK}, at BOTH probe settings — the third
    pinned quality floor (beside sim_ann_recall for LSH and
    dedup_minhash_recall for minhash), shaped as a ladder so the nprobe
    knob's effect is itself an oracle-checked number: any change to the
    coarse quantizer, codebook, shortlist width, or probe logic that
    silently degrades results fails correctness, per query per setting.

    Scale: the exact side is the brute-force baseline a deployment runs
    on a query SAMPLE to monitor its index; the approx sides are the
    production paths unchanged."""
    vecs = _quantized(io.load_table(spark, sf_dir, "embeddings"))
    qs = vecs.filter(F.col("vec_id") < _IVFPQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("yq")
    )
    dist = F.aggregate(
        F.zip_with(
            "yq", "q", lambda a, b: F.coalesce((a - b) * (a - b), F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    truth = (
        vecs.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVFPQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    def scored(method: str, approx: DataFrame) -> DataFrame:
        return (
            truth.join(
                approx.select("query_id", "neighbor_id").withColumn(
                    "hit", F.lit(1)
                ),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count("hit").cast("long").alias("n_hits"),
                (F.count("hit").cast("double") / _IVFPQ_TOPK).alias("recall"),
            )
            .select(F.lit(method).alias("method"), "query_id", "n_hits", "recall")
        )

    return scored("nprobe1", sim_ivfpq_search(spark, sf_dir)).unionAll(
        scored("nprobe3", sim_ivfpq_probe3(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# ts_interval_coverage

@query(
    "ts_interval_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + (event_id % 50 + 1) * 1000000 AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM flagged
    ),
    per_island AS (
        SELECT user_id, island, max(e) - min(s) AS len
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS covered_us,
           CAST(count(*) AS BIGINT) AS n_islands
    FROM per_island GROUP BY user_id
    """,
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (total covered
    time, e.g. actual active seconds under overlapping sessions) — the
    classic sweep-line, expressed as two keyed windows: a row opens a new
    island iff its start exceeds the running max end of all earlier
    intervals; islands then reduce to max(end)-min(start). All integer
    microseconds, exact in both engines.

    Scale: both windows are keyed by user (state = one running max), the
    island reduction is a hash aggregate — no self-join over intervals,
    which is the naive O(n^2) formulation this replaces."""
    ev = io.load_events(spark, sf_dir)
    s = F.unix_micros("ts")
    e = s + (F.col("event_id") % 50 + 1) * 1000000
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    return (
        islands.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("len"))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("covered_us"),
            F.count("*").cast("long").alias("n_islands"),
        )
    )


# ---------------------------------------------------------------------------
# ts_peak_concurrency

@query(
    "ts_peak_concurrency",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + (event_id % 50 + 1) * 1000000 AS e
        FROM events
    ),
    pts AS (
        SELECT user_id, s AS t, 1 AS delta, 0 AS closing, event_id FROM iv
        UNION ALL
        SELECT user_id, e, -1, 1, event_id FROM iv
    ),
    run AS (
        SELECT user_id,
               sum(delta) OVER (
                   PARTITION BY user_id
                   ORDER BY t, closing, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS open_now
        FROM pts
    )
    SELECT user_id, CAST(max(open_now) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY user_id
    """,
)
def ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per user over the same interval set as
    ts_interval_coverage: each interval contributes a +1 at its start
    and a -1 at its end, the keyed running sum is the number open at
    each boundary, and its max is the peak. The tie order (t, closing,
    event_id) is a total order that processes starts BEFORE ends at the
    same instant — [a,b] and [b,c] count as 2 concurrent at b, the
    inclusive-bounds convention, applied identically in both engines.

    Scale: the sweep is one keyed window over 2x the interval count with
    constant state — the standard max-overlap shape (room scheduling,
    session concurrency, connection peaks)."""
    ev = io.load_events(spark, sf_dir)
    s = F.unix_micros("ts")
    e = s + (F.col("event_id") % 50 + 1) * 1000000
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    pts = iv.select(
        "user_id",
        F.col("s").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(0).alias("closing"),
        "event_id",
    ).unionAll(
        iv.select(
            "user_id",
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            F.lit(1).alias("closing"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "closing", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.select(
        "user_id", F.sum("delta").over(w).alias("open_now")
    )
    return run.groupBy("user_id").agg(
        F.max("open_now").cast("long").alias("peak_concurrency")
    )


# ---------------------------------------------------------------------------
# ts_downsample_ltob — largest-triangle downsampling for visualization

_LTOB_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour buckets


@query(
    "ts_downsample_ltob",
    oracle=f"""
    WITH base AS (
        SELECT event_type AS series, event_id, value,
               CAST(ts AS TIMESTAMP) AS ts,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               epoch_us(CAST(ts AS TIMESTAMP)) // {_LTOB_BUCKET_US} AS bucket
        FROM events
    ),
    stats AS (
        SELECT series, bucket,
               count(*) AS n,
               CAST(sum(us) AS DOUBLE) / count(*) AS mx,
               CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                   / count(*) AS my
        FROM base GROUP BY series, bucket
    ),
    anchored AS (
        SELECT series, bucket,
               lag(mx)  OVER w AS xl, lag(my)  OVER w AS yl,
               lead(mx) OVER w AS xr, lead(my) OVER w AS yr
        FROM stats
        WINDOW w AS (PARTITION BY series ORDER BY bucket)
    ),
    scored AS (
        SELECT b.series, b.bucket, b.event_id, b.ts, b.value, b.us,
               a.xl IS NOT NULL AND a.xr IS NOT NULL AS mid,
               a.xl IS NOT NULL AS has_prev,
               CASE WHEN a.xl IS NOT NULL AND a.xr IS NOT NULL THEN
                   abs((a.xl - a.xr) * (b.value - a.yl)
                       - (a.xl - b.us) * (a.yr - a.yl))
               END AS area2
        FROM base b JOIN anchored a
          ON b.series = a.series AND b.bucket = a.bucket
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY series, bucket
                   ORDER BY area2 DESC, event_id) AS rn_mid,
               row_number() OVER (PARTITION BY series, bucket
                   ORDER BY us, event_id) AS rn_first,
               row_number() OVER (PARTITION BY series, bucket
                   ORDER BY us DESC, event_id DESC) AS rn_last
        FROM scored
    )
    SELECT series, bucket, event_id, ts, value
    FROM ranked
    WHERE CASE WHEN mid THEN rn_mid
               WHEN has_prev THEN rn_last
               ELSE rn_first END = 1
    """,
)
def ts_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle downsampling (the LTOB member of the LTTB family,
    arXiv "Downsampling Time Series for Visual Representation", Steinarsson
    2013): render-reduce each series to ONE visually-dominant point per
    time bucket — the point forming the largest triangle against the
    neighboring buckets' mean anchors, so peaks and troughs survive where
    naive bucket-means would flatten them. Classic LTTB chains the
    selection sequentially (bucket i's choice depends on i-1's); the LTOB
    variant anchors on FIXED bucket means, which keeps every bucket's
    argmax independent — embarrassingly parallel, one keyed window pass,
    and exactly expressible in batch SQL for the oracle. Edge buckets
    keep their extreme raw point (the first/last-point retention of the
    family).

    Determinism: the selection compares DOUBLE triangle areas, but both
    engines compute them with the IDENTICAL expression tree over
    identical inputs (integer micros; bucket means from exact BIGINT /
    DECIMAL sums) — same IEEE ops, same bits — and ties break on
    event_id. The OUTPUT carries only raw columns (ts, value), so the
    key is bit-exact by construction.

    Scale: stats is |series x buckets| rows (tiny — broadcast); the raw
    scan joins it once and one window pass per bucket picks the point.
    Reducing 1B points to a 2k-bucket sparkline is one shuffle on
    (series, bucket) with map-side pre-aggregation for the stats leg."""
    ev = io.load_events(spark, sf_dir)
    base = ev.select(
        F.col("event_type").alias("series"),
        "event_id",
        "value",
        "ts",
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") / F.lit(_LTOB_BUCKET_US))
        .cast("long")
        .alias("bucket"),
    )
    stats = base.groupBy("series", "bucket").agg(
        F.count("*").alias("n"),
        (F.sum("us").cast("double") / F.count("*")).alias("mx"),
        (
            F.sum(dec(F.col("value"), 10)).cast("double")
            / F.count("*")
        ).alias("my"),
    )
    w = Window.partitionBy("series").orderBy("bucket")
    anchored = stats.select(
        "series",
        "bucket",
        F.lag("mx").over(w).alias("xl"),
        F.lag("my").over(w).alias("yl"),
        F.lead("mx").over(w).alias("xr"),
        F.lead("my").over(w).alias("yr"),
    )
    j = base.join(F.broadcast(anchored), ["series", "bucket"])
    mid = F.col("xl").isNotNull() & F.col("xr").isNotNull()
    area2 = F.when(
        mid,
        F.abs(
            (F.col("xl") - F.col("xr")) * (F.col("value") - F.col("yl"))
            - (F.col("xl") - F.col("us")) * (F.col("yr") - F.col("yl"))
        ),
    )
    scored = j.select(
        "series",
        "bucket",
        "event_id",
        "ts",
        "value",
        "us",
        mid.alias("mid"),
        F.col("xl").isNotNull().alias("has_prev"),
        area2.alias("area2"),
    )
    wb = Window.partitionBy("series", "bucket")
    ranked = scored.select(
        "*",
        F.row_number()
        .over(wb.orderBy(F.col("area2").desc(), "event_id"))
        .alias("rn_mid"),
        F.row_number()
        .over(wb.orderBy("us", "event_id"))
        .alias("rn_first"),
        F.row_number()
        .over(wb.orderBy(F.col("us").desc(), F.col("event_id").desc()))
        .alias("rn_last"),
    )
    pick = (
        F.when(F.col("mid"), F.col("rn_mid"))
        .when(F.col("has_prev"), F.col("rn_last"))
        .otherwise(F.col("rn_first"))
    )
    return ranked.filter(pick == 1).select(
        "series", "bucket", "event_id", "ts", "value"
    )
