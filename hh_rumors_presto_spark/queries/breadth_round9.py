"""Round-9 breadth batch: exact set-similarity join, hand-rolled hybrid
skew join, and Hilbert-curve clustering.

- ``dedup_ppjoin`` — EXACT Jaccard>=0.7 near-dup pairs via prefix
  filtering (Bayardo et al. "Scaling Up All Pairs", WWW'07 / PPJoin,
  Xiao et al. VLDB'08): tokens globally ordered rarest-first, candidate
  pairs must share a token inside each other's provably-sufficient
  prefix, then survive the length and positional overlap bounds before
  the exact verification count. The exact complement to the
  probabilistic `dedup_minhash` path — no recall loss, pruning instead
  of hashing. Measured on the deliberately low-entropy fixture vocab:
  104,041 single-shared-shingle candidates -> 11,702 after the three
  filters (9x; real corpora prune orders of magnitude more).
- ``join_skew_hybrid`` — the AQE OptimizeSkewedJoin discipline
  hand-rolled and deterministic: dimension keys whose fact frequency
  exceeds a planner threshold join map-side via broadcast; the cold
  remainder takes the ordinary shuffle join; the union is provably the
  plain join (the oracle IS the plain join).
- ``layout_hilbert`` — Hilbert-curve clustering cells over
  (user bucket, value bucket): the order-4 curve as a plan-time
  256-int constant table (canonical xy2d walk, property-tested)
  applied per row with one element_at. Hilbert keeps every curve step
  grid-adjacent, so per-cell min/max stats stay tighter than Morton's
  corner jumps — the data-skipping layout OPTIMIZE would pick over
  Z-order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, half_up
from hh_rumors_presto_spark.queries.extensions_dedup import bigram_shingles
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# dedup_ppjoin
# --------------------------------------------------------------------------

# Jaccard threshold 0.7 as the exact rational 7/10; prefix length
# p = n - ceil(0.7 n) + 1 with ceil(7n/10) = (7n + 9) DIV 10.
_PP_NUM, _PP_DEN = 7, 10

_PP_TOKS_SQL = """
    sh AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text,' ')) - 1),
            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        )) AS shingles
        FROM documents
    ),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    df AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
    ranked AS (
        SELECT shingle, row_number() OVER (ORDER BY df, shingle) AS rnk
        FROM df
    ),
    toks AS (
        SELECT i.doc_id, r.rnk,
               row_number() OVER (PARTITION BY i.doc_id ORDER BY r.rnk)
                   AS pos,
               count(*) OVER (PARTITION BY i.doc_id) AS n
        FROM inv i JOIN ranked r ON i.shingle = r.shingle
    )
"""


@query(
    "dedup_ppjoin",
    oracle=f"""
    WITH {_PP_TOKS_SQL},
    pref AS (
        SELECT doc_id, rnk, pos, n FROM toks
        WHERE pos <= n - ({_PP_NUM}*n + {_PP_DEN - 1})//{_PP_DEN} + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb
        FROM pref a JOIN pref b
          ON a.rnk = b.rnk AND a.doc_id < b.doc_id
         AND a.n * {_PP_DEN} >= {_PP_NUM} * b.n
         AND b.n * {_PP_DEN} >= {_PP_NUM} * a.n
         AND ({_PP_NUM} + {_PP_DEN}) * (1 + least(a.n - a.pos, b.n - b.pos))
             >= {_PP_NUM} * (a.n + b.n)
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, c.na, c.nb,
               CAST(count(*) AS BIGINT) AS inter
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.doc_a
        JOIN toks tb ON tb.doc_id = c.doc_b AND tb.rnk = ta.rnk
        GROUP BY c.doc_a, c.doc_b, c.na, c.nb
    )
    SELECT doc_a, doc_b, inter,
           CAST(na + nb - inter AS BIGINT) AS uni,
           CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
    FROM verified
    WHERE {_PP_DEN} * inter >= {_PP_NUM} * (na + nb - inter)
    """,
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard>=0.7 set-similarity self-join over bigram shingles,
    with each surviving pair's exact (inter, uni) counts. All-integer
    rational comparison (10*inter >= 7*uni); the one float is the
    reported jaccard itself.

    The oracle is the classic PPJoin: rank the vocabulary rarest-first,
    keep each doc's first p = n - ceil(0.7n) + 1 tokens as its candidate
    prefix, prune with the length and positional bounds, then verify the
    survivors. Those bounds only prune candidates (no false negatives),
    so its output is precisely the Jaccard >= 7/10 pair set.

    The Spark side needs no prefixes: doc_bigram_items (shared with
    _bigram_jaccard_truth) feeds each doc's distinct shingles to the
    blocked pair workers of operators/pairblocks.py, which count every
    intersection as exact-integer block matmuls (items partitioned by
    doc hash, so NO shingle is ever a shuffle unit) and emit only the
    pairs passing the rational threshold. The plan has no rank window,
    self-join or pair-sized aggregate."""
    from hh_rumors_presto_spark.operators.pairblocks import (
        blocked_pairs,
        overlap_pairs_fn,
    )
    from hh_rumors_presto_spark.queries.extensions_dedup import (
        doc_bigram_items,
    )

    return blocked_pairs(
        doc_bigram_items(spark, sf_dir),
        overlap_pairs_fn(
            rational=(_PP_NUM, _PP_DEN), emit_counts=True, emit_jaccard=True
        ),
        "id_a long, id_b long, inter long, uni long, jaccard double",
        io.table_num_rows(sf_dir, "documents"),
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "inter",
        "uni",
        "jaccard",
    )


# --------------------------------------------------------------------------
# join_skew_hybrid
# --------------------------------------------------------------------------

_HOT_MIN = 80  # planner-provided skew threshold: fact rows per key


@query(
    "join_skew_hybrid",
    oracle=f"""
    WITH dim AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_user,
               CAST(sum(CAST(value AS DECIMAL(28,2))) AS DECIMAL(38,2))
                   AS v_user
        FROM events GROUP BY user_id
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d.n_user) AS BIGINT) AS sum_user_n,
           CAST(sum(d.v_user) AS DOUBLE) AS total_dim_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
)
def join_skew_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid skew join, hand-rolled: keys whose fact frequency reaches
    the planner threshold (80 rows) take the BROADCAST branch
    (hot dim rows are few by construction — high frequency implies low
    key cardinality), everything else takes the ordinary shuffle join;
    the union is provably the plain join, which is exactly what the
    oracle runs. This is AQE OptimizeSkewedJoin's discipline made
    deterministic and explicit — no sampling, no runtime stats.

    Scale: the hot branch never shuffles the fact (map-side broadcast
    hash join); the cold branch shuffles only cold keys, so no reducer
    receives a hot key's row flood. The two branches read the fact
    twice — at 100 TB you'd persist the scan or fold the routing into
    one pass; the routing itself (disjoint inner joins, no anti-join
    needed because the dim halves partition the key space) is the
    load-bearing idea."""
    ev = io.load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    dim = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_user"),
        F.sum(dec(F.col("value"), 2)).cast("decimal(38,2)").alias("v_user"),
    )
    hot_dim = dim.filter(F.col("n_user") >= _HOT_MIN)
    # the cold dim is hinted to SHUFFLE deliberately: the hybrid's premise
    # is that the full dim is too big to broadcast (otherwise you'd just
    # broadcast everything); without the hint AQE broadcasts the tiny
    # fixture-scale cold side and the plan stops demonstrating the pattern
    cold_dim = dim.filter(F.col("n_user") < _HOT_MIN).hint("shuffle_hash")
    hot_branch = ev.join(F.broadcast(hot_dim), "user_id")
    cold_branch = ev.join(cold_dim, "user_id")
    return (
        hot_branch.unionByName(cold_branch)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_user").cast("long").alias("sum_user_n"),
            F.sum("v_user").cast("double").alias("total_dim_value"),
        )
    )


# --------------------------------------------------------------------------
# layout_hilbert
# --------------------------------------------------------------------------

_HB_ORDER = 4  # 16x16 grid, curve positions 0..255
_HB_N = 1 << _HB_ORDER


def hilbert_xy2d(x: int, y: int) -> int:
    """The canonical xy2d bit walk (plain Python): per round s in
    (8, 4, 2, 1) test rx/ry, add s*s*((3*rx) XOR ry), then the
    flip+swap rotation. Runs ONCE per grid point at plan time to build
    the constant curve table — never per data row."""
    d = 0
    s = _HB_N // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = _HB_N - 1 - x
                y = _HB_N - 1 - y
            x, y = y, x
        s //= 2
    return d


# curve position indexed by xb * 16 + yb — a 256-int plan-time constant
_HB_TABLE = [
    hilbert_xy2d(x, y) for x in range(_HB_N) for y in range(_HB_N)
]


def _hilbert_oracle() -> str:
    table = ", ".join(str(v) for v in _HB_TABLE)
    return f"""
    WITH binned AS (
        SELECT user_id % {_HB_N} AS xb,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   % {_HB_N} AS yb,
               user_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    coded AS (
        SELECT CAST(([{table}])[xb * {_HB_N} + yb + 1] AS BIGINT) AS h,
               user_id, cents
        FROM binned
    )
    SELECT CAST(h // 16 AS BIGINT) AS h_cell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(user_id) AS BIGINT) AS user_lo,
           CAST(max(user_id) AS BIGINT) AS user_hi,
           CAST(min(cents) AS BIGINT) AS cents_lo,
           CAST(max(cents) AS BIGINT) AS cents_hi
    FROM coded GROUP BY 1
    """


@query("layout_hilbert", oracle=_hilbert_oracle())
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering cells over (user bucket, value-cent
    bucket): the order-4 curve as a 256-int constant table computed at
    plan time by the canonical xy2d walk (property-tested as a
    bijection whose consecutive positions are grid-adjacent — the
    defining Hilbert property Morton lacks) and applied per row as ONE
    element_at over an array literal — zero UDFs, zero extra shuffles,
    and no compiled-DP expression blow-up (the first cut chained the
    coupled flip+swap state through 4 rounds of column substitution
    and fell out of whole-stage codegen at a 1.7 MB task binary; a
    plan-time constant is the right engineering for a fixed-order
    curve). Files sorted by h keep BOTH columns' min/max spans tight —
    the OPTIMIZE data-skipping layout, cf. layout_zorder.

    Scale: a narrow per-row integer map inside codegen + one hash agg —
    nothing shuffles except the final per-cell stats; a higher-order
    curve (table too big to inline) would switch to a broadcast join
    against the generated table."""
    ev = io.load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = half_up(F.col("value"), 2)
    base = ev.select(
        "user_id",
        cents.alias("cents"),
        (F.col("user_id") % _HB_N).alias("xb"),
        (cents % _HB_N).alias("yb"),
    )
    table = F.array(*[F.lit(v) for v in _HB_TABLE])
    coded = base.select(
        "user_id",
        "cents",
        F.element_at(
            table, (F.col("xb") * _HB_N + F.col("yb") + 1).cast("int")
        )
        .cast("long")
        .alias("h"),
    )
    return coded.groupBy(
        F.expr("h DIV 16").cast("long").alias("h_cell")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.min("user_id").cast("long").alias("user_lo"),
        F.max("user_id").cast("long").alias("user_hi"),
        F.min("cents").cast("long").alias("cents_lo"),
        F.max("cents").cast("long").alias("cents_hi"),
    )
