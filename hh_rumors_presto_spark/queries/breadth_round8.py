"""Round-8 breadth batch: exact distribution testing and a dynamic
program compiled into the expression tree.

- ``dq_ks_test`` — exact two-sample Kolmogorov–Smirnov statistic
  between the 'click' and 'view' value distributions: D = max |F_A −
  F_B| evaluated at every observed point via cumulative-count windows,
  kept in the integer rational |c_A·n_B − c_B·n_A| / (n_A·n_B) so the
  max and its location are exact BIGINT comparisons and the only float
  op is one final division. The drift test a data-quality gate runs
  between two cohorts/snapshots.
- ``ts_dtw_paa`` — dynamic time warping between users' 8-segment PAA
  series, with the ENTIRE 8×8 DP table compiled into the expression
  tree: 64 chained column expressions (cell = cost + least(up, left,
  diag)), generated programmatically for BOTH engines, so the warp
  distance runs inside whole-stage codegen with zero UDFs and zero
  extra shuffles. The standard elastic similarity for series whose
  events are phase-shifted; pairs form only within a user-id block
  (Σ block², never n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# dq_ks_test
# --------------------------------------------------------------------------

_KS_A = "click"
_KS_B = "view"


@query(
    "dq_ks_test",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS xc,
               CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END AS in_b
        FROM events
        WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
    ),
    tot AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
               CAST(sum(in_b) AS BIGINT) AS n_b
        FROM pts
    ),
    cdf AS (
        SELECT xc,
               CAST(sum(sum(in_a)) OVER (ORDER BY xc) AS BIGINT) AS c_a,
               CAST(sum(sum(in_b)) OVER (ORDER BY xc) AS BIGINT) AS c_b
        FROM pts GROUP BY xc
    ),
    gaps AS (
        SELECT c.xc, abs(c.c_a * t.n_b - c.c_b * t.n_a) AS d_scaled,
               t.n_a, t.n_b
        FROM cdf c, tot t
    )
    SELECT n_a, n_b,
           CAST(max(d_scaled) AS BIGINT) AS d_scaled,
           CAST(min(CASE WHEN d_scaled = (SELECT max(d_scaled) FROM gaps)
                         THEN xc END) AS BIGINT) AS at_cents,
           CAST(max(d_scaled) AS DOUBLE) / (n_a * n_b) AS ks
    FROM gaps GROUP BY n_a, n_b
    """,
)
def dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the '{_KS_A}' and '{_KS_B}'
    value distributions: cumulative counts per distinct cent value, the
    sup-gap kept as the integer |c_A·n_B − c_B·n_A| so max and argmax
    (smallest cent value attaining it) are exact; KS itself is the one
    final division. The distribution-drift gate for comparing cohorts,
    snapshots, or train/serve feature streams.

    Scale: one hash agg on the value key + one global running-sum window
    over DISTINCT values (bounded by value cardinality, not row count —
    at 100 TB the distinct-cent domain is what the single partition
    sees; a wider domain switches to the same per-range pre-agg used by
    global_row_number)."""
    ev = io.load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
        & F.col("value").isNotNull()
    )
    pts = ev.select(
        half_up(F.col("value"), 2).alias("xc"),
        (F.col("event_type") == _KS_A).cast("long").alias("in_a"),
        (F.col("event_type") == _KS_B).cast("long").alias("in_b"),
    )
    per_x = pts.groupBy("xc").agg(
        F.sum("in_a").alias("sa"), F.sum("in_b").alias("sb")
    )
    w = Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per_x.select(
        "xc",
        F.sum("sa").over(w).cast("long").alias("c_a"),
        F.sum("sb").over(w).cast("long").alias("c_b"),
    )
    tot = pts.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
    )
    gaps = cdf.crossJoin(F.broadcast(tot)).select(
        "xc",
        "n_a",
        "n_b",
        F.abs(
            F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")
        ).alias("d_scaled"),
    )
    w_all = Window.partitionBy("n_a", "n_b")
    gaps = gaps.withColumn("mx", F.max("d_scaled").over(w_all))
    return gaps.groupBy("n_a", "n_b").agg(
        F.max("d_scaled").cast("long").alias("d_scaled"),
        F.min(F.when(F.col("d_scaled") == F.col("mx"), F.col("xc")))
        .cast("long")
        .alias("at_cents"),
        (
            F.max("d_scaled").cast("double") / (F.col("n_a") * F.col("n_b"))
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# ts_dtw_paa
# --------------------------------------------------------------------------

_DTW_SEGS = 8
_DTW_SEG_LEN = 5
_DTW_BLOCK = 25  # pairs form only within user_id DIV 25 blocks


def _dtw_sql_ctes() -> str:
    """The 8x8 DTW dynamic program as chained SQL expressions: one CTE
    per table row, each cell = cost + least(up, left, diag) referencing
    only the previous CTE's columns — linear text size, no recursion."""
    lines = []
    # costs live in the pairs CTE as c_i_j columns
    prev = "pairs"
    for i in range(1, _DTW_SEGS + 1):
        cells = []
        for j in range(1, _DTW_SEGS + 1):
            if i == 1 and j == 1:
                cells.append(f"c_1_1 AS d_1_1")
            elif i == 1:
                cells.append(f"c_1_{j} + d_1_{j-1} AS d_1_{j}")
            elif j == 1:
                cells.append(f"c_{i}_1 + d_{i-1}_1 AS d_{i}_1")
            else:
                cells.append(
                    f"c_{i}_{j} + least(d_{i-1}_{j}, d_{i}_{j-1},"
                    f" d_{i-1}_{j-1}) AS d_{i}_{j}"
                )
        # row i > 1 needs d_i_{j-1} from the SAME row: chain one CTE per
        # CELL for correctness — simpler: chain per cell
        for cell in cells:
            name = f"t_{len(lines)}"
            lines.append(f"{name} AS (SELECT *, {cell} FROM {prev})")
            prev = name
    return ",\n    ".join(lines), prev


_DTW_CTES, _DTW_LAST = _dtw_sql_ctes()

_DTW_PAIR_COSTS = ",\n               ".join(
    f"abs(a.v{i} - b.v{j}) AS c_{i}_{j}"
    for i in range(1, _DTW_SEGS + 1)
    for j in range(1, _DTW_SEGS + 1)
)

_DTW_VEC_SQL = f"""
    base AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS xc,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t
        FROM events WHERE value IS NOT NULL
    ),
    eligible AS (
        SELECT user_id FROM base GROUP BY user_id
        HAVING count(*) >= {_DTW_SEGS * _DTW_SEG_LEN}
    ),
    seg AS (
        SELECT user_id, (t - 1) // {_DTW_SEG_LEN} AS s,
               CAST(sum(xc) AS BIGINT) AS segsum
        FROM base
        WHERE t <= {_DTW_SEGS * _DTW_SEG_LEN}
          AND user_id IN (SELECT user_id FROM eligible)
        GROUP BY 1, 2
    ),
    vec AS (
        SELECT user_id,
               {", ".join(f"max(CASE WHEN s = {i-1} THEN segsum END) AS v{i}" for i in range(1, _DTW_SEGS + 1))}
        FROM seg GROUP BY user_id
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               {_DTW_PAIR_COSTS}
        FROM vec a JOIN vec b
          ON a.user_id // {_DTW_BLOCK} = b.user_id // {_DTW_BLOCK}
         AND a.user_id < b.user_id
    )
"""


@query(
    "ts_dtw_paa",
    oracle=f"""
    WITH {_DTW_VEC_SQL},
    {_DTW_CTES}
    SELECT user_a, user_b,
           CAST(d_{_DTW_SEGS}_{_DTW_SEGS} AS BIGINT) AS dtw
    FROM {_DTW_LAST}
    """,
)
def ts_dtw_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping over {_DTW_SEGS}-segment PAA series, the DP
    COMPILED INTO THE EXPRESSION TREE: all {_DTW_SEGS}x{_DTW_SEGS} cells
    are chained column expressions (cell = |va_i − vb_j| + least(up,
    left, diag)) generated programmatically for both engines — the warp
    distance evaluates inside whole-stage codegen, zero UDFs, and the
    only shuffles are the PAA build and the block-bounded pair join.
    All-BIGINT (cent-quantized segment sums), so exact cross-engine.

    Scale: pairs form only within user-id blocks of {_DTW_BLOCK}
    (Σ block² pair cost, the same blocking discipline as emb_knn_graph);
    the DP itself is O(1) per pair — 64 integer ops in codegen."""
    ev = io.load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        half_up(F.col("value"), 2).alias("xc"),
        F.row_number().over(wt).alias("t"),
    )
    eligible = (
        base.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _DTW_SEGS * _DTW_SEG_LEN)
        .select("user_id")
    )
    seg = (
        base.filter(F.col("t") <= _DTW_SEGS * _DTW_SEG_LEN)
        .join(F.broadcast(eligible), "user_id", "left_semi")
        .groupBy(
            "user_id", F.expr(f"(t - 1) DIV {_DTW_SEG_LEN}").alias("s")
        )
        .agg(F.sum("xc").cast("long").alias("segsum"))
    )
    vec = seg.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("s") == i - 1, F.col("segsum"))).alias(f"v{i}")
            for i in range(1, _DTW_SEGS + 1)
        ]
    )
    a = vec.select(
        F.col("user_id").alias("user_a"),
        F.expr(f"user_id DIV {_DTW_BLOCK}").alias("blk"),
        *[F.col(f"v{i}").alias(f"a{i}") for i in range(1, _DTW_SEGS + 1)],
    )
    b = vec.select(
        F.col("user_id").alias("user_b"),
        F.expr(f"user_id DIV {_DTW_BLOCK}").alias("blk"),
        *[F.col(f"v{i}").alias(f"b{i}") for i in range(1, _DTW_SEGS + 1)],
    )
    pairs = a.join(b, "blk").filter(F.col("user_a") < F.col("user_b"))
    for i in range(1, _DTW_SEGS + 1):
        for j in range(1, _DTW_SEGS + 1):
            pairs = pairs.withColumn(
                f"c_{i}_{j}", F.abs(F.col(f"a{i}") - F.col(f"b{j}"))
            )
    # the DP, cell by cell in (row, col) order — each cell references
    # only already-defined columns, exactly like the oracle's CTE chain
    for i in range(1, _DTW_SEGS + 1):
        for j in range(1, _DTW_SEGS + 1):
            if i == 1 and j == 1:
                cell = F.col("c_1_1")
            elif i == 1:
                cell = F.col(f"c_1_{j}") + F.col(f"d_1_{j-1}")
            elif j == 1:
                cell = F.col(f"c_{i}_1") + F.col(f"d_{i-1}_1")
            else:
                cell = F.col(f"c_{i}_{j}") + F.least(
                    F.col(f"d_{i-1}_{j}"),
                    F.col(f"d_{i}_{j-1}"),
                    F.col(f"d_{i-1}_{j-1}"),
                )
            pairs = pairs.withColumn(f"d_{i}_{j}", cell)
    return pairs.select(
        "user_a",
        "user_b",
        F.col(f"d_{_DTW_SEGS}_{_DTW_SEGS}").cast("long").alias("dtw"),
    )
