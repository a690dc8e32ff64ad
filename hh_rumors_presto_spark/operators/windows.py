"""Window-function operators: forward-fill and per-group top-k."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def forward_fill(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    out_col: str | None = None,
) -> DataFrame:
    """LOCF forward-fill: classic last-non-null over an unbounded-preceding
    rows frame. Generalizes the reference's mutable ``currentDateISO``
    carried through the document-order loop (fetchRumors.js:87,96-100).
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col or col, F.last(col, ignorenulls=True).over(w))


def per_group_top_k(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group (generalizes the per-page cap 80 / per-tag cap
    150, fetchRumors.js:119,148). ``order_by`` must be a total order.

    Planned as a single shuffle on the group key; Spark's WindowExec applies
    a per-partition sort — no global sort, no driver collect.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def bucketed_rank_cumsum(
    df: DataFrame,
    order_key: str,
    tiebreak: str,
    value_col: str | None = None,
    n_buckets: int = 32,
    rank_col: str = "rk",
    cum_col: str = "cum",
) -> DataFrame:
    """Exact global rank + running sum WITHOUT a single-partition window —
    the bucketed two-pass cumsum that makes entity-grain ordered scans
    (Lorenz curves, quantile ladders, ECDFs) safe at 10^8+ rows.

    Pass 1: assign each row a range bucket via the monotone integer map
        bucket = ((key - lo) * B) div (hi - lo + 1)   in [0, B-1]
    (lo/hi from a 1-row exact min/max aggregate, broadcast). Monotone in
    ``order_key``, so bucket boundaries respect the sort order; the
    ``tiebreak`` column only disambiguates *within* a bucket. Each bucket
    then computes row_number + running sum under
    Window.partitionBy(bucket) — B-way parallel, never SinglePartition.

    Pass 2: aggregate per-bucket row counts and value sums into a B-row
    table, prefix-sum THAT (a window over <= B rows — constant-bounded,
    not data-scaled), and broadcast the offsets back. Global rank/cumsum
    = local + preceding-bucket offset; pure integer arithmetic, so the
    result is bit-identical to the single-partition formulation.

    Also emits ``n`` (total rows) and ``total`` (total value) on every
    row, since the bucket table already holds them for free.

    ``value_col=None`` gives the rank-only form (global row_number /
    ntile replacement): no running sum, no ``cum``/``total`` columns —
    same two-pass shape, one aggregate fewer.

    Preconditions: ``order_key`` must be NON-NULL (a NULL key maps to a
    NULL bucket and the offsets equi-join would drop the row — whereas
    a global window would rank it NULLS FIRST; every consumer either
    filters nulls or derives the key from non-null arithmetic) and
    integral (the bucket map runs exact integral division in
    DECIMAL(38,0), so (key-lo)*B cannot overflow anywhere in the full
    LONG key domain; dates/timestamps convert via datediff/unix_micros
    first).

    Scale: two shuffles (bucket hash, then the B-row agg), no global
    sort, no data-scaled SinglePartition exchange. Equal-width buckets
    can skew on pathological key distributions; swap the bucket map for
    approxQuantile boundaries if a profile shows it — correctness is
    unaffected by bucket balance, only wall-clock.
    """
    # the ONE-ROW bounds table rides a conditionless broadcast join —
    # Catalyst plans it as BroadcastNestedLoopJoin, which against a
    # global aggregate (static maxRows 1) is exactly a broadcast
    # variable and meets tools/explain_audit.py's nested-loop row-bound
    # rule (a constant equi-key doesn't help — Catalyst constant-folds
    # it back to the nested loop)
    bounds = df.agg(
        F.min(order_key).alias("__lo"), F.max(order_key).alias("__hi")
    )
    b = (
        df.join(F.broadcast(bounds))
        .withColumn(
            "__num",
            (
                F.col(order_key).cast("decimal(38,0)")
                - F.col("__lo").cast("decimal(38,0)")
            )
            * F.lit(n_buckets),
        )
        .withColumn(
            "__den",
            (
                F.col("__hi").cast("decimal(38,0)")
                - F.col("__lo").cast("decimal(38,0)")
                + F.lit(1)
            ),
        )
        # exact integral floor-division in DECIMAL(38,0) keeps the
        # bucket map monotone at any key magnitude: (key-lo)*B stays
        # exact even when the key range approaches the full LONG domain,
        # where the former LONG multiply overflowed silently with ANSI
        # off (double division would likewise round near 2^53)
        .withColumn("__bucket", F.expr("__num div __den"))
        .drop("__lo", "__hi", "__num", "__den")
    )
    wl = Window.partitionBy("__bucket").orderBy(order_key, tiebreak)
    local = b.withColumn("__lrk", F.row_number().over(wl))
    if value_col is not None:
        local = local.withColumn(
            "__lcum",
            F.sum(value_col).over(
                wl.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    # B-row bucket summary; the windows below run over <= n_buckets rows
    # (constant-bounded), which is the whole point of the two-pass split.
    # The limit states that bound to Catalyst (a static maxRows, which
    # tools/explain_audit.py's window rule reads); it never cuts a row,
    # since every bucket id lies in [0, n_buckets).
    wb = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wt = Window.partitionBy()
    aggs = [F.count("*").alias("__bcnt")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("__bsum"))
    cols = [
        F.col("__bucket"),
        F.coalesce(F.sum("__bcnt").over(wb), F.lit(0)).alias(
            "__rows_before"
        ),
        F.sum("__bcnt").over(wt).alias("n"),
    ]
    if value_col is not None:
        cols += [
            F.coalesce(F.sum("__bsum").over(wb), F.lit(0)).alias(
                "__sum_before"
            ),
            F.sum("__bsum").over(wt).alias("total"),
        ]
    offsets = b.groupBy("__bucket").agg(*aggs).limit(n_buckets).select(*cols)
    out = local.join(F.broadcast(offsets), "__bucket").withColumn(
        rank_col, F.col("__lrk") + F.col("__rows_before")
    )
    if value_col is not None:
        out = out.withColumn(
            cum_col, F.col("__lcum") + F.col("__sum_before")
        ).drop("__sum_before", "__lcum")
    return out.drop("__bucket", "__lrk", "__rows_before")


def ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """SQL-standard NTILE(k) computed from a global rank + total count —
    the closed form that lets bucketed_rank_cumsum replace
    ``ntile(k) OVER (ORDER BY ...)`` without any single-partition window.

    Standard semantics (Spark and DuckDB agree): the first ``n % k``
    tiles take ``n div k + 1`` rows, the rest ``n div k``. With
    base = n div k, rem = n % k, big = base + 1:

        tile(rk) = (rk-1) div big + 1                     if rk <= rem*big
                   rem + (rk - rem*big - 1) div base + 1  otherwise

    base is 0 only when n < k — and then rem = n, so EVERY row satisfies
    rk <= rem*big and the otherwise-branch never evaluates; its divisor
    is still clamped with greatest(base, 1) so no plan-time or ANSI
    division-by-zero path exists at all.

    Exactness: the divisions are (a - a % b) / b with the numerator
    exactly divisible, so the double route is exact while a < 2^53 —
    the same floor-division envelope tests/test_numeric_envelope.py
    pins for the repo's sub-2^53 rank arithmetic (ranks are entity
    counts; 9e15 entities is orders of magnitude past 100 TB).
    """

    def idiv(a: Column, b: Column) -> Column:
        return ((a - a % b) / b).cast("long")

    base = idiv(n, F.lit(k))
    big = base + 1
    rem = n % k
    cut = rem * big
    safe_base = F.greatest(base, F.lit(1))
    return (
        F.when(rk <= cut, idiv(rk - 1, big) + 1)
        .otherwise(rem + idiv(rk - cut - 1, safe_base) + 1)
        .cast("int")
    )
